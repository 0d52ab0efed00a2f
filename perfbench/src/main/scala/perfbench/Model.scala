package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import Gen.CowRow

/** In-memory model of one keyed cow table. It replays the same seeded
  * op sequence the benchmark sends to the system, and answers every
  * read the benchmark checks: the live rows at the head, the (count,
  * sum) of every committed snapshot, key lookups and the SQL predicate.
  */
final class CowModel {
  private var live = Map.empty[Long, CowRow]
  private val snapshots = mutable.LinkedHashMap.empty[Long, Map[Long, CowRow]]

  /** Insert-only append: every key must be new. */
  def append(rows: Seq[CowRow]): Unit = rows.foreach { r =>
    require(!live.contains(r.key), s"append of live key ${r.key}")
    live += r.key -> r
  }

  /** Newest-wins upsert. */
  def upsert(rows: Seq[CowRow]): Unit = live ++= rows.map(r => r.key -> r)

  def delete(keys: Seq[Long]): Unit = live --= keys

  /** The head becomes committed snapshot `id`'s content again. */
  def restore(id: Long): Unit = live = snapshots(id)

  /** Records the head as committed snapshot `id`. */
  def commit(id: Long): Unit = snapshots(id) = live

  def aggregate: (Long, Long) = CowModel.aggregate(live)

  /** (count, sum of v) at the newest committed id <= `id`. */
  def aggregateAt(id: Long): (Long, Long) =
    CowModel.aggregate(snapshots.filter(_._1 <= id).maxBy(_._1)._2)

  def committedIds: Seq[Long] = snapshots.keys.toSeq.sorted

  def contains(key: Long): Boolean = live.contains(key)
  def liveKeys: IndexedSeq[Long] = live.keys.toIndexedSeq.sorted
  def rows: Seq[CowRow] = live.values.toSeq

  def lookup(keys: Seq[Long]): Seq[CowRow] =
    keys.distinct.flatMap(live.get).sortBy(_.key)

  /** `SELECT key, v FROM t WHERE part = p AND v < bound`. */
  def select(part: Int, bound: Long): Seq[(Long, Long)] =
    live.valuesIterator.filter(r => r.part == part && r.v < bound)
      .map(r => (r.key, r.v)).toSeq.sorted
}

object CowModel {
  def aggregate(rows: Map[Long, CowRow]): (Long, Long) =
    (rows.size.toLong, rows.valuesIterator.map(_.v).sum)

  def rowOf(r: Row): CowRow =
    CowRow(r.getAs[Long]("key"), r.getAs[Int]("part"), r.getAs[Long]("v"),
      r.getAs[String]("s"))

  /** The first few differences between two row multisets, empty when
    * they are equal.
    */
  def diff(expected: Seq[CowRow], got: Seq[CowRow], limit: Int = 3): Seq[String] = {
    def counts(xs: Seq[CowRow]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val e = counts(expected)
    val g = counts(got)
    (e.keySet ++ g.keySet).toSeq.sortBy(_.key).flatMap { r =>
      val (ne, ng) = (e.getOrElse(r, 0), g.getOrElse(r, 0))
      if (ne == ng) None else Some(s"$r expected x$ne, got x$ng")
    }.take(limit)
  }
}

/** What each medallion task must report, recomputed in plain Scala
  * from the generated inputs.
  */
final case class MedallionModel(
    taskRows: Map[String, Long],
    bootstrapKeys: Long,
    thinLayer: Map[(String, String), (Double, Long, Long)]) {

  /** Expected row count of `task` in a DAG; the key map takes all its
    * keys in the first DAG on a fresh root and none after.
    */
  def expectedRows(task: String, firstOnRoot: Boolean): Long =
    if (task == "event_type_map") { if (firstOnRoot) bootstrapKeys else 0L }
    else taskRows(task)
}

object MedallionModel {
  def of(star: Gen.Star): MedallionModel = {
    val brandOf = star.rows("part").map(r => r.getLong(0) -> r.getString(2)).toMap
    val nations = star.rows("nation").map(_.getInt(0)).toSet
    val groups = star.rows("lineitem").groupBy(r => (r.getString(8), r.getString(9)))
    val thin = groups.map { case (k, rs) =>
      val qty = rs.map(r => BigDecimal(r.getDouble(4))).sum.toDouble
      val brands = rs.flatMap(r => brandOf.get(r.getLong(1))).distinct.size
      k -> (qty, rs.size.toLong, brands.toLong)
    }
    MedallionModel(
      taskRows = Map(
        "events" -> star.rows("events").size.toLong,
        "documents" -> star.rows("documents").size.toLong,
        "customer_dim" ->
          star.rows("customer").count(r => nations.contains(r.getInt(2))).toLong,
        "sales_fact" -> star.rows("lineitem").size.toLong,
        "thin_layer" -> thin.size.toLong),
      bootstrapKeys =
        star.rows("events").map(_.getString(3).toLowerCase).distinct.size.toLong,
      thinLayer = thin)
  }
}
