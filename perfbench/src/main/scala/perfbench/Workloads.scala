package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.CowTable
import Gen.CowRow

/** One benchmark workload: a set-up that is timed as `setup_s`, then a
  * fixed number of ops of each kind. `kinds` names the op kinds in the
  * order of the `op1` .. `op8` metrics.
  */
trait Workload {
  def kinds: Seq[String]

  /** Builds inputs and tables under `dir` and runs the untimed warm-up. */
  def setup(r: Run, dir: String): Unit

  /** The timed region. `scale` multiplies every op count. */
  def measure(r: Run, scale: Double): Unit

  /** Mismatches between the final state and the model. */
  def verify(r: Run): Seq[String]

  /** Bytes on disk under the root ÷ the live rows as compacted Parquet. */
  def bytesPerLiveByte(r: Run): Double

  /** Traced-only layer counts at the end of the run (file counts). */
  def layerStats(r: Run): Map[String, Double] = Map.empty

  /** User bytes the timed region asked the system to land. */
  def userBytesWritten: Long = 0L
}

object Workloads {
  val names: Seq[String] =
    Seq("medallion_dag", "cow_mix")

  def apply(name: String, seed: Long): Workload = name match {
    case "medallion_dag" => new MedallionDag(seed)
    case "cow_mix" => new CowMix(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def scaled(n: Int, scale: Double): Int = math.max(1, math.round(n * scale).toInt)

  def duBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(dir))
  }

  /** Size of `df` written as one Parquet file. */
  def compactedBytes(df: DataFrame, scratch: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val bytes = new File(scratch).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    org.apache.commons.io.FileUtils.deleteDirectory(new File(scratch))
    bytes
  }

  def cowRows(spark: SparkSession, root: String): Seq[CowRow] =
    CowTable.read(spark, root).map(_.select("key", "part", "v", "s")
      .collect().toSeq.map(CowModel.rowOf)).getOrElse(Nil)

  /** Live, tombstone and deletion-vector file counts of the head. */
  def fileStats(spark: SparkSession, root: String): Map[String, Double] =
    CowTable.currentManifest(spark, root).map { m =>
      Map("sinks.live_files" -> m.files.size.toDouble,
        "sinks.tombstone_files" -> m.tombstones.size.toDouble,
        "sinks.dv_files" -> m.dvs.size.toDouble)
    }.getOrElse(Map.empty)
}

import Workloads.scaled

// ---------------------------------------------------------------------
// medallion_dag: Medallion.run over a generated star schema
// ---------------------------------------------------------------------

final class MedallionDag(seed: Long) extends Workload {
  val kinds = Seq("dag") ++ MedallionDag.Tasks ++ Seq("audit")
  private val Sizes = Gen.StarSizes(lineitem = 60000, part = 4000,
    supplier = 200, customer = 3000, events = 10000, documents = 1000)
  private val Dags = 4

  private var input: String = _
  private var root: String = _
  private var model: MedallionModel = _
  private var lastBatch = ""
  private var spark: SparkSession = _

  def setup(r: Run, dir: String): Unit = {
    spark = r.spark
    input = s"$dir/input"
    root = s"$dir/medallion"
    // set-up ops go through a run of their own: they are not samples
    val u = new Run(r.spark, traced = false, r.work)
    val star = Gen.star(seed, Sizes)
    model = MedallionModel.of(star)
    u.op("write_inputs")(Gen.writeStar(r.spark, star, input))(_ => (0L, Nil))
    FsCounters.inputDir = new Path(input).toUri.getPath
    // the warm-up DAG takes the key map's first-run bootstrap
    u.op("warmup_dag")(graft.pipeline.Medallion.run(r.spark, input, root, "warmup")) { runs =>
      (0L, check(runs, firstOnRoot = true))
    }
    if (u.errors.nonEmpty) throw new IllegalStateException(u.errors.mkString("; "))
  }

  private def check(runs: Seq[graft.meta.JobRun], firstOnRoot: Boolean): Seq[String] = {
    val byTask = runs.map(j => j.tblName -> j).toMap
    val tasks = model.taskRows.keys.toSeq :+ "event_type_map"
    tasks.flatMap { t =>
      byTask.get(t) match {
        case None => Some(s"task $t did not run")
        case Some(j) if j.jobStatus != "Success" => Some(s"task $t: ${j.exception}")
        case Some(j) if j.rowsIngested != model.expectedRows(t, firstOnRoot) =>
          Some(s"task $t landed ${j.rowsIngested} rows, model says " +
            model.expectedRows(t, firstOnRoot))
        case _ => None
      }
    }
  }

  def measure(r: Run, scale: Double): Unit =
    (1 to scaled(Dags, scale)).foreach { i =>
      lastBatch = s"b$i"
      r.op("dag")(graft.pipeline.Medallion.run(r.spark, input, root, lastBatch)) { runs =>
        (runs.map(_.rowsIngested).sum, check(runs, firstOnRoot = false) ++ thinLayerErrors())
      }.foreach { runs =>
        def ms(j: graft.meta.JobRun) = (j.jobEndTime.getTime - j.jobStartTime.getTime).toDouble
        runs.foreach { j =>
          r.subSample(j.tblName, ms(j), j.rowsIngested)
          r.childSpan(s"pipeline.${j.tblName}", j.jobStartTime.getTime, j.jobEndTime.getTime)
        }
        // what the DAG runner costs beyond its tasks: sequencing and the audit log
        r.subSample("audit", r.samples.last.ms - runs.map(ms).sum, 0L)
      }
    }

  /** Every DAG's output is checked as part of its op. */
  def verify(r: Run): Seq[String] = Nil

  private def thinLayerErrors(): Seq[String] = {
    val got = spark.read.parquet(s"$root/semantic/thin_layer").collect()
      .map(x => (x.getAs[String]("l_returnflag"), x.getAs[String]("l_linestatus")) ->
        ((x.getAs[Double]("sum_qty"), x.getAs[Long]("n_rows"), x.getAs[Long]("n_brands")),
          x.getAs[String]("batch_id"))).toMap
    val groups = if (got.size == model.thinLayer.size) Nil
      else Seq(s"thin_layer has ${got.size} groups, model ${model.thinLayer.size}")
    groups ++ model.thinLayer.toSeq.flatMap { case (k, want) =>
      got.get(k) match {
        case Some((have, batch)) if have == want && batch == lastBatch => None
        case other => Some(s"thin_layer $k: got $other, model $want / $lastBatch")
      }
    }
  }

  def bytesPerLiveByte(r: Run): Double = {
    val tables = Seq("raw/events", "raw/documents", "curated/event_type_map",
      "curated/customer_dim", "curated/sales_fact", "semantic/thin_layer",
      "audit/operational_metadata")
    val live = tables.map(t => Workloads.compactedBytes(
      r.spark.read.parquet(s"$root/$t"), s"${r.work}/compacted")).sum
    Workloads.duBytes(root).toDouble / live
  }
}

object MedallionDag {
  /** The medallion tasks in DAG order, each timed by its own audit record. */
  val Tasks: Seq[String] = Seq("events", "documents", "event_type_map",
    "customer_dim", "sales_fact", "thin_layer")
  val Layers: Map[String, Seq[String]] = Map(
    "raw" -> Seq("events", "documents"),
    "curated" -> Seq("event_type_map", "customer_dim", "sales_fact"),
    "semantic" -> Seq("thin_layer"))
}

// ---------------------------------------------------------------------
// a keyed cow table and its model
// ---------------------------------------------------------------------

/** A keyed cow table driven through the public `CowTable` entry points,
  * mirrored by a [[CowModel]].
  */
final class CowDriver(val spark: SparkSession, val root: String,
    rng: SplittableRandom, keep: Int) {
  val model = new CowModel
  private var nextKey = 1L
  var nextId = 1L
  var userBytes = 0L

  def freshRows(n: Int): Seq[CowRow] = (0 until n).map { _ =>
    val k = nextKey; nextKey += 1; Gen.cowRow(rng, k)
  }

  /** `n` distinct live keys, picked by the seeded generator. */
  def liveKeys(n: Int): Seq[Long] = {
    val all = model.liveKeys
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, all.size)) picked += all(rng.nextInt(all.size))
    picked.toSeq
  }

  def keyNotSeen: Long = nextKey + 1000000L + rng.nextInt(1000)
  def newestKey: Long = nextKey - 1

  private def refused(id: Long, ok: Boolean): Seq[String] =
    if (ok) Nil else Seq(s"commit $id was refused")

  /** Each write returns the op's check: the commit must land, and the
    * model advances only when it does.
    */
  def append(r: Run, n: Int): Unit = {
    val rows = freshRows(n)
    val id = nextId; nextId += 1
    r.op("append")(CowTable.commitAppend(Gen.cowFrame(spark, rows), root, id,
      Seq("part"), keep = keep)) { ok =>
      if (ok) { model.append(rows); model.commit(id); userBytes += rows.map(_.userBytes).sum }
      (rows.size.toLong, refused(id, ok))
    }
  }

  def upsert(r: Run, n: Int): Unit = {
    val updates = liveKeys(n / 2).map(k => Gen.cowRow(rng, k))
    val rows = updates ++ freshRows(n - updates.size)
    val id = nextId; nextId += 1
    r.op("upsert")(CowTable.upsert(spark, root, id, Gen.cowFrame(spark, rows),
      Seq("key"), Seq("part"), keep = keep)) { ok =>
      if (ok) { model.upsert(rows); model.commit(id); userBytes += rows.map(_.userBytes).sum }
      (rows.size.toLong, refused(id, ok))
    }
  }

  def deleteTombstones(r: Run, n: Int): Unit = {
    val keys = liveKeys(n)
    val id = nextId; nextId += 1
    r.op("delete")(CowTable.deleteKeysMor(spark, root, id,
      Gen.keyFrame(spark, keys), Seq("key"), Seq("part"), keep = keep)) { ok =>
      if (ok) { model.delete(keys); model.commit(id); userBytes += keys.size * 12L }
      (keys.size.toLong, refused(id, ok))
    }
  }

  def deleteDv(r: Run, n: Int): Unit = {
    val keys = liveKeys(n)
    val id = nextId; nextId += 1
    r.op("dv_delete")(CowTable.deleteWhereDv(spark, root, id,
      col("key").isin(keys: _*), keep = keep)) { ok =>
      if (ok) { model.delete(keys); model.commit(id); userBytes += keys.size * 8L }
      (keys.size.toLong, refused(id, ok))
    }
  }

  /** Commits snapshot `toId`'s content again, by reference. */
  def restore(r: Run, toId: Long): Unit = {
    val id = nextId; nextId += 1
    r.op("restore")(CowTable.restore(spark, root, toId, keep = keep)) { got =>
      if (got == id) { model.restore(toId); model.commit(id) }
      (0L, if (got == id) Nil else Seq(s"restore to $toId committed $got, expected $id"))
    }
  }

  def verify(): Seq[String] =
    CowModel.diff(model.rows, Workloads.cowRows(spark, root)).map(d => s"$root: $d")

  def bytesPerLiveByte(work: String): Double =
    Workloads.duBytes(root).toDouble /
      Workloads.compactedBytes(CowTable.read(spark, root).get, s"$work/compacted")
}

// ---------------------------------------------------------------------
// cow_mix: the table format's writes, streaming ingest and reads
// ---------------------------------------------------------------------

/** Every cow op kind in one workload, each kind with its own latency
  * metric. Writes go to their own table and the stream to its own; the
  * reads hit tables that no timed op changes.
  *
  * The read table (20k rows) keeps a tombstone delete and a
  * deletion-vector delete outstanding at its head: three commits. Three
  * history tables of 22 commits each, whose history comes from cheap
  * by-reference `restore` commits of 2,000 or 2,200 rows, hold 66
  * snapshots: more than the 64 manifests the table format memoizes, so
  * time travel cycling over all of them misses that cache on every read
  * while head reads keep hitting it. The tables are built
  * in parallel threads, because a data commit costs about a second
  * whatever its size; each build thread then runs an untimed op of each
  * kind its tables serve, all but `time_travel`.
  */
final class CowMix(seed: Long) extends Workload {
  val kinds = Seq("append", "upsert", "delete", "batch",
    "lookup", "scan", "time_travel", "sql")
  private val WriteInitial = 2000
  private val Batch = 100
  private val Deletes = 50
  private val ReadInitial = 20000
  private val HistoryTables = Seq("h1", "h2", "h3")
  private val HistoryCommits = 22
  private val KeysPerLookup = 4
  /** After the warm-up the samples of a kind stay level, and the spread
    * between runs comes from the host more than from the sample count:
    * three cycles, a median that is one sample, and room in the time
    * budget for the warm-up.
    */
  private val Cycles = 3

  private var w: CowDriver = _
  private var stream: CowStream = _
  private var t: CowDriver = _
  private var reads: Seq[CowDriver] = Nil
  private var rng: SplittableRandom = _
  private var ttTargets: Seq[(Long, CowDriver)] = Nil
  private var ttNext = 0
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private var userBytesAtStart = 0L

  def setup(r: Run, dir: String): Unit = {
    rng = new SplittableRandom(seed ^ 0x5eedL)
    w = new CowDriver(r.spark, s"$dir/write", new SplittableRandom(seed), keep = 2)
    stream = new CowStream(r.spark, s"$dir/stream", new SplittableRandom(seed ^ 0x57ea11L))
    reads = ("rt" +: HistoryTables).zipWithIndex.map { case (name, i) =>
      new CowDriver(r.spark, s"$dir/warehouse/bench/$name",
        new SplittableRandom(seed * 31 + i + 1), keep = HistoryCommits + 2)
    }
    t = reads.head
    // after its build, a thread warms up the kinds that use its tables:
    // the first op of a kind runs cold, up to twice as slow as the later
    // ones, and the build threads end close together, so a warm-up there
    // costs set-up less than an untimed cycle after them
    val builds: Seq[Run => Unit] = Seq[Run => Unit](
      (u: Run) => {
        w.append(u, WriteInitial)
        stream.start(u, WriteInitial)
        w.append(u, Batch)
        w.upsert(u, Batch)
        w.deleteTombstones(u, Deletes)
        stream.batch(u, Batch)
      },
      (u: Run) => {
        t.append(u, ReadInitial)
        t.deleteTombstones(u, 50)
        t.deleteDv(u, 50)
        deleted ++= (1L to t.newestKey).filterNot(t.model.contains)
        lookup(u)
        scan(u)
        sql(u)
      }) ++ reads.tail.map { d => (u: Run) =>
        d.append(u, 2000)
        d.append(u, 200)
        (3 to HistoryCommits).foreach(i => d.restore(u, toId = 2 - i % 2))
      }
    val errors = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = builds.map { build =>
      new Thread(() => {
        val u = new Run(r.spark, traced = false, r.work)
        try build(u) catch { case e: Throwable => u.errors += e.toString }
        u.errors.foreach(errors.add)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw new IllegalStateException(errors.toString)
    // the history tables' snapshots, alike in size, and not the read
    // table's, whose tombstone snapshot reads slower than the others
    ttTargets = reads.tail.flatMap(d => d.model.committedIds.map(id => (id, d)))
      .sortBy { case (id, d) => (id, reads.indexOf(d)) }
    // visited once in the order the time-travel ops cycle through them:
    // the LRU memo then holds at most the most recent 64, and each
    // time-travel read finds its target already evicted
    ttTargets.foreach { case (id, d) => CowTable.manifest(r.spark, d.root, id) }
    // that visit pushed the heads out of the memo; back in, the first
    // cycle finds them there as the later cycles do
    Seq(w.root, stream.root, t.root).foreach(CowTable.currentManifest(r.spark, _))
    userBytesAtStart = w.userBytes + stream.userBytes
  }

  private def lookup(r: Run): Unit = {
    val keys = (t.liveKeys(KeysPerLookup - 2) :+
      deleted(rng.nextInt(deleted.size)) :+ t.keyNotSeen).distinct
    val want = t.model.lookup(keys)
    r.op("lookup") {
      val df = CowTable.readWhereIn(r.spark, t.root, "key", keys.map(_.toString))
      (df, df.select("key", "part", "v", "s").collect())
    } { case (df, rows) =>
      if (r.traced) {
        val live = CowTable.currentManifest(r.spark, t.root).get.files.map(_.path)
        val read = df.inputFiles.count(f => live.exists(p => f.endsWith("/" + p)))
        r.note("files_read_frac", read.toDouble / live.size)
      }
      val got = rows.toSeq.map(CowModel.rowOf)
      (got.size.toLong, CowModel.diff(want, got))
    }
  }

  private def scan(r: Run): Unit = {
    val want = t.model.aggregate
    r.op("scan")(CowTable.read(r.spark, t.root).get
      .agg(count(lit(1)), sum(col("v"))).collect().head) { row =>
      val got = (row.getLong(0), row.getLong(1))
      (got._1, if (got == want) Nil else Seq(s"scan got $got, model $want"))
    }
  }

  /** Cycles over the time-travel targets in the order set-up visited them. */
  private def timeTravel(r: Run): Unit = {
    val (id, d) = ttTargets(ttNext % ttTargets.size); ttNext += 1
    val want = d.model.aggregateAt(id)
    r.op("time_travel")(CowTable.readAt(r.spark, d.root, id).get
      .agg(count(lit(1)), sum(col("v"))).collect().head) { row =>
      val got = (row.getLong(0), row.getLong(1))
      (got._1, if (got == want) Nil else Seq(s"${d.root}@$id got $got, model $want"))
    }
  }

  private def sql(r: Run): Unit = {
    val part = rng.nextInt(Gen.Parts)
    val bound = 5000L + rng.nextInt(10000)
    val want = t.model.select(part, bound)
    r.op("sql") {
      val df = r.spark.sql(
        s"SELECT key, v FROM cow.bench.rt WHERE part = $part AND v < $bound")
      val rows = df.collect()
      if (r.traced) df.queryExecution.tracker.phases.foreach { case (phase, s) =>
        r.note(s"phase.$phase", s.durationMs.toDouble)
      }
      rows
    } { rows =>
      val got = rows.toSeq.map(x => (x.getLong(0), x.getLong(1))).sorted
      (got.size.toLong,
        if (got == want) Nil else Seq(s"sql part=$part v<$bound: ${got.size} rows, model ${want.size}"))
    }
  }

  /** One op of every kind, always in this order, so each sample of a
    * kind follows the same ops. A kind gets one op per cycle: a second
    * `append` right after the delete ran about a quarter faster than the
    * first, and one median over both would pool two modes.
    */
  private def cycle(r: Run): Unit = {
    w.append(r, Batch)
    w.upsert(r, Batch)
    w.deleteTombstones(r, Deletes)
    stream.batch(r, Batch)
    lookup(r)
    scan(r)
    timeTravel(r)
    sql(r)
  }

  def measure(r: Run, scale: Double): Unit = {
    (1 to scaled(Cycles, scale)).foreach(_ => cycle(r))
    stream.stop()
  }

  def verify(r: Run): Seq[String] =
    w.verify() ++ stream.verify() ++ reads.flatMap(_.verify())
  def bytesPerLiveByte(r: Run): Double = w.bytesPerLiveByte(r.work)
  override def layerStats(r: Run): Map[String, Double] = Workloads.fileStats(r.spark, t.root)
  override def userBytesWritten: Long = w.userBytes + stream.userBytes - userBytesAtStart
}

/** `writeStream.format("cow")` upserting into its own table. The query
  * runs from set-up to the end of the timed region; each batch is one
  * `addData` followed by `processAllAvailable`, so batch boundaries and
  * counts are fixed. With `compactEvery = 1` every micro-batch is the
  * same kind of op: an upsert commit followed by the in-band compaction.
  */
final class CowStream(spark: SparkSession, val root: String, rng: SplittableRandom) {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  private val model = new CowModel
  private var nextKey = 1L
  var userBytes = 0L
  private val input: MemoryStream[(Long, Int, Long, String)] = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    MemoryStream[(Long, Int, Long, String)]
  }
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  private def rows(n: Int): Seq[CowRow] = {
    val live = model.liveKeys
    val updates = mutable.LinkedHashSet.empty[Long]
    while (live.nonEmpty && updates.size < math.min(n / 2, live.size))
      updates += live(rng.nextInt(live.size))
    updates.toSeq.map(k => Gen.cowRow(rng, k)) ++
      (0 until n - updates.size).map { _ => val k = nextKey; nextKey += 1; Gen.cowRow(rng, k) }
  }

  def start(r: Run, initial: Int): Unit = {
    query = input.toDF().toDF("key", "part", "v", "s")
      .writeStream.format("cow")
      .option("checkpointLocation", s"$root-checkpoint")
      .option("keys", "key")
      .option("partitionBy", "part")
      .option("compactEvery", "1")
      .start(root)
    batch(r, initial)
  }

  def batch(r: Run, n: Int): Unit = {
    val rs = rows(n)
    r.op("batch") {
      input.addData(rs.map(x => (x.key, x.part, x.v, x.s)))
      query.processAllAvailable()
    } { _ =>
      model.upsert(rs)
      userBytes += rs.map(_.userBytes).sum
      if (r.traced) Option(query.lastProgress).foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Option(p.durationMs.get("triggerExecution")).foreach(ms =>
          r.childSpan("streaming.trigger", start, start + ms.longValue))
      }
      (rs.size.toLong, Nil)
    }
  }

  def stop(): Unit = query.stop()

  def verify(): Seq[String] =
    CowModel.diff(model.rows, Workloads.cowRows(spark, root)).map(d => s"$root: $d")
}

