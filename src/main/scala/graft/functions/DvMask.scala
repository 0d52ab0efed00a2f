package graft.functions

import java.util.Arrays

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hadoop `Configuration` made Java-serializable (the standard
  * writeObject/readFields pattern — `Configuration` itself is
  * `Writable` but not `Serializable`), so an expression can carry the
  * SESSION's Hadoop settings (object-store credentials, endpoints) to
  * the executors instead of hoping the executor classpath's
  * core-site.xml suffices.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
  // constant: plans print it, and an identity hash would make two
  // runs' plan text differ
  override def toString: String = "SerializableHadoopConf"
}

/** The positional-deletion-vector membership test as ONE codegen'd
  * Catalyst predicate: `deleted(file, position)` — the scan-stage mask
  * that makes `CowTable.deleteWhereDv`'s read side a FILTER instead of
  * an anti-join (Delta/Iceberg deletion-vector economics: the mask
  * rides inside the scan's whole-stage-codegen span; no build side, no
  * probe table, no shuffle).
  *
  * EXECUTOR-SIDE RESOLUTION (the 100 TB design point): the expression
  * ships only METADATA — the table root's canonical form, the DV
  * sidecar files' paths, and the Hadoop conf. Each executor reads the
  * delete-batch-sized sidecars ITSELF on first use ([[DvSidecars]],
  * one cached load per snapshot per JVM) and builds the per-file
  * sorted position arrays locally. The driver never materializes a
  * single position and there is no global broadcast: on a
  * 1000-executor cluster the sidecar bytes flow storage→executors
  * directly (object-store reads scale horizontally), instead of
  * storage→driver-collect→broadcast, whose driver heap and egress are
  * the ceiling the previous implementation hit.
  *
  * Children are `_metadata.file_path` (string) and
  * `_metadata.row_index` (long). Per row the cost is one UTF8String
  * equality against the last-seen file (file rows arrive in runs, so
  * the path→positions resolution — URI decode + map lookup — runs once
  * per FILE per task thread) plus one binary search over that file's
  * positions. Files without an entry pay the equality check alone.
  */
case class DvDeletedExpr(
    left: Expression,
    right: Expression,
    rootKey: String,
    sidecars: Seq[String],
    scheme: String,
    authority: String,
    conf: SerializableHadoopConf)
  extends BinaryExpression with Predicate {

  // snapshot identity for the executor-side cache: sidecar paths embed
  // their commit ids, so the joined list is content-stable per snapshot
  @transient private lazy val cacheKey: String = sidecars.mkString("\n")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dv_deleted requires (string, long) children, got $other")
    }

  /** Shared by interpreted eval and generated code (public so codegen
    * can call through the expression reference).
    */
  def deletedRow(path: UTF8String, idx: Long): Boolean = {
    val c = DvDeletedExpr.cache.get()
    val arr =
      if (c != null && (c._1 eq cacheKey) && c._2.equals(path)) c._3
      else {
        val m = DvSidecars.positions(cacheKey, rootKey, sidecars,
          scheme, authority, conf)
        val a = m.getOrElse(DvDeletedExpr.normalize(path.toString),
          DvDeletedExpr.Empty)
        DvDeletedExpr.cache.set((cacheKey, path.clone(), a))
        a
      }
    arr.length > 0 && Arrays.binarySearch(arr, idx) >= 0
  }

  override def nullSafeEval(path: Any, idx: Any): Any =
    deletedRow(path.asInstanceOf[UTF8String], idx.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("dvExpr", this,
      classOf[DvDeletedExpr].getName)
    nullSafeCodeGen(ctx, ev, (p, i) =>
      s"${ev.value} = $selfRef.deletedRow($p, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvDeletedExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dv_deleted"
}

object DvDeletedExpr {

  private[functions] val Empty = Array.empty[Long]

  /** (cache key, last path, its positions) — keyed by the snapshot's
    * cache key too, so two DV sets over the SAME file in one query
    * (two time-travel snapshots of one table) can never serve each
    * other's arrays from the thread cache.
    */
  private val cache = new ThreadLocal[(String, UTF8String, Array[Long])]

  /** Canonical file identity: the DECODED scheme-less absolute path.
    * `_metadata.file_path` arrives URI-encoded (space→%20) and its
    * scheme form varies (`file:/` vs `file:///`); `URI.getPath`
    * collapses both — the SAME normalization the DV writer and the
    * sidecar loader apply, so the two sides can never drift.
    */
  def normalize(s: String): String =
    try {
      val p = new java.net.URI(s).getPath
      if (p == null) s else p
    } catch { case _: Exception => s }
}

/** Executor-local loader + cache of DV sidecar position maps: one
  * parquet read of the delete-batch-sized sidecars per snapshot per
  * JVM, shared by every task thread (the expression's thread-local
  * handles the per-row fast path). Bounded LRU — a long-lived executor
  * scanning many snapshots holds at most [[MaxCached]] delete sets.
  */
object DvSidecars {

  private val MaxCached = 8

  /** A per-snapshot memo: `lazy val` makes the load run once even when
    * a whole stage's first tasks arrive together (they synchronize on
    * THIS memo's monitor, not the cache lock — so tasks loading
    * DIFFERENT snapshots still load in parallel).
    */
  private final class Memo(thunk: () => Map[String, Array[Long]]) {
    lazy val value: Map[String, Array[Long]] = thunk()
  }

  // access-order LinkedHashMap under its own lock = tiny LRU; the map
  // lock only guards memo insertion/lookup, never a load
  private val cached =
    new java.util.LinkedHashMap[String, Memo](16, 0.75f, true)

  // observability for the spec, keyed by snapshot: (loads performed,
  // did every one run inside a task). The pin that positions are
  // loaded where the scan runs — never materialized at plan time on
  // the driver — and loaded once per snapshot per JVM. Bounded like
  // the position cache itself: a long-lived executor must not grow a
  // log of path-list keys forever, so crossing the cap clears it (the
  // specs read it within the same few actions they drive).
  private[graft] val loadLog =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]
  private val MaxLogged = 64
  private[graft] def logLoad(key: String, inTask: Boolean): Unit = {
    if (loadLog.size() > MaxLogged) loadLog.clear()
    loadLog.merge(key, (1L, inTask),
      (a, b) => (a._1 + b._1, a._2 && b._2))
  }

  def positions(key: String, rootKey: String, sidecars: Seq[String],
      scheme: String, authority: String,
      conf: SerializableHadoopConf): Map[String, Array[Long]] = {
    val memo = cached.synchronized {
      val hit = cached.get(key)
      if (hit != null) hit
      else {
        val m = new Memo(() =>
          readAll(key, rootKey, sidecars, scheme, authority, conf.value))
        cached.put(key, m)
        while (cached.size() > MaxCached)
          cached.remove(cached.keySet().iterator().next())
        m
      }
    }
    memo.value
  }

  /** Paths in the manifest are stored as decoded LITERAL strings; the
    * multi-arg URI constructor re-escapes them correctly (space→%20,
    * %→%25), which `new Path(String)` would not — see the hive-escaped
    * partition-dir handling throughout the cow format.
    */
  private def openPath(literalAbs: String, scheme: String,
      authority: String): HPath =
    new HPath(new java.net.URI(scheme,
      if (authority != null && authority.nonEmpty) authority else null,
      literalAbs, null, null))

  private def readAll(key: String, rootKey: String, sidecars: Seq[String],
      scheme: String, authority: String,
      conf: Configuration): Map[String, Array[Long]] = {
    logLoad(key, TaskContext.get() != null)
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    sidecars.foreach { abs =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), openPath(abs, scheme, authority))
        .withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          // sidecar schema: (path STRING, positions ARRAY<BIGINT>,
          // partition columns…). The list walk handles BOTH parquet
          // list layouts: Spark's standard 3-level shape (list group >
          // repeated element group > value — also the legacy bag/array
          // nullable form, structurally identical) and the legacy
          // 2-level shape a session running with
          // spark.sql.parquet.writeLegacyFormat=true emits for
          // non-null elements (repeated PRIMITIVE directly under the
          // list group) — so an executor can always parse the sidecar
          // its own session's writer produced.
          if (g.getFieldRepetitionCount("path") > 0) {
            val rel = g.getString("path", 0)
            // sidecar entries are table-root-relative, except files a
            // SHALLOW CLONE carries from its source (outside the clone
            // root) — stored as decoded absolute paths, keyed verbatim
            val b = acc.getOrElseUpdate(
              if (rel.startsWith("/")) rel else rootKey + "/" + rel,
              new mutable.ArrayBuilder.ofLong)
            if (g.getFieldRepetitionCount("positions") > 0) {
              val lst = g.getGroup("positions", 0)
              val n = lst.getFieldRepetitionCount(0)
              val flat = lst.getType.getType(0).isPrimitive
              var i = 0
              while (i < n) {
                if (flat) b += lst.getLong(0, i)
                else {
                  val e = lst.getGroup(0, i)
                  // positions are never null; guard anyway — a null
                  // element has repetition 0 and getLong would throw
                  if (e.getFieldRepetitionCount(0) > 0)
                    b += e.getLong(0, 0)
                }
                i += 1
              }
            }
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    acc.iterator.map { case (k, b) =>
      val a = b.result()
      Arrays.sort(a)
      // two DV commits can never double-mark a position (each delete
      // scans the MASKED state), but dedupe defensively — binary
      // search only needs sorted, dedupe keeps the arrays honest
      var n = 0
      var i = 0
      while (i < a.length) {
        if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
        i += 1
      }
      k -> (if (n == a.length) a else Arrays.copyOf(a, n))
    }.toMap
  }
}
