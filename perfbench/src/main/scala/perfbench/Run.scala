package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One timed op: its kind, wall time, the user rows it landed or
  * covered, and whether it succeeded and passed its output check.
  */
final case class Sample(kind: String, ms: Double, rows: Long, ok: Boolean)

/** What the traced run saw during one op. */
final case class OpTrace(
    kind: String,
    op: Int,
    start: Long,
    end: Long,
    fs: Map[String, Long],
    jobs: Seq[JobRec],
    tasks: Long,
    executorRunMs: Long,
    executorCpuNs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    progress: Seq[Map[String, Long]],
    extra: Map[String, Double]) {
  def wallMs: Long = end - start
  def jobBusyMs: Long = Stats.coveredWithin(jobs.map(j => (j.start, j.end)), start, end)
  def driverOnlyMs: Long = wallMs - jobBusyMs
  def fsMeta: Long = Seq("list", "glob", "exists", "status").map(fs).sum
  def fsMutations: Long = Seq("create", "rename", "delete", "mkdirs").map(fs).sum
}

/** The state of one benchmark run: the session, the samples taken so
  * far and, in the traced run, the listeners and spans.
  */
final class Run(val spark: SparkSession, val traced: Boolean, val work: String) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Steps the program timed itself inside an op; not ops of their own. */
  val subSamples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  val traces = mutable.ArrayBuffer.empty[OpTrace]
  val tracer = new Tracer
  var commitConflicts = 0L

  private val jobs = if (traced) Some(new JobListener) else None
  private val progress = if (traced) Some(new ProgressListener) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  progress.foreach(spark.streams.addListener)

  private var opExtra = mutable.Map.empty[String, Double]
  private var opSpan = 0

  /** Adds a traced-only measure to the op being run. */
  def note(key: String, value: Double): Unit =
    if (traced) opExtra(key) = opExtra.getOrElse(key, 0.0) + value

  /** A child span of the op being run, for a step the program reports
    * itself (a medallion task, a streaming trigger).
    */
  def childSpan(name: String, start: Long, end: Long): Unit =
    if (traced) tracer.add(name, start, end, opSpan, traces.length + 1)

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Times `call` as one op of `kind`; then `check` turns its result into
    * (rows covered, mismatches against the model). A throw or any
    * mismatch fails the op. Returns the call's result unless it threw.
    */
  def op[T](kind: String)(call: => T)(check: T => (Long, Seq[String])): Option[T] = {
    val before = if (traced) { drain(); Some(counters()) } else None
    opExtra = mutable.Map.empty
    val opId = traces.length + 1
    if (traced) opSpan = tracer.add(kind, System.currentTimeMillis(), 0L, 0, opId)
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(call)
      catch {
        case e: graft.sinks.CowConcurrentCommitException =>
          commitConflicts += 1; Left(e)
        case e: Throwable => Left(e)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val wallEnd = System.currentTimeMillis()
    System.err.println(f"[perfbench] $kind%s $ms%.1f ms")
    val after = before.map { b => drain(); (b, counters()) }
    val outcome = result match {
      case Right(v) =>
        val (rows, bad) =
          try check(v) catch { case e: Throwable => (0L, Seq(s"check threw $e")) }
        bad.foreach(m => errors += s"$kind: $m")
        samples += Sample(kind, ms, rows, bad.isEmpty)
        Some(v)
      case Left(e) =>
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        samples += Sample(kind, ms, 0L, ok = false)
        None
    }
    after.foreach { case (b, a) =>
      tracer.spans(opSpan - 1) =
        tracer.spans(opSpan - 1).copy(start = wallStart, end = wallEnd)
      val newJobs = jobs.get.jobs.drop(b.jobs).toSeq
      newJobs.foreach(j => tracer.add("spark.job", j.start, j.end, opSpan, opId))
      traces += OpTrace(kind, opId, wallStart, wallEnd,
        a.fs.map { case (k, v) => k -> (v - b.fs(k)) }, newJobs,
        a.tasks - b.tasks, a.runMs - b.runMs, a.cpuNs - b.cpuNs,
        a.shuffle - b.shuffle, a.spill - b.spill, a.input - b.input,
        progress.get.progress.drop(b.progress).toSeq, opExtra.toMap)
    }
    outcome
  }

  /** A sample of a kind the program times itself inside an op (the
    * medallion tasks inside one DAG).
    */
  def subSample(kind: String, ms: Double, rows: Long): Unit =
    subSamples += Sample(kind, ms, rows, ok = true)

  private final case class Counters(fs: Map[String, Long], jobs: Int,
      tasks: Long, runMs: Long, cpuNs: Long, shuffle: Long, spill: Long,
      input: Long, progress: Int)

  private def counters(): Counters = {
    val j = jobs.get
    j.synchronized(Counters(FsCounters.snapshot(), j.jobs.length, j.tasks,
      j.executorRunMs, j.executorCpuNs, j.shuffleWriteBytes, j.spillBytes,
      j.inputBytes, progress.get.synchronized(progress.get.progress.length)))
  }
}
