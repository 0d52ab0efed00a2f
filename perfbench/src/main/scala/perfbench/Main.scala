package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints the result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir>
  * }}}
  *
  * `--seconds` sets the op budget, not a deadline: each kind runs a
  * fixed count of ops scaled by seconds / 25, so every run with the same
  * arguments takes the same number of samples of every kind.
  */
object Main {
  /** Spark task threads: fixed, so runs on hosts of different sizes are
    * comparable, and below the core count of the hosts the benchmark
    * targets, so the driver thread and GC are not starved.
    */
  val TaskThreads = 2
  val BaseSeconds = 25.0

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "25").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", ".bench_build/work")).getAbsolutePath
    Workloads(name, seed) // reject an unknown name before starting Spark

    val host0 = Host.sample()
    val spark = session(work, traced)
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    val r = new Run(spark, traced, work)

    // set-up runs once: a second one would cost 10 to 25 s of a run
    val w = Workloads(name, seed)
    w.setup(r, s"$work/setup")
    val setupS = (System.nanoTime() - mainStart) / 1e9

    val calib0 = Host.calibrationMs()
    val bytes0 = fileBytesWritten()
    val jvm0 = Host.jvm()
    val host1 = Host.sample()
    val t0 = System.nanoTime()
    w.measure(r, seconds / BaseSeconds)
    val regionS = (System.nanoTime() - t0) / 1e9
    val jvm1 = Host.jvm()
    val host2 = Host.sample()
    val bytesWritten = fileBytesWritten() - bytes0
    val calibration = (calib0, Host.calibrationMs())
    val liveHeapMb = liveHeap()

    val verifyErrors =
      try w.verify(r) catch { case e: Throwable => Seq(s"verify threw $e") }
    val bytesRatio = w.bytesPerLiveByte(r)
    val layerStats = if (traced) w.layerStats(r) else Map.empty[String, Double]

    val samples = r.samples.toSeq
    val all = samples ++ r.subSamples
    val attempted = samples.length
    val failed = samples.count(!_.ok)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "ok_frac" -> ((attempted - failed).toDouble / attempted, "frac"),
      "rows_per_s" -> (samples.filter(_.ok).map(_.rows).sum / regionS, "rows/s"),
      "cpu_ms_per_op" -> ((jvm1.cpuNs - jvm0.cpuNs) / 1e6 / attempted, "ms"),
      "live_heap_mb" -> (liveHeapMb, "MB"),
      "bytes_per_live_byte" -> (bytesRatio, "ratio")) ++
      w.kinds.zipWithIndex.map { case (k, i) =>
        val ms = all.filter(_.kind == k).map(_.ms)
        // no samples only when every op of the kind threw: correct is false
        s"op${i + 1}_p50_ms" -> (if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
      }

    val metrics =
      if (!traced) e2e
      else Layers.metrics(r, w, attempted, jvm0, jvm1, bytesWritten, layerStats) ++
        e2e.collect { case (k, v) if k.startsWith("op") || k == "cpu_ms_per_op" =>
          s"trace.$k" -> v }
    val rendered = metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }

    val counts = ListMap(all.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, xs) => k -> xs.size }: _*)
    val tails = ListMap(counts.toSeq.flatMap { case (k, n) =>
      Stats.highestTail(n).map(p => s"${k}_p${p}_ms" ->
        Stats.percentile(all.filter(_.kind == k).map(_.ms), p))
    }: _*)
    val quartiles = ListMap(counts.toSeq.collect { case (k, n) if n >= 2 =>
      val (q1, q2, q3) = Stats.quartiles(all.filter(_.kind == k).map(_.ms))
      k -> Seq(q1, q2, q3)
    }: _*)
    val errors = r.errors.toSeq ++ verifyErrors
    val detail = ListMap(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "kinds" -> w.kinds, "samples_per_kind" -> counts, "tails" -> tails,
      "quartiles_ms" -> quartiles,
      "region_s" -> regionS, "session_s" -> sessionS,
      "host" -> Host.telemetry(host0, host1, host2, jvm0, jvm1, regionS, TaskThreads,
        calibration),
      "errors" -> errors.take(20),
      "metrics" -> rendered,
      "samples" -> all.map(s => Seq(s.kind, s.ms, s.rows, s.ok)))
    val out = Paths.get(work).getParent.resolve("out")
    Files.createDirectories(out)
    val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    write(out.resolve(s"$tag.json").toFile, Json.render(detail))
    if (traced) write(out.resolve(s"$tag-spans.json").toFile,
      Json.render(r.tracer.spans.map(s => ListMap("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "op" -> s.op,
        "self_ms" -> r.tracer.selfMs(s)))))

    println(s"# $tag samples=${counts.map { case (k, n) => s"$k:$n" }.mkString(",")} " +
      f"region_s=$regionS%.2f " + Host.summary(host0, host2, jvm0, jvm1, regionS, calibration))
    errors.take(5).foreach(e => println(s"# error: $e"))
    println(Json.render(ListMap(
      "correct" -> errors.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> rendered)))
    System.out.flush()
    spark.stop()
  }

  /** Heap in use after full GCs; the lowest of three readings, with a
    * pause between them so Spark's cleaner can drop what the previous
    * GC queued for it.
    */
  private def liveHeap(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def fileBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def write(f: File, s: String): Unit = {
    val p = new PrintWriter(f, "UTF-8")
    try p.println(s) finally p.close()
  }

  def session(work: String, traced: Boolean): SparkSession = {
    val b = graft.GraftSession.builder("perfbench", TaskThreads)
      .config("spark.sql.catalog.cow.warehouse", s"$work/setup/warehouse")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
