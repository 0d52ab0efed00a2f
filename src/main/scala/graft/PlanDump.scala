package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Measurement harness for the optimization rounds (guide §1): for each
  * named query, build it, dump `explain("formatted")` to
  * `<outDir>/<name>.txt`, then time ONE full evaluation through the
  * noop sink (computes every column, no sink cost — guide §1.4) with a
  * job-count listener attached, so a change's evidence is (plan shape,
  * #Spark jobs, seconds) — not just wall time on a noisy host.
  *
  * Usage: runMain graft.PlanDump <outDir> <q1> [q2 ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_PLAN_ONLY=1 skips the timed evaluation.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <query> [query ...]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planOnly = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    // the engine's central builder — same conf set as graft.Bench's
    // session (Bench inlines the subset whose non-default values
    // matter; GraftSession adds only default-valued AQE flags and the
    // warehouse dir), so PlanDump's plans/job counts describe the same
    // session the bench times (r19 review)
    val spark = GraftSession.builder("graft-plandump", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobCount.incrementAndGet(): Unit
    })
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      spark.sparkContext.setJobDescription(s"plandump: $name (build)")
      // building the DF runs the harness side effects (commits,
      // streams); count the jobs that cost separately from the final
      // evaluation's
      import scala.jdk.CollectionConverters._
      def parses(): Long =
        graft.sinks.CowTable.manifestParses.values().asScala
          .foldLeft(0L)(_ + _)
      // manifest-dir reads that fell through to the distributed path
      // (pay a Spark job) — the r20 target is this staying 0 cold
      def parseJobs(): Long =
        graft.sinks.CowTable.manifestParseSparkJobs.values().asScala
          .foldLeft(0L)(_ + _)
      // drain queued listener events before every counter read: an
      // async bus attributes straggler JobStart events to the wrong
      // phase otherwise (r19 review)
      def drain(): Unit =
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
      drain()
      val buildFrom = jobCount.get()
      val parsesFrom = parses()
      val parseJobsFrom = parseJobs()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val buildSec = (System.nanoTime() - t0) / 1e9
      drain()
      val buildJobs = jobCount.get() - buildFrom
      val buildParses = parses() - parsesFrom
      val buildParseJobs = parseJobs() - parseJobsFrom
      val w = new java.io.PrintWriter(
        new java.io.File(outDir, s"$name.txt"), "UTF-8")
      try {
        w.println(s"== $name @ $sfDir ==")
        w.println(stable(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
      } finally w.close()
      if (!planOnly) {
        spark.sparkContext.setJobDescription(s"plandump: $name (eval)")
        val evalFrom = jobCount.get()
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val evalSec = (System.nanoTime() - t1) / 1e9
        drain()
        val evalJobs = jobCount.get() - evalFrom
        println(f"PLANDUMP $name build=$buildSec%.3fs jobs=$buildJobs " +
          f"parses=$buildParses parseJobs=$buildParseJobs " +
          f"eval=$evalSec%.3fs evalJobs=$evalJobs")
      } else {
        println(f"PLANDUMP $name build=$buildSec%.3fs jobs=$buildJobs " +
          f"parses=$buildParses parseJobs=$buildParseJobs (plan only)")
      }
      Console.out.flush()
    }
    spark.stop()
  }

  /** Plan text with what differs between two runs of the same code
    * masked, so two dumps of one commit are byte-identical. Expression
    * and exchange ids count up with session history (and with work on
    * other threads), so each is renumbered by first appearance, which
    * keeps which ids are equal; UUIDs (part-file names), the random
    * digits `Files.createTempDirectory` appends to a temp dir's name,
    * RDD ids and lambda class names with their identity hashes are
    * masked. A file index lists its paths in listing order, which
    * varies: a complete listing is sorted, and a truncated one
    * (`..., ... N entries`) keeps only how many paths it showed.
    */
  private[graft] def stable(plan: String): String = {
    def renumber(text: String, id: String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      s"$id(\\d+)".r.replaceAllIn(text, m =>
        id + seen.getOrElseUpdate(m.group(1), seen.size + 1))
    }
    val tmp = java.util.regex.Pattern.quote(
      new java.io.File(System.getProperty("java.io.tmpdir")).getPath)
    val listing = """InMemoryFileIndex \[([^\]]*)\]""".r
    val masked = renumber(renumber(plan, "#"), "plan_id=")
      .replaceAll("\\p{XDigit}{8}(-\\p{XDigit}{4}){3}-\\p{XDigit}{12}", "<uuid>")
      .replaceAll(s"($tmp/[^/\\s,\\])]*?)\\d+(?=[/\\s,\\])]|$$)", "$1<n>")
      .replaceAll("(\\w+RDD)\\[\\d+\\]", "$1[<n>]")
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+(@\\p{XDigit}+)?",
        "\\$\\$Lambda<n>")
    listing.replaceAllIn(masked, m => {
      val (more, paths) = m.group(1).split(", ").toSeq
        .partition(_.matches("""\.\.\. \d+ entries"""))
      val shown =
        if (more.isEmpty) paths.sorted else s"<${paths.size} shown>" +: more
      scala.util.matching.Regex.quoteReplacement(
        shown.mkString("InMemoryFileIndex [", ", ", "]"))
    })
  }
}
