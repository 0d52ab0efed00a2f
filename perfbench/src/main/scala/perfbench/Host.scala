package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Host and JVM readings. They are diagnostics printed next to the
  * result, not metrics: a run on a loaded host identifies itself by its
  * load average, steal time and CPU/wall ratio.
  */
object Host {
  final case class Proc(loadavg: Double, stealJiffies: Long, totalJiffies: Long)
  final case class Jvm(cpuNs: Long, gcMs: Long, gcCount: Long, allocBytes: Long)

  def sample(): Proc = {
    val load = read("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.split("\\s+").drop(1).flatMap(_.toLongOption).toSeq).getOrElse(Nil)
    Proc(load, if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
  }

  private def read(path: String): String =
    try {
      val s = scala.io.Source.fromFile(path)
      try s.mkString finally s.close()
    } catch { case _: Exception => "" }

  /** Milliseconds for a fixed single-threaded CPU loop, best of three.
    * On a host whose neighbours slow it down this reading grows with the
    * op latencies, while load average and steal time may not move.
    */
  def calibrationMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  def jvm(): Jvm = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val threads = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    Jvm(os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum, threads.getTotalThreadAllocatedBytes)
  }

  private def stealFrac(a: Proc, b: Proc): Double = {
    val total = b.totalJiffies - a.totalJiffies
    if (total > 0) (b.stealJiffies - a.stealJiffies).toDouble / total else 0.0
  }

  def telemetry(start: Proc, regionStart: Proc, end: Proc, j0: Jvm, j1: Jvm,
      regionS: Double, taskThreads: Int, calibration: (Double, Double)): ListMap[String, Any] = ListMap(
    "calibration_ms_before" -> calibration._1,
    "calibration_ms_after" -> calibration._2,
    "loadavg_before" -> start.loadavg,
    "loadavg_after" -> end.loadavg,
    "steal_frac_region" -> stealFrac(regionStart, end),
    "steal_frac_run" -> stealFrac(start, end),
    "cpu_wall_ratio" -> (j1.cpuNs - j0.cpuNs) / 1e9 / regionS,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "spark_task_threads" -> taskThreads,
    "gc_ms_region" -> (j1.gcMs - j0.gcMs),
    "gc_count_region" -> (j1.gcCount - j0.gcCount))

  def summary(start: Proc, end: Proc, j0: Jvm, j1: Jvm, regionS: Double,
      calibration: (Double, Double)): String =
    f"calib_ms=${calibration._1}%.1f->${calibration._2}%.1f " +
      f"load=${start.loadavg}%.2f->${end.loadavg}%.2f " +
      f"steal=${stealFrac(start, end) * 100}%.1f%% " +
      f"cpu/wall=${(j1.cpuNs - j0.cpuNs) / 1e9 / regionS}%.2f " +
      s"nproc=${Runtime.getRuntime.availableProcessors}"
}
