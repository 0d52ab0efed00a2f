package perfbench

/** The training run behind the class-data archive that `run.py` records
  * once per build: one JVM that runs the set-up of every workload, and so
  * loads the classes the measured runs load, then exits. Prints nothing.
  *
  * {{{
  * perfbench.Train --work <dir>
  * }}}
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collectFirst { case Array("--work", v) => v }
      .getOrElse(sys.error("--work is required"))
    val spark = Main.session(work, traced = false)
    try {
      val r = new Run(spark, traced = false, work)
      Workloads.names.foreach(n => Workloads(n, seed = 1L).setup(r, s"$work/setup"))
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }
}
