package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of the traced run. Every name is printed on
  * every workload; a layer a workload does not exercise reads 0 there
  * (the prediction for that workload is "no change"). Values measured
  * per op are means over the ops of that kind, in per-op units.
  */
object Layers {
  /** Op kinds whose file-system calls are attributed to `sinks`. */
  val FsKinds: Seq[String] = Seq("append", "upsert", "delete",
    "lookup", "scan", "time_travel", "sql", "batch")
  /** Op kinds whose Spark jobs and driver-only time are reported. */
  val JobKinds: Seq[String] = FsKinds.take(7)

  def metrics(r: Run, w: Workload, ops: Int, j0: Host.Jvm, j1: Host.Jvm,
      bytesWritten: Long, layerStats: Map[String, Double]): ListMap[String, (Double, String)] = {
    val traces = r.traces.toSeq
    def of(kind: String) = traces.filter(_.kind == kind)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(kind: String)(f: OpTrace => Double): Double = mean(of(kind).map(f))

    val sinks = FsKinds.flatMap { k => Seq(
      s"sinks.$k.fs_meta_calls" -> (perOp(k)(_.fsMeta.toDouble), "count/op"),
      s"sinks.$k.fs_opens" -> (perOp(k)(_.fs("open").toDouble), "count/op"),
      s"sinks.$k.fs_mutations" -> (perOp(k)(_.fsMutations.toDouble), "count/op"),
      s"sinks.$k.manifest_reads" -> (perOp(k)(_.fs("manifest_open").toDouble), "count/op"))
    } ++ JobKinds.flatMap { k => Seq(
      s"sinks.$k.driver_only_ms" -> (perOp(k)(_.driverOnlyMs.toDouble), "ms/op"),
      s"sinks.$k.jobs" -> (perOp(k)(_.jobs.size.toDouble), "count/op"),
      s"sinks.$k.job_busy_ms" -> (perOp(k)(_.jobBusyMs.toDouble), "ms/op"))
    } ++ Seq(
      "sinks.bytes_written_per_user_byte" -> (
        if (w.userBytesWritten > 0) bytesWritten.toDouble / w.userBytesWritten else 0.0,
        "ratio"),
      "sinks.live_files" -> (layerStats.getOrElse("sinks.live_files", 0.0), "count"),
      "sinks.tombstone_files" -> (layerStats.getOrElse("sinks.tombstone_files", 0.0), "count"),
      "sinks.dv_files" -> (layerStats.getOrElse("sinks.dv_files", 0.0), "count"),
      "sinks.lookup.files_read_frac" ->
        (perOp("lookup")(_.extra.getOrElse("files_read_frac", 0.0)), "frac"),
      "sinks.commit_conflicts" -> (r.commitConflicts.toDouble, "count"))

    val plans = Seq("parse" -> "parsing", "analyze" -> "analysis",
      "optimize" -> "optimization", "physical" -> "planning").map { case (n, phase) =>
      s"plans.sql.${n}_ms" -> (perOp("sql")(_.extra.getOrElse(s"phase.$phase", 0.0)), "ms/op")
    }

    val dag = Seq(
      "operators.dag.jobs" -> (perOp("dag")(_.jobs.size.toDouble), "count/op"),
      "operators.dag.tasks" -> (perOp("dag")(_.tasks.toDouble), "count/op"),
      "operators.dag.job_busy_ms" -> (perOp("dag")(_.jobBusyMs.toDouble), "ms/op"),
      "operators.dag.executor_run_ms" -> (perOp("dag")(_.executorRunMs.toDouble), "ms/op"),
      "operators.dag.executor_cpu_ms" -> (perOp("dag")(_.executorCpuNs / 1e6), "ms/op"),
      "operators.dag.shuffle_write_bytes" -> (perOp("dag")(_.shuffleWriteBytes.toDouble), "bytes/op"),
      "operators.dag.spill_bytes" -> (perOp("dag")(_.spillBytes.toDouble), "bytes/op"),
      "sources.dag.files_read" -> (perOp("dag")(_.fs("input_open").toDouble), "count/op"),
      "sources.dag.bytes_read" -> (perOp("dag")(_.inputBytes.toDouble), "bytes/op")) ++
      MedallionDag.Layers.toSeq.sortBy(_._1).map { case (l, tasks) =>
        s"pipeline.${l}_ms" -> (
          if (of("dag").isEmpty) 0.0
          else r.subSamples.filter(x => tasks.contains(x.kind)).map(_.ms).sum / of("dag").size,
          "ms/op")
      } :+
      ("pipeline.audit_ms" -> (mean(r.subSamples.filter(_.kind == "audit").map(_.ms).toSeq), "ms/op"))

    val batches = of("batch")
    def phase(name: String): Double =
      mean(batches.map(_.progress.map(_.getOrElse(name, 0L)).sum.toDouble))
    val streaming = Seq(
      "add_batch" -> "addBatch", "query_planning" -> "queryPlanning",
      "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
      "latest_offset" -> "latestOffset", "get_batch" -> "getBatch").map { case (n, p) =>
      s"streaming.${n}_ms" -> (phase(p), "ms/op")
    } :+ ("streaming.outside_trigger_ms" -> (mean(batches.map(t =>
      t.wallMs - t.progress.map(_.getOrElse("triggerExecution", 0L)).sum.toDouble)), "ms/op"))

    val jvm = Seq(
      "jvm.gc_ms_per_op" -> ((j1.gcMs - j0.gcMs).toDouble / ops, "ms/op"),
      "jvm.gc_count" -> ((j1.gcCount - j0.gcCount).toDouble, "count"),
      "jvm.alloc_mb_per_op" -> ((j1.allocBytes - j0.allocBytes) / 1048576.0 / ops, "MB/op"))

    ListMap(sinks ++ plans ++ dag ++ streaming ++ jvm: _*)
  }
}
