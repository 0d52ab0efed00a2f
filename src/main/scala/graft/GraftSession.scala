package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with the engine's scale-oriented defaults.
  *
  * Local runs use local[N]; on a real cluster the same confs apply minus
  * the master. AQE is on for runtime re-planning (skew joins, coalesced
  * shuffle partitions); the broadcast threshold covers all dimension
  * tables in the star schema so fact-side joins never shuffle the fact.
  */
object GraftSession {
  def builder(appName: String, cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      // the engine's Catalyst pieces (codegen'd functions, the named
      // cow-catalog conversion rule) + the cow TableCatalog itself, so
      // `cow.db.table` resolves in plain SQL on every engine session
      .withExtensions(new GraftExtensions)
      .config("spark.sql.catalog.cow",
        classOf[graft.catalog.CowCatalog].getName)
      .config("spark.sql.catalog.cow.warehouse",
        sys.env.getOrElse("SPARK_GRAFT_COW_WAREHOUSE",
          "/tmp/graft-cow-warehouse"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // the parquet reader rejects TIMESTAMP(NANOS) columns unless it
      // reads them as a nanosecond epoch long. No test-data set has one
      // (events.ts is TIMESTAMP(MICROS)); a foreign file that does still
      // reads, as a LongType column.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are timezone-less micros; read them as the
      // session-UTC TIMESTAMP (matching the DuckDB oracle, which treats
      // them as naive-UTC) instead of TIMESTAMP_NTZ.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      // streaming state-store provider seam (r20 experiment, guide §5):
      // SPARK_GRAFT_STATESTORE=rocksdb swaps the HDFS-backed provider
      // (one delta file per shuffle partition per stateful operator per
      // micro-batch) for the RocksDB provider. Default stays Spark's
      // HDFS provider: the 5-point alternating A/B on this fixture
      // (cow_stream_event_agg, sf0.1) measured RocksDB median-SLOWER
      // (14.2 s vs 12.5 s) and indistinguishable at the min (11.8 vs
      // 12.0) — native store open/commit per partition buys nothing
      // when state is KBs per partition; numbers in
      // OPTIMIZATION_r20.md. At production state sizes (GBs per
      // partition, long-running streams, state larger than executor
      // memory) the trade flips, which is exactly why it is an env
      // seam and not a default.
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.get("SPARK_GRAFT_STATESTORE").map(_.trim) match {
          case Some(v) if v.equalsIgnoreCase("rocksdb") =>
            "org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider"
          case Some(v) if v.equalsIgnoreCase("hdfs") || v.isEmpty =>
            "org.apache.spark.sql.execution.streaming.state." +
              "HDFSBackedStateStoreProvider"
          case Some(other) =>
            // a measurement seam must fail loudly on a typo: silently
            // measuring the baseline while believing it's the other
            // arm poisons the A/B (r20 review)
            throw new IllegalArgumentException(
              s"SPARK_GRAFT_STATESTORE='$other' — expected 'rocksdb' " +
                "or 'hdfs' (unset = hdfs)")
          case None =>
            "org.apache.spark.sql.execution.streaming.state." +
              "HDFSBackedStateStoreProvider"
        })
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
