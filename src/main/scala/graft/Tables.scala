package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Test-table loader for the driver-generated TPC-H-ish star schema
  * (see TESTDATA.md). Tables are plain Parquet directories/files under
  * a scale-factor dir; identity is path-based, mirroring the reference's
  * GCS path-as-identity layout (reference: jobs/raw/dl_rw_job.py:103).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` with its schema read from one footer on
    * the driver ([[org.apache.spark.sql.graftbridge.Bridge.footerSchema]])
    * instead of Spark's inference job. A path with no data file keeps
    * the inferring read, and so its error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Bridge.footerSchema(spark, path)
      .fold(spark.read)(s => spark.read.schema(s)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = parquet(spark, s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS); with nanosAsLong it arrives as a
    // nanosecond epoch long. Integer-divide (ns epoch > 2^53, so float
    // division would lose precision) down to micros = Spark's native
    // timestamp resolution. The generated values are micro-aligned, so
    // this matches DuckDB's epoch_us() exactly.
    if (name == "events" &&
        raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
    else raw
  }
}
