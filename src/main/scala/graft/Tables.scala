package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loader for the driver-generated TPC-H-ish star schema
  * (see TESTDATA.md). Tables are plain Parquet directories/files under
  * a scale-factor dir; identity is path-based, mirroring the reference's
  * GCS path-as-identity layout (reference: jobs/raw/dl_rw_job.py:103).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
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
