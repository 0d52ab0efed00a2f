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

  /** Every test-data set stores `events.ts` as TIMESTAMP(MICROS), which
    * reads as Spark's native TIMESTAMP; no column needs converting.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")
}
