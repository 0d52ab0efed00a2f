package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source descriptors — one declarative object per input kind, covering
  * the reference's scan surface (SURVEY §2.1 S1-S5). Everything returns a
  * DataFrame so Catalyst owns pushdown/pruning from the first operator.
  */
sealed trait Source {
  def read(spark: SparkSession): DataFrame
}

/** Parquet directory/glob scan (reference:
  * jobs/curated/facts/sales_fact/dl_ct_gosales_sales_fact_01.py:33-35).
  * Filters/projections applied downstream reach the footer via Catalyst
  * (PushedFilters / ReadSchema) — never pre-collect or pre-filter here.
  */
final case class ParquetSource(path: String, mergeSchema: Boolean = false)
    extends Source {
  def read(spark: SparkSession): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
}

/** Header CSV scan, all-string columns unless a schema is declared
  * (reference: .../sales_fact_01.py:29-31 header-only inference).
  */
final case class CsvSource(
    path: String,
    header: Boolean = true,
    schema: Option[StructType] = None,
    delimiter: String = ",")
    extends Source {
  def read(spark: SparkSession): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
    schema.fold(r)(s => r.schema(s)).csv(path)
  }
}

/** JSON-lines scan. Schema should be DECLARED for production reads —
  * inference costs an extra full pass and, for timestamp-bearing data,
  * JSON is a lossy carrier (the default writer format truncates
  * sub-millisecond precision); ship timestamps as integer epoch columns
  * through JSON, or use a columnar format.
  */
final case class JsonSource(path: String, schema: Option[StructType] = None)
    extends Source {
  def read(spark: SparkSession): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }
}

/** ORC columnar scan — same pushdown/pruning contract as parquet
  * (PushedFilters / ReadSchema reach the stripe footers).
  */
final case class OrcSource(path: String) extends Source {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** JDBC scan with generated SELECT from the table definition (reference:
  * jobs/raw/dl_rw_job.py:59-66,86-96). `numPartitions`+bounds enable
  * parallel extraction — the reference read single-threaded; at scale the
  * partition column should be the primary key or the watermark column.
  */
final case class JdbcSource(
    url: String,
    tableDef: graft.meta.TableDef,
    properties: Map[String, String] = Map.empty,
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Int = 1)
    extends Source {
  def read(spark: SparkSession): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", url)
      .option("query", tableDef.extractionSql())
    properties.foreach { case (k, v) => r = r.option(k, v) }
    (partitionColumn, lowerBound, upperBound) match {
      case (Some(c), Some(lo), Some(hi)) =>
        // `query` + partitioning are mutually exclusive in the Spark JDBC
        // source: switch to dbtable-with-subquery form.
        r = spark.read.format("jdbc")
          .option("url", url)
          .option("dbtable", s"(${tableDef.extractionSql()}) src")
          .option("partitionColumn", c)
          .option("lowerBound", lo)
          .option("upperBound", hi)
          .option("numPartitions", numPartitions)
        properties.foreach { case (k, v) => r = r.option(k, v) }
      case _ => ()
    }
    r.load()
  }
}

/** Reads a path-identified table, falling back to an empty DataFrame with
  * the declared schema when the path does not exist yet — the
  * first-run-bootstrap fix for the reference's self-read upsert crash
  * (reference: .../dl_ct_gosales_product_lkp_01.py:146 has no
  * empty-target fallback; SURVEY §3.2.6).
  */
object TargetTable {
  /** The table at `path`, its schema read from one footer on the
    * driver ([[org.apache.spark.sql.graftbridge.Bridge.footerSchema]]).
    * Falls back to an empty frame ONLY for genuine first-run states: a
    * missing path, or a directory with no data file anywhere (the
    * listing skips `_temporary`/`_SUCCESS` and other underscore/dot
    * names; partitioned targets keep files under key=value subdirs).
    * An existing-but-unreadable target (a corrupt data file) must FAIL,
    * not bootstrap: its footer read throws, because a key-map upsert
    * fed a silently-empty target would reissue duplicate surrogate keys.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
}
