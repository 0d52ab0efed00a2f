package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{AuditColumns, FactEnrich, KeyMapUpsert, Mask, Normalize, SqlRunner}
import graft.sinks.ParquetSink
import graft.sources.TargetTable

/** The reference's full raw → curated → semantic medallion flow,
  * re-expressed on the test star schema (reference: the five curated
  * jobs under jobs/curated/ + jobs/semantic/gosales_thin_layer/,
  * sequenced per composer/goSalesPipeline.py:23-29).
  *
  * Layer layout mirrors the reference's path-as-identity buckets
  * (gs://dd_raw/..., gs://dd_curated/<usecase>/<table> —
  * .../sales_fact_01.py:119-121) under a local root.
  */
object Medallion {

  def tasks(sfDir: String, root: String, batchId: String): Seq[Task] = Seq(

    // RAW: ingest + whitespace strip + masking (dl_rw_job.py analog;
    // masking per metadata masking_column — commons/utilities.py:194)
    Task("events", "RAW", 1L) { spark =>
      val df = Normalize.trimAll(Tables.load(spark, sfDir, "events"))
      val sink = ParquetSink(s"$root/raw/events")
      sink.write(df)
      // count the WRITTEN parquet from its footers, on the driver:
      // re-counting the plan would execute the whole lineage a second
      // time, and re-reading the table costs three Spark jobs
      sink.rowCount(spark)
    },
    Task("documents", "RAW", 2L) { spark =>
      val df = Normalize.trimAll(Tables.load(spark, sfDir, "documents"))
        .withColumn("source", Mask.hashColumn(col("source")))
      val sink = ParquetSink(s"$root/raw/documents")
      sink.write(df)
      sink.rowCount(spark)
    },

    // CURATED: key-map upsert (method_hlp analog — self-read target
    // with first-run bootstrap, append only new keys)
    Task("event_type_map", "CURATED", 3L) { spark =>
      val target = TargetTable.readOrEmpty(spark, s"$root/curated/event_type_map",
        StructType(Seq(
          StructField("event_type", StringType),
          StructField("event_type_key", LongType))))
      val fresh = KeyMapUpsert.newKeys(
        Tables.parquet(spark, s"$root/raw/events"),
        target, "event_type", "event_type_key")
      // pin the plan so the count and the conditional write execute
      // the same rows exactly once
      val out = AuditColumns.withAudit(fresh, batchId, "graft", 3L).cache()
      val n = out.count()
      if (n > 0) ParquetSink(s"$root/curated/event_type_map", mode = "append").write(out)
      out.unpersist()
      n
    },

    // CURATED: dimension build (retailer_dim analog — inner join + audit)
    Task("customer_dim", "CURATED", 4L) { spark =>
      val c = Tables.load(spark, sfDir, "customer")
      val n = Tables.load(spark, sfDir, "nation")
      val dim = AuditColumns.withAudit(
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .select(c("c_custkey"), lower(c("c_name")).as("c_name_key"),
            c("c_mktsegment"), n("n_name").as("nation")),
        batchId, "graft", 4L)
      val sink = ParquetSink(s"$root/curated/customer_dim")
      sink.write(dim)
      sink.rowCount(spark)
    },

    // CURATED: fact enrichment (sales_fact analog — broadcast left
    // joins, cast projections, dynamic partition overwrite)
    Task("sales_fact", "CURATED", 5L) { spark =>
      val li = Tables.load(spark, sfDir, "lineitem")
      val fact = AuditColumns.withAudit(
        FactEnrich.enrich(li, Seq(
          FactEnrich.Dim(Tables.load(spark, sfDir, "part"),
            keys = Seq("l_partkey" -> "p_partkey"),
            select = Seq("p_brand" -> "p_brand")),
          FactEnrich.Dim(Tables.load(spark, sfDir, "supplier"),
            keys = Seq("l_suppkey" -> "s_suppkey"),
            select = Seq("s_name" -> "s_name")))),
        batchId, "graft", 5L)
      val sink = ParquetSink(s"$root/curated/sales_fact",
        partitionBy = Seq("l_returnflag"))
      sink.write(fact)
      sink.rowCount(spark)
    },

    // SEMANTIC: thin-layer aggregation via the parameterized SqlRunner
    // (tl_sm_gosales_overview_01.sql analog)
    Task("thin_layer", "SEMANTIC", 6L) { spark =>
      Tables.parquet(spark, s"$root/curated/sales_fact")
        .createOrReplaceTempView("sales_fact")
      val out = SqlRunner.run(spark,
        """SELECT l_returnflag, l_linestatus,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
          | COUNT(*) AS n_rows,
          | COUNT(DISTINCT p_brand) AS n_brands,
          | '{batch_id}' AS batch_id
          |FROM sales_fact GROUP BY l_returnflag, l_linestatus""".stripMargin,
        Map("batch_id" -> batchId))
      val sink = ParquetSink(s"$root/semantic/thin_layer")
      sink.write(out)
      sink.rowCount(spark)
    })

  /** Runs the whole medallion DAG; returns the audit records. */
  def run(spark: SparkSession, sfDir: String, root: String,
      batchId: String): Seq[graft.meta.JobRun] =
    DagRunner(spark, batchId, s"$root/audit/operational_metadata")
      .run(tasks(sfDir, root, batchId))
}
