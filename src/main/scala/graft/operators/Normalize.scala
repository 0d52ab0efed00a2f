package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** String/key normalization (SURVEY §2.2 R3/R7/R8). All pure Column
  * expressions — whole-stage-codegen friendly, no UDFs.
  */
object Normalize {

  /** Trim every StringType column (reference: jobs/raw/dl_rw_job.py:98 —
    * `.strip()` over all values). Python strip removes all leading and
    * trailing whitespace incl. \r\n\t, so use a regex trim, not `trim`
    * (which strips spaces only).
    */
  def trimAll(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType)
        regexp_replace(col(f.name), "^\\s+|\\s+$", "").as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Case-insensitive join-key normalization (reference:
    * .../dl_ct_gosales_sales_fact_01.py:68-71 — `lower()` on every key).
    * Normalize at comparison, never at write (SURVEY §7.5.4).
    */
  def lowerKey(c: Column): Column = lower(c)

  /** Fuzzy key normalization: LOWER(REPLACE(TRIM(x),' ','')) (reference:
    * jobs/curated/helpings/tehsil_hlp/punjabcencus_tehsil_hlp_01.sql:14).
    */
  def fuzzyKey(c: Column): Column =
    lower(regexp_replace(trim(c), " ", ""))

  /** Winsorize a numeric column: clip values outside the [loQ, hiQ]
    * exact quantiles to the quantile bounds — the standard outlier
    * treatment before training on heavy-tailed numerics (vs dropping
    * rows, which biases the sample). Two passes: one percentile
    * aggregate, broadcast back, then a map-side clip. NULLs stay NULL
    * (Spark's `greatest`/`least` skip NULLs, which would otherwise
    * silently FILL nulls with the lower bound). At 100 TB swap the
    * exact `percentile` for `approx_percentile` — the clip plumbing is
    * identical, the bounds are then sketch-derived.
    */
  def winsorize(
      df: org.apache.spark.sql.DataFrame,
      c: String,
      loQ: Double = 0.05,
      hiQ: Double = 0.95): org.apache.spark.sql.DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    clipToBounds(df, c, df.agg(
      org.apache.spark.sql.functions.expr(s"percentile($c, $loQ)").as("__wlo"),
      org.apache.spark.sql.functions.expr(s"percentile($c, $hiQ)").as("__whi")))
  }

  /** [[winsorize]] with SKETCH-derived bounds — the promised 100 TB
    * swap: `approx_percentile` builds a KLL-style sketch in one
    * partial-aggregate pass (mergeable map-side state, no full sort of
    * the column the exact `percentile` needs), with rank error bounded
    * by n/`accuracy`. The clip plumbing is byte-identical to the exact
    * variant; only the two bound scalars differ, by at most that rank
    * error (gated by the `winsorize_approx` oracle row: both sketch
    * bounds must land inside exact ±2-percentile bands).
    */
  def winsorizeApprox(
      df: org.apache.spark.sql.DataFrame,
      c: String,
      loQ: Double = 0.05,
      hiQ: Double = 0.95,
      accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ, "need 0 <= loQ < hiQ <= 1")
    require(accuracy > 0, "accuracy must be positive")
    clipToBounds(df, c, df.agg(
      org.apache.spark.sql.functions
        .expr(s"CAST(approx_percentile($c, $loQ, $accuracy) AS DOUBLE)")
        .as("__wlo"),
      org.apache.spark.sql.functions
        .expr(s"CAST(approx_percentile($c, $hiQ, $accuracy) AS DOUBLE)")
        .as("__whi")))
  }

  /** Shared clip stage: bounds broadcast back, map-side clamp, NULLs
    * preserved (see [[winsorize]]'s scaladoc for why the NULL branch
    * is explicit).
    */
  private def clipToBounds(
      df: org.apache.spark.sql.DataFrame,
      c: String,
      bounds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.crossJoin(org.apache.spark.sql.functions.broadcast(bounds))
      .withColumn(c,
        when(col(c).isNull, lit(null).cast(df.schema(c).dataType))
          .otherwise(least(greatest(col(c).cast("double"), col("__wlo")),
            col("__whi")).cast(df.schema(c).dataType)))
      .drop("__wlo", "__whi")
}
