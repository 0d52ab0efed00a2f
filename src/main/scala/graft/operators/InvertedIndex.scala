package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persisted inverted index over a document corpus: token → posting
  * blocks, partitioned so a term probe reads only its hash bucket —
  * the serving-path complement of the scan-side BM25 query
  * (QueriesCorpus.bm25TopK). A standing corpus-search deployment
  * builds this once per corpus drop and answers conjunctive queries
  * from the index alone; the corpus is never rescanned.
  *
  * Layout (parquet, partitioned by `tb`):
  *   tb      = pmod(xxhash64(token), nBuckets)   — partition column
  *   token   = the term
  *   block   = doc_id div blockSize
  *   posting = array<struct<doc_id, tf>> sorted by doc_id, max
  *             blockSize entries
  *
  * 100 TB shape:
  *   - Build is two partial-agg shuffles: (token, doc)→tf, then
  *     (token, block)→posting array. Blocking by `doc_id div
  *     blockSize` bounds EVERY row's array at blockSize entries —
  *     including stopwords — without any per-token window (a
  *     row_number() over a stopword's billion postings would put one
  *     token's postings in one task; the block key is computable
  *     map-side).
  *   - A probe filters `tb isin (term buckets)` — partition pruning
  *     reads |terms| directories of the index, nothing else (proved
  *     via scan-bytes in InvertedIndexSpec) — then `token isin terms`
  *     row-filters within the bucket.
  *   - Conjunctive (AND) search explodes the probed postings and
  *     keeps doc_ids seen |terms| times: one shuffle over posting
  *     rows of the QUERIED terms only, independent of corpus size.
  */
object InvertedIndex {

  val DefaultBuckets = 64
  val DefaultBlockSize = 10000L

  /** Tokenize, count, block and persist the index. Multi-occurrence
    * tokens collapse to (doc, tf); empty docs contribute nothing.
    * The layout parameters are persisted under `_meta` (underscore
    * prefix — invisible to partition discovery) and every later
    * append/probe reads them from there: a caller cannot hand `append`
    * a different bucket count than the build used and silently plant
    * postings where pruned probes never look. */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      nBuckets: Int = DefaultBuckets,
      blockSize: Long = DefaultBlockSize): Unit = {
    postings(docs, idCol, textCol, nBuckets, blockSize)
      .write.mode("overwrite").partitionBy("tb").parquet(indexPath)
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((nBuckets, blockSize)).toDF("n_buckets", "block_size")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/_meta")
  }

  /** The layout parameters the index was built with. */
  def meta(spark: SparkSession, indexPath: String): (Int, Long) = {
    val r = spark.read.parquet(s"$indexPath/_meta").head()
    (r.getAs[Int]("n_buckets"), r.getAs[Long]("block_size"))
  }

  private def postings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int,
      blockSize: Long): DataFrame = {
    require(nBuckets >= 1 && blockSize >= 1, "nBuckets/blockSize >= 1")
    docs
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .withColumn("block", expr(s"doc_id div ${blockSize}L"))
      .groupBy("token", "block")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("posting"))
      .withColumn("tb", pmod(xxhash64(col("token")), lit(nBuckets)))
  }

  /** Incrementally index a NEW batch of documents: compute the delta's
    * posting blocks and APPEND them — O(batch) work, the existing index
    * is never read or rewritten. Correct because posting rows are
    * additive for disjoint documents: a token's postings may span many
    * rows and probes explode them all; each (token, doc) pair lives in
    * exactly one batch, so per-doc tfs never conflict. (Re-ingesting a
    * CHANGED document needs the merge-on-read delete pattern of
    * CowTable instead — out of scope for an append-only corpus index.)
    * Same maintenance contract as Similarity.appendIndex: daily
    * pipelines index deltas, not corpora. */
  def append(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String): Unit = {
    val (nBuckets, blockSize) = meta(docs.sparkSession, indexPath)
    postings(docs, idCol, textCol, nBuckets, blockSize)
      .write.mode("append").partitionBy("tb").parquet(indexPath)
  }

  /** Index frame filtered to `terms`' hash buckets (partition-pruned)
    * and rows. The bucket of each term is computed by SPARK
    * (xxhash64 over a literal — same function instance the build side
    * used) with the PERSISTED bucket count, never reimplemented
    * driver-side or re-guessed by the caller. */
  def probe(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val (nBuckets, _) = meta(spark, indexPath)
    val idx = spark.read.parquet(indexPath)
    val bucketOf = terms.map(t =>
      pmod(xxhash64(lit(t)), lit(nBuckets)).cast("long"))
    idx.where(bucketOf.map(col("tb") === _).reduce(_ || _))
      .where(col("token").isin(terms: _*))
  }

  /** Conjunctive search: doc_ids containing EVERY term, with each
    * term's tf in column `tf_<i>` (query-term order). Positional
    * conditional aggregation, not `pivot`: a term that happens to
    * collide with a column name ("doc_id") or another term must not
    * be able to break name resolution. */
  def searchAnd(
      spark: SparkSession,
      indexPath: String,
      terms: Seq[String]): DataFrame = {
    require(terms.distinct.size == terms.size, s"duplicate terms: $terms")
    val exploded = probe(spark, indexPath, terms)
      .select(col("token"), explode(col("posting")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      first(when(col("token") === lit(t), col("tf")), ignoreNulls = true)
        .as(s"tf_$i")
    }
    exploded.groupBy("doc_id")
      .agg(tfCols.head, tfCols.tail: _*)
      .where(terms.indices.map(i => col(s"tf_$i").isNotNull)
        .reduce(_ && _))
      .orderBy("doc_id")
  }
}
