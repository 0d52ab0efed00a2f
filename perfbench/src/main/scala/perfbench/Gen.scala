package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Everything is built in plain Scala on the
  * driver, so the same rows feed both the system (as Parquet or as
  * DataFrames) and the models that check its outputs.
  */
object Gen {

  // ---- cow tables: (key, part, v, s), part a pure function of key ----

  val Parts = 4
  val CowSchema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))

  final case class CowRow(key: Long, part: Int, v: Long, s: String) {
    /** Raw payload bytes of the row: the unit of "user bytes". */
    def userBytes: Long = 8 + 4 + 8 + s.length
  }

  def partOf(key: Long): Int = (key % Parts).toInt

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def payload(rng: SplittableRandom, len: Int): String = {
    val b = new StringBuilder(len)
    var i = 0
    while (i < len) { b.append(Alphabet.charAt(rng.nextInt(Alphabet.length))); i += 1 }
    b.toString
  }

  def cowRow(rng: SplittableRandom, key: Long): CowRow =
    CowRow(key, partOf(key), rng.nextLong(1000000L), payload(rng, 24))

  def cowFrame(spark: SparkSession, rows: Seq[CowRow]): DataFrame =
    spark.createDataFrame(
      rows.map(r => Row(r.key, r.part, r.v, r.s)).asJava, CowSchema)

  def keyFrame(spark: SparkSession, keys: Seq[Long]): DataFrame =
    spark.createDataFrame(
      keys.map(k => Row(k, partOf(k))).asJava,
      StructType(CowSchema.fields.take(2)))

  // ---- the medallion star schema ----

  final case class StarSizes(
      lineitem: Int, part: Int, supplier: Int, customer: Int,
      events: Int, documents: Int)

  val EventTypes: Seq[String] = Seq("view", "click", "cart", "buy", "error")
  val Brands: Seq[String] =
    for (a <- 1 to 5; b <- 1 to 5) yield s"Brand#$a$b"
  private val Flags = Seq("A", "N", "R")
  private val Statuses = Seq("F", "O")
  private val Words = Seq("key", "agg", "row", "scan", "table", "value",
    "part", "hash", "merge", "batch", "spark", "window", "join", "sort")

  /** The seven medallion inputs as rows, plus the schema of each. */
  final case class Star(tables: Map[String, (StructType, IndexedSeq[Row])]) {
    def rows(name: String): IndexedSeq[Row] = tables(name)._2
  }

  def star(seed: Long, n: StarSizes): Star = {
    val rng = new SplittableRandom(seed)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def f(name: String, dt: DataType) = StructField(name, dt)
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (1 to n.customer).map(i =>
      Row(i.toLong, s"Customer#${"%09d".format(i)}", rng.nextInt(25),
        rng.nextInt(1000000) / 100.0, Seq("AUTO", "BUILD", "FURN")(rng.nextInt(3))))
    val supplier = (1 to n.supplier).map(i =>
      Row(i.toLong, s"Supplier#${"%09d".format(i)}", rng.nextInt(25),
        rng.nextInt(1000000) / 100.0))
    val part = (1 to n.part).map(i =>
      Row(i.toLong, s"part $i", Brands(rng.nextInt(Brands.length)),
        s"TYPE${rng.nextInt(10)}", 1 + rng.nextInt(50),
        900 + rng.nextInt(20000) / 100.0))
    val lineitem = (0 until n.lineitem).map { i =>
      Row((i / 4).toLong, 1L + rng.nextInt(n.part), 1L + rng.nextInt(n.supplier),
        i % 4 + 1, (1 + rng.nextInt(50)).toDouble,
        rng.nextInt(10000000) / 100.0, rng.nextInt(11) / 100.0,
        rng.nextInt(9) / 100.0, Flags(rng.nextInt(3)), Statuses(rng.nextInt(2)),
        new Timestamp(t0 + rng.nextInt(2000) * 86400000L))
    }
    val events = (0 until n.events).map(i =>
      Row(i.toLong, new Timestamp(t0 + i * 1000L * rng.nextInt(1, 400)),
        rng.nextInt(1000).toLong, EventTypes(rng.nextInt(EventTypes.length)),
        rng.nextInt(100000) / 100.0, s"""{"k": ${rng.nextInt(100)}}"""))
    val documents = (0 until n.documents).map { i =>
      val text = (0 until 20 + rng.nextInt(40))
        .map(_ => Words(rng.nextInt(Words.length))).mkString(" ")
      Row(i.toLong, s" $text ", "en", s"src${rng.nextInt(20)}", text.length.toLong)
    }
    Star(Map(
      "nation" -> (StructType(Seq(f("n_nationkey", IntegerType),
        f("n_name", StringType), f("n_regionkey", IntegerType))), nation),
      "customer" -> (StructType(Seq(f("c_custkey", LongType),
        f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))), customer),
      "supplier" -> (StructType(Seq(f("s_suppkey", LongType),
        f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))), supplier),
      "part" -> (StructType(Seq(f("p_partkey", LongType),
        f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      "lineitem" -> (StructType(Seq(f("l_orderkey", LongType),
        f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType),
        f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampType))), lineitem),
      "events" -> (StructType(Seq(f("event_id", LongType),
        f("ts", TimestampType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      "documents" -> (StructType(Seq(f("doc_id", LongType),
        f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))), documents)))
  }

  /** Writes each table as `<dir>/<name>.parquet`, the layout
    * `graft.Tables.load` reads.
    */
  def writeStar(spark: SparkSession, star: Star, dir: String): Unit =
    star.tables.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
