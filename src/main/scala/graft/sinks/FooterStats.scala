package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A data file's manifest stats read from its own parquet footer: the
  * row count and, per stat column, the min/max in Spark string form and
  * the NULL count — what a grouped `count`/`min(c).cast("string")`/
  * `sum(isnull)` over the file computes, without reading a row.
  *
  * Min/max are decoded under the FILE's Spark type (the footer's
  * `org.apache.spark.sql.parquet.row.metadata` schema), then go through
  * Spark's own `Cast` to the manifest type and to string in the session
  * time zone — the widening a read of an older, narrower file applies,
  * and the exact text the aggregate's cast printed.
  *
  * Where the footer cannot vouch for a stat, it is left out, and every
  * reader treats a missing stat as "may match":
  *  - a float/double chunk holding NaN carries no min/max;
  *  - an INT96 timestamp chunk (Spark's default timestamp encoding)
  *    carries no min/max;
  *  - a chunk whose min and max together exceed 4 KiB carries no
  *    statistics at all, so neither min/max nor a NULL count;
  *  - a column the footer does not name.
  * A float/double zero min or max prints as `0.0`: parquet's reader
  * widens a zero envelope to [-0.0, 0.0], so the footer cannot tell
  * which zeros a chunk held. An aggregate over a chunk holding -0.0
  * may print `-0.0` there: an equal number, spelled differently.
  */
private[sinks] object FooterStats {

  /** One stat column of one file; None = unknown, never "absent". */
  final case class ColStats(
      min: Option[String], max: Option[String], nulls: Option[Long])

  val Unknown = ColStats(None, None, None)

  def rows(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.map(_.getRowCount).sum

  /** The field at `parts` (top-level name, then struct leaves) of the
    * file's Spark schema: its actual-case path and type. Exact names
    * first, else a unique case-insensitive match — how Spark's parquet
    * reader resolves a requested column by default.
    */
  def resolve(schema: StructType, parts: Seq[String])
      : Option[(Seq[String], DataType)] =
    parts match {
      case Seq() => None
      case head +: rest =>
        val f = schema.fields.find(_.name == head).orElse(
          schema.fields.filter(_.name.equalsIgnoreCase(head)) match {
            case Array(one) => Some(one)
            case _ => None
          })
        f.flatMap { f =>
          if (rest.isEmpty) Some(Seq(f.name) -> f.dataType)
          else f.dataType match {
            case st: StructType =>
              resolve(st, rest).map { case (p, dt) => (f.name +: p) -> dt }
            case _ => None
          }
        }
    }

  /** `value` (a Spark internal value of `from`) as the manifest's
    * string under type `to`; None when Spark cannot cast it.
    */
  def render(value: Any, from: DataType, to: DataType, tz: String)
      : Option[String] =
    if (!Cast.canCast(from, to)) None
    else {
      val typed = Literal(value, from)
      val widened = if (from == to) typed else Cast(typed, to, Some(tz))
      Option(Cast(widened, StringType, Some(tz)).eval()).map(_.toString)
    }

  /** A value printed as `text` under file type `from` (a partition
    * directory name), re-printed under manifest type `to`.
    */
  def widenText(text: String, from: DataType, to: DataType, tz: String)
      : Option[String] =
    Option(Cast(Literal(UTF8String.fromString(text)), from, Some(tz)).eval())
      .flatMap(render(_, from, to, tz))

  /** Stats of the leaf at the file-schema path `path` (of file type
    * `ft`) as manifest type `mt`.
    */
  def column(
      footer: ParquetMetadata, path: Seq[String], ft: DataType,
      mt: DataType, tz: String, rebase: (Int => Int, Long => Long))
      : ColStats = {
    val chunks = footer.getBlocks.asScala.toSeq.map(b =>
      b.getRowCount -> b.getColumns.asScala
        .find(_.getPath.toArray.toSeq == path))
    if (chunks.exists(_._2.isEmpty)) return Unknown
    val stats = chunks.map { case (n, c) => (n, c.get.getStatistics) }
    val counted = stats.forall { case (_, s) => s != null && s.isNumNullsSet }
    val nulls = if (counted) Some(stats.map(_._2.getNumNulls).sum) else None
    // chunks that may hold a value: all but those counted all-NULL
    val valued = stats.filterNot { case (n, s) =>
      s != null && s.isNumNullsSet && s.getNumNulls == n }
    if (valued.isEmpty ||
        valued.exists { case (_, s) => s == null || !s.hasNonNullValue })
      ColStats(None, None, nulls)
    else {
      // parquet's type-defined order: signed for ints and decimals,
      // unsigned bytes for strings — the order Spark's min/max use
      val ord = Ordering.comparatorToOrdering(valued.head._2.comparator()
        .asInstanceOf[java.util.Comparator[Any]])
      val lo = valued.map(_._2.genericGetMin.asInstanceOf[Any]).min(ord)
      val hi = valued.map(_._2.genericGetMax.asInstanceOf[Any]).max(ord)
      val unit = chunks.head._2.get.getPrimitiveType.getLogicalTypeAnnotation
      def str(v: Any) =
        sparkValue(v, ft, unit, rebase).flatMap(render(_, ft, mt, tz))
      ColStats(str(lo), str(hi), nulls)
    }
  }

  /** A parquet statistics value as the Spark internal value of file
    * type `ft` — the conversion Spark's parquet reader applies to the
    * stored value. None for a pairing this engine's writer never
    * produces.
    */
  private def sparkValue(
      v: Any, ft: DataType,
      logical: org.apache.parquet.schema.LogicalTypeAnnotation,
      rebase: (Int => Int, Long => Long)): Option[Any] = (ft, v) match {
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (ByteType, i: java.lang.Integer) => Some(i.byteValue)
    case (ShortType, i: java.lang.Integer) => Some(i.shortValue)
    case (IntegerType, i: java.lang.Integer) => Some(i.intValue)
    case (LongType, l: java.lang.Long) => Some(l.longValue)
    // a zero prints as 0.0: parquet's reader widens a zero envelope to
    // [-0.0, 0.0], so the footer cannot tell which zeros a chunk held
    case (FloatType, f: java.lang.Float) =>
      Some(if (f.floatValue == 0.0f) 0.0f else f.floatValue)
    case (DoubleType, d: java.lang.Double) =>
      Some(if (d.doubleValue == 0.0) 0.0 else d.doubleValue)
    case (d: DecimalType, i: java.lang.Integer) =>
      Some(Decimal(i.longValue, d.precision, d.scale))
    case (d: DecimalType, l: java.lang.Long) =>
      Some(Decimal(l.longValue, d.precision, d.scale))
    case (d: DecimalType, b: Binary) =>
      Some(Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(b.getBytes), d.scale), d.precision, d.scale))
    case (StringType, b: Binary) => Some(UTF8String.fromBytes(b.getBytes))
    case (DateType, i: java.lang.Integer) => Some(rebase._1(i.intValue))
    case (TimestampType | TimestampNTZType, l: java.lang.Long) =>
      val micros = logical match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          case TimeUnit.MILLIS => Some(Math.multiplyExact(l.longValue, 1000L))
          case TimeUnit.MICROS => Some(l.longValue)
          case _ => None
        }
        case _ => None
      }
      if (ft == TimestampType) micros.map(rebase._2) else micros
    case _ => None
  }
}
