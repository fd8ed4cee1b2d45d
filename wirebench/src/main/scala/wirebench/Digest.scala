package wirebench

import java.time.{Instant, LocalDate, OffsetDateTime}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types._

/** Order-insensitive result digest: the row count plus the 64-bit sum
  * of per-row hashes of canonical cell texts. Every protocol hands
  * cells back in its own representation (JDBC objects, JSON nodes,
  * Spark `Row` values); [[Digest.canon]] maps each onto one text per
  * SQL type, so the in-process oracle and every wire agree on what a
  * value is.
  */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {

  private val Null = "\u0000null"

  /** One text per value of `dt`, whatever the carrier. */
  def canon(dt: DataType, v: Any): String = v match {
    case null => Null
    case _ => dt match {
      case DoubleType | FloatType => num(java.lang.Double.toString(v match {
        case n: Number => n.doubleValue
        case s => s.toString.toDouble
      }))
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => num(v.toString)
      case BooleanType => v.toString.toLowerCase
      case DateType => v match {
        case d: java.sql.Date => d.toLocalDate.toString
        case d: LocalDate => d.toString
        case s => LocalDate.parse(s.toString.take(10)).toString
      }
      case TimestampType | TimestampNTZType => micros(v).toString
      case _ => v.toString
    }
  }

  private def num(s: String): String =
    try new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
    catch { case _: NumberFormatException => s }

  /** Epoch microseconds of a timestamp carried as an object or as text
    * (ISO-8601 with an offset from JSON, or JDBC escape format in the
    * JVM zone, as `java.sql.Timestamp.toString` renders it).
    */
  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000 + t.getNanos / 1000
    case i: Instant => i.getEpochSecond * 1000000 + i.getNano / 1000
    case s =>
      val t = s.toString
      if (t.contains('T')) micros(OffsetDateTime.parse(t).toInstant)
      else micros(java.sql.Timestamp.valueOf(t))
  }

  /** Accumulates rows; cells are canonicalised against `schema`. */
  final class Builder(schema: StructType) {
    private val types = schema.fields.map(_.dataType)
    private val texts = new Array[String](types.length)
    private var n = 0L
    private var s = 0L

    def add(cells: Array[AnyRef]): Unit = {
      var i = 0
      while (i < types.length) { texts(i) = canon(types(i), cells(i)); i += 1 }
      add(texts.toSeq)
    }

    /** A row already in canonical form. */
    def add(canonical: Seq[String]): Unit = {
      val hi = MurmurHash3.orderedHash(canonical, 0x5eed)
      val lo = MurmurHash3.orderedHash(canonical, 0xfeed)
      s += (hi.toLong << 32) | (lo & 0xffffffffL)
      n += 1
    }

    def count: Long = n
    def result: Digest = Digest(n, s)
  }

  /** Digest of in-process `Row`s. */
  def ofRows(schema: StructType, rows: Iterable[org.apache.spark.sql.Row]): Digest = {
    val b = new Builder(schema)
    val cells = new Array[AnyRef](schema.length)
    rows.foreach { r =>
      var i = 0
      while (i < cells.length) { cells(i) = r.get(i).asInstanceOf[AnyRef]; i += 1 }
      b.add(cells)
    }
    b.result
  }
}
