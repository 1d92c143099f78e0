package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.json4s.JObject
import org.json4s.JsonDSL._

/** Order-independent digest of an op's result: row count, the sorted
  * column names and the sum (mod 2^64) of a 64-bit hash of each row's
  * canonical text. `perfbench/oracle.py` canonicalises DuckDB rows the
  * same way, so a Spark result and its oracle compare by digest.
  *
  * Canonical text of a row: its values in column-name order joined by
  * U+001F. A double is written as a plain integer when it is integral
  * and below 2^53, otherwise by its IEEE bits in hex, so two doubles
  * match exactly when their bits do (the oracle gates are built to be
  * bit-identical across engines). A decimal is written without
  * trailing zeros, a timestamp as UTC epoch microseconds, a date as
  * ISO text, null as `\N`. */
final case class Digest(rows: Long, cols: Seq[String], hash: Long) {
  def hex: String = java.lang.Long.toUnsignedString(hash, 16)
  def json: JObject = ("rows" -> rows) ~ ("cols" -> cols.mkString(",")) ~ ("hash" -> hex)
}

object Digest {
  def of(schema: StructType, rows: Array[Row]): Digest = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val text = order.map { case (_, i) => canon(r.get(i)) }.mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(text.getBytes(UTF_8))).getLong
    }
    Digest(rows.length.toLong, order.map(_._1).toSeq, sum)
  }

  private val TwoPow53 = 9007199254740992.0

  def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < TwoPow53) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => canonDouble(x.toDouble)
    case x: Double => canonDouble(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString
    case x: scala.math.BigDecimal => canon(x.bigDecimal)
    case x: String => x
    case x: java.sql.Timestamp =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case x: java.time.Instant =>
      (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x: java.time.LocalDateTime => canon(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => (0 until x.length).map(i => canon(x.get(i))).mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, e) => canon(k) + ":" + canon(e) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
