package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a row multiset: "count:sum", where each
  * row contributes the first 60 bits of the md5 of its canonical text.
  * The canonical text joins the columns in name order with '|':
  * integers and strings as written, timestamps as epoch microseconds,
  * doubles as floor(x * 1e6 + 0.5), nulls as N. perfbench/check.py
  * computes the same digest over reference rows. */
object Digest {

  private def canon(f: StructField): Column = {
    val c = col(f.name)
    val s = f.dataType match {
      case TimestampType | TimestampNTZType => unix_micros(c).cast("string")
      case DoubleType | FloatType => floor(c * 1e6 + 0.5).cast("long").cast("string")
      case _ => c.cast("string")
    }
    coalesce(s, lit("N"))
  }

  /** (count, sum) computed by Spark, without collecting the rows. */
  def parts(df: DataFrame): (Long, BigInt) = {
    val text = concat_ws("|", df.schema.fields.sortBy(_.name).map(canon).toIndexedSeq: _*)
    val r = df.select(conv(substring(md5(text), 1, 15), 16, 10)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }

  def of(df: DataFrame): String = { val (c, s) = parts(df); s"$c:$s" }

  /** Canonical text of a collected value; check.canon writes the same
    * for DuckDB's. Nested values are bracketed: arrays [a,b], structs
    * {a,b}, maps {k:v} in key order. */
  def canonValue(v: Any): String = v match {
    case null => "N"
    case d: Double => math.floor(d * 1e6 + 0.5).toLong.toString
    case f: Float => math.floor(f.toDouble * 1e6 + 0.5).toLong.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime => canonValue(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canonValue).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canonValue(k), canonValue(x)) }.sorted
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonValue).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical column order and row texts of collected rows. */
  def texts(schema: StructType, rows: Seq[Row]): (Seq[String], Seq[Seq[String]]) = {
    val order = schema.fields.map(_.name).zipWithIndex.sortBy(_._1)
    (order.map(_._1).toSeq, rows.map(r => order.map { case (_, i) => canonValue(r.get(i)) }.toSeq))
  }

  def ofTexts(rows: Seq[Seq[String]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sum = rows.map { r =>
      val hex = md.digest(r.mkString("|").getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      BigInt(hex.substring(0, 15), 16)
    }.sum
    s"${rows.size}:$sum"
  }
}
