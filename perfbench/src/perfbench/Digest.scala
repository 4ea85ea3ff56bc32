package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col

/** Order-insensitive digest of every output column of a DataFrame.
  *
  * Each row is encoded canonically (columns sorted by name, one tagged
  * field per value), hashed with MD5, and the first 8 bytes of each row
  * hash are summed modulo 2^64. The same encoding is implemented in
  * `oracle.py`, so a DuckDB result can be compared with a Spark result
  * without either side sorting or collecting rows. Computing it is ONE
  * Spark action over all columns, so Catalyst cannot prune any output
  * column away (as it can for `.count()`). */
object Digest {

  final case class Result(rows: Long, sum: Long, columns: Seq[String]) {
    def hex: String = f"$sum%016x"
  }

  def of(df: DataFrame): Result = {
    val names = df.columns.toSeq.sorted
    val ordered = df.select(names.map(n => col("`" + n.replace("`", "``") + "`")): _*)
    val parts = ordered.mapPartitions { rows =>
      val md = MessageDigest.getInstance("MD5")
      val buf = new ByteArrayOutputStream(256)
      val out = new DataOutputStream(buf)
      var n = 0L
      var sum = 0L
      rows.foreach { r =>
        buf.reset()
        var i = 0
        while (i < r.length) { encode(out, r.get(i)); i += 1 }
        out.flush()
        sum += java.nio.ByteBuffer.wrap(md.digest(buf.toByteArray)).getLong
        n += 1
      }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, names)
  }

  private def text(out: DataOutputStream, tag: Char, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    out.writeByte(tag)
    out.write(b.length.toString.getBytes(UTF_8))
    out.writeByte(':')
    out.write(b)
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private[perfbench] def encode(out: DataOutputStream, v: Any): Unit = v match {
    case null => out.writeByte('N')
    case b: Boolean => out.writeByte('B'); out.writeByte(if (b) 1 else 0)
    case x @ (_: Byte | _: Short | _: Int | _: Long) =>
      text(out, 'I', x.toString)
    case x: java.math.BigInteger => text(out, 'I', x.toString)
    case x: scala.math.BigInt => text(out, 'I', x.toString)
    case f: Float => encode(out, f.toDouble)
    case d: Double =>
      out.writeByte('F')
      out.writeLong(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
    case d: java.math.BigDecimal =>
      text(out, 'D', if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => encode(out, d.bigDecimal)
    case s: String => text(out, 'S', s)
    case t: java.sql.Timestamp => text(out, 'T', micros(t.toInstant).toString)
    case t: java.time.Instant => text(out, 'T', micros(t).toString)
    case t: java.time.LocalDateTime =>
      text(out, 'T', micros(t.toInstant(java.time.ZoneOffset.UTC)).toString)
    case d: java.sql.Date => text(out, 'd', d.toLocalDate.toEpochDay.toString)
    case d: java.time.LocalDate => text(out, 'd', d.toEpochDay.toString)
    case b: Array[Byte] =>
      out.writeByte('X'); out.write(b.length.toString.getBytes(UTF_8))
      out.writeByte(':'); out.write(b)
    case r: Row =>
      out.writeByte('{')
      var i = 0
      while (i < r.length) { encode(out, r.get(i)); i += 1 }
      out.writeByte('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val b = new ByteArrayOutputStream()
        val o = new DataOutputStream(b)
        encode(o, k); o.flush()
        val kb = b.toByteArray
        encode(o, x); o.flush()
        (kb, b.toByteArray)
      }.sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
      out.writeByte('M'); out.write(entries.size.toString.getBytes(UTF_8))
      out.writeByte(':'); entries.foreach(e => out.write(e._2))
    case s: scala.collection.Seq[_] =>
      out.writeByte('['); out.write(s.size.toString.getBytes(UTF_8))
      out.writeByte(':'); s.foreach(encode(out, _)); out.writeByte(']')
    case other =>
      throw new IllegalArgumentException(
        s"digest: unsupported value type ${other.getClass.getName}")
  }
}
