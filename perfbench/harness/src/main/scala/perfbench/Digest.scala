package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-insensitive digests of a collected result.
  *
  * `canonical` matches `oracle.py`: columns sorted by name, every
  * non-integral number rounded half-even to 4 decimals, timestamps as
  * epoch microseconds, each row hashed with SHA-256 and the row hashes
  * summed mod 2^64. It is compared with the DuckDB oracle's digest.
  *
  * `quick` is a cheap fingerprint for comparing two Spark runs of the
  * same query: doubles are compared at 4 decimals, everything else by
  * value hash.
  */
object Digest {
  final case class Result(rows: Long, digest: String, columns: Seq[String])

  def canonical(columns: Seq[String], rows: Array[Row]): Result = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Result(rows.length.toLong, java.lang.Long.toUnsignedString(sum), order.map(columns(_)))
  }

  private def dec(b: JBigDecimal): String = {
    val s = b.setScale(4, RoundingMode.HALF_EVEN)
    if (s.signum == 0) "0.0000" else s.toPlainString
  }

  private def fp(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else dec(new JBigDecimal(d))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigInteger => n.toString
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case b: JBigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => (t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def quick(rows: Array[Row]): (Long, Int) = {
    var sum = 0
    rows.foreach(r => sum += quickHash(r))
    (rows.length.toLong, sum)
  }

  private def quickHash(v: Any): Int = v match {
    case null => 0x5bd1e995
    case d: Double => java.lang.Long.hashCode(if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d) else math.round(d * 1e4))
    case f: Float => quickHash(f.toDouble)
    case r: Row =>
      var h = MurmurHash3.seqSeed
      var i = 0
      while (i < r.length) { h = MurmurHash3.mix(h, quickHash(r.get(i))); i += 1 }
      MurmurHash3.finalizeHash(h, r.length)
    case xs: scala.collection.Seq[_] => MurmurHash3.orderedHash(xs.map(quickHash))
    case m: scala.collection.Map[_, _] =>
      MurmurHash3.unorderedHash(m.map { case (k, x) => (quickHash(k), quickHash(x)) })
    case b: Array[Byte] => java.util.Arrays.hashCode(b)
    case other => other.hashCode
  }
}
