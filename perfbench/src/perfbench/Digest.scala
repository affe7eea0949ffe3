package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** An order-independent fingerprint of a query result, under the
  * comparison rules of the repository's DuckDB oracle check: columns are
  * taken by sorted name, rows as a multiset, integers exactly and
  * fractional numbers to nine significant digits (the oracle compares
  * floats to 1e-9 relative). `perfbench/oracle.py` computes the same
  * fingerprint for a DuckDB result; the two must stay in step.
  *
  * The result is evaluated in full (`queryExecution.toRdd`), so nothing
  * the query computes is elided, and only the three-number fingerprint
  * travels back to the Spark driver. */
object Digest {

  /** "rows:sumA:sumB" — the row count and two 64-bit sums of per-row
    * MD5 halves. */
  def of(df: DataFrame): String = {
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, a, b) = df.queryExecution.toRdd.mapPartitions { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val md5 = MessageDigest.getInstance("MD5")
      var n = 0L; var a = 0L; var b = 0L
      rows.foreach { ir =>
        val r = toRow(ir).asInstanceOf[Row]
        val sb = new StringBuilder
        order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
        val d = md5.digest(sb.toString.getBytes(UTF_8))
        a += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        b += java.nio.ByteBuffer.wrap(d, 8, 8).getLong
        n += 1
      }
      Iterator((n, a, b))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((n, a, b), (m, x, y)) => (n + m, a + x, b + y) }
    f"$n:$a%016x:$b%016x"
  }

  private val nine = new java.math.MathContext(9, java.math.RoundingMode.HALF_EVEN)

  /** `%.8e` of the exact binary value, rounded half-even — Python's
    * formatting. (Java's `%e` rounds the shortest decimal form half-up,
    * which differs on ties such as ten-digit integers ending in 5.) */
  private def num(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) sb.append("0.00000000e+00")
    else {
      val r = new java.math.BigDecimal(d).round(nine)
      val digits = r.unscaledValue.abs.toString.padTo(9, '0')
      val exp = r.precision - 1 - r.scale
      if (d < 0) sb.append('-')
      sb.append(digits.head).append('.').append(digits.tail)
        .append(if (exp < 0) "e-" else "e+").append(f"${math.abs(exp)}%02d")
    }

  private def integer(v: BigInt, sb: StringBuilder): Unit = {
    num(v.toDouble, sb)
    if (v.abs >= BigInt(1000000000)) sb.append('|').append(v.toString)
  }

  private def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("\u0000")
    case b: Boolean => sb.append(b)
    case x: Byte => integer(BigInt(x.toInt), sb)
    case x: Short => integer(BigInt(x.toInt), sb)
    case x: Int => integer(BigInt(x), sb)
    case x: Long => integer(BigInt(x), sb)
    case x: Float => num(x.toDouble, sb)
    case x: Double => num(x, sb)
    case x: java.math.BigDecimal =>
      if (x.signum == 0 || x.stripTrailingZeros.scale <= 0) integer(BigInt(x.toBigInteger), sb)
      else num(x.doubleValue, sb)
    case s: String => sb.append('"').append(s).append('"')
    case d: java.sql.Date => sb.append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append(d.toString)
    case t: java.sql.Timestamp =>
      sb.append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => sb.append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case bytes: Array[Byte] => bytes.foreach(x => sb.append("%02x".format(x & 0xff)))
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames).getOrElse(Array.tabulate(r.length)(_.toString))
      sb.append('{')
      names.zipWithIndex.sortBy(_._1).foreach { case (nm, i) =>
        sb.append(nm).append(':'); canon(r.get(i), sb); sb.append(',')
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder; canon(k, e); e.append("=>"); canon(x, e); e.toString
      }.sorted
      sb.append('<').append(entries.mkString(",")).append('>')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => canon(x, sb); sb.append(',') }
      sb.append(']')
    case other => sb.append(other.toString)
  }
}
