package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Order-insensitive answer fingerprint: row count plus a hash of the
  * sorted canonical rows. Columns are taken in name order, so the check
  * does not depend on projection order. `answers.py` applies the same
  * rules to DuckDB's values; the two must stay in step.
  *
  * Canonical values: NULL is `\N`; booleans are `t`/`f`; integers are
  * plain decimal; every fractional number (float, double, decimal) is
  * its exact value rounded half-even to 6 places; dates are ISO;
  * timestamps are UTC `yyyy-MM-dd HH:mm:ss.SSSSSS`; arrays are
  * `[a,b,...]` of canonical elements; anything else is its string. */
object Canon {
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def fraction(d: JBigDecimal): String = {
    val r = d.setScale(6, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0.000000" else r.toPlainString
  }

  def double(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "Infinity" else "-Infinity")
    else fraction(new JBigDecimal(v))

  private def micros(i: Instant): String =
    LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(TsFmt)

  /** A value as Spark's `Row` holds it. */
  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: Float => double(x.toDouble)
    case x: Double => double(x)
    case x: JBigDecimal => fraction(x)
    case x: scala.math.BigDecimal => fraction(x.bigDecimal)
    case x: java.sql.Timestamp => micros(x.toInstant)
    case x: Instant => micros(x)
    case x: LocalDateTime => x.format(TsFmt)
    case x: java.sql.Date => x.toLocalDate.toString
    case x: LocalDate => x.toString
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x => x.toString
  }

  // PG type OIDs the wire server advertises
  private val IntOids = Set(20, 21, 23, 26)
  private val FracOids = Set(700, 701, 1700)

  /** A value as the Postgres wire's text format carries it, typed by the
    * column's OID from RowDescription. Arrays travel as text (OID 25),
    * so statements checked over the wire return scalars only. */
  def wire(text: String, oid: Int): String =
    if (text == null) "\\N"
    else if (oid == 16) (if (text == "t" || text == "true") "t" else "f")
    else if (IntOids(oid)) text
    else if (FracOids(oid)) text match {
      case "NaN" | "Infinity" | "-Infinity" => text
      case _ => fraction(new JBigDecimal(text))
    }
    else if (oid == 1114 || oid == 1184) {
      val t = text.replace('T', ' ')
      val (base, frac) = t.indexOf('.') match {
        case -1 => (t.take(19), "")
        case i => (t.take(i), t.drop(i + 1).takeWhile(_.isDigit))
      }
      base + "." + (frac + "000000").take(6)
    }
    else text

  /** Fingerprint of one result: (rows, hash). `cols` are the column
    * names, `rows` the canonical values in the same column order. */
  def fingerprint(cols: Seq[String], rows: Iterator[Seq[String]]): (Long, String) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(r).mkString("\u001f")).toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    (lines.length.toLong, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  def ofRows(cols: Seq[String], rows: Array[org.apache.spark.sql.Row]): (Long, String) =
    fingerprint(cols, rows.iterator.map(r => (0 until r.length).map(i => value(r.get(i)))))
}
