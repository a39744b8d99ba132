package chbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive result digest, identical to `gen.py`'s `digest`:
  * each row becomes tab-joined canonical values, rows are sorted, and
  * the newline-joined text is hashed with SHA-256. Results holding
  * floating values are also kept as text, once per distinct digest, so
  * `run.py` can compare them with a tolerance when the digests differ. */
object Digest {
  final case class D(rows: Int, sha256: String)

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: Double => dec(new JBigDecimal(d))
    case f: Float => dec(new JBigDecimal(f.toDouble))
    case d: JBigDecimal => dec(d)
    case d: scala.math.BigDecimal => dec(d.bigDecimal)
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def dec(d: JBigDecimal): String =
    if (d.signum == 0) "0.000000"
    else d.setScale(6, RoundingMode.HALF_UP).toPlainString

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  /** Sorted canonical rows of a result. */
  def lines(rows: Iterable[Seq[Any]]): Array[String] =
    rows.map(_.map(canon).mkString("\t")).toArray.sorted

  def of(lines: Array[String]): D = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    D(lines.length, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def hasFloat(rows: Iterable[Seq[Any]]): Boolean = rows.exists(_.exists {
    case _: Double | _: Float | _: JBigDecimal | _: scala.math.BigDecimal => true
    case _ => false
  })
}
