package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive result digest. Each row is rendered with its columns
  * in name order (as tools/check_oracle.py compares them), doubles rounded
  * to 10 significant digits so a different summation order cannot flip a
  * digest, then the rendered rows are sorted and hashed. */
object Canon {
  def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => double(b.doubleValue)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[String] =>
      p.productIterator.map(value).mkString("(", ",", ")")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else BigDecimal(d).round(new java.math.MathContext(10)).bigDecimal
      .stripTrailingZeros.toString

  /** A DataFrame row with its columns in name order. */
  def row(r: Row): String = {
    val names = r.schema.fieldNames
    names.indices.sortBy(names(_)).map(i => value(r.get(i))).mkString("\u0001")
  }

  def digest(rendered: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rendered.sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
