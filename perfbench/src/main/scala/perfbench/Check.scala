package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive canonical form of a result, so that two evaluations of
  * one request (or a gate and its DuckDB oracle) compare by value.
  *
  * Columns are ordered by name and rows are sorted. Numbers compare the way
  * the engine's oracle check compares them: integers exactly, and every
  * fractional type (float, double, decimal) through its double value.
  * Timestamps compare as epoch microseconds, dates as epoch days.
  */
object Check {

  final case class Result(columns: Seq[String], rows: Seq[String]) {
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(columns.mkString("\u0001").getBytes("UTF-8"))
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().take(12).map(b => f"$b%02x").mkString
    }
  }

  def canonical(columns: Seq[String], rows: Seq[Row]): Result = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    Result(order.map(columns), rows.map(r => order.map(i => value(r.get(i))).mkString("\u0002")).sorted)
  }

  private def number(d: Double): String =
    if (d.isWhole && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null => "∅"
    case s: String => "s" + s
    case b: Boolean => b.toString
    case b: java.lang.Byte => b.longValue.toString
    case s: java.lang.Short => s.longValue.toString
    case i: java.lang.Integer => i.longValue.toString
    case l: java.lang.Long => l.toString
    case f: java.lang.Float => number(f.toDouble)
    case d: java.lang.Double => number(d)
    case d: java.math.BigDecimal =>
      if (d.scale <= 0 && d.abs.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) <= 0)
        d.longValueExact.toString
      else number(d.doubleValue)
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case t: java.sql.Timestamp => "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000 + t.getNanos / 1000)
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000 + i.getNano / 1000)
    case t: java.time.LocalDateTime => value(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }
      .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
