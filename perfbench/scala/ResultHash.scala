package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive hash of a query result, computed identically by
  * perfbench/run.py over the DuckDB oracle's rows: columns sorted by name,
  * each value written as engine-neutral text (floating point as its exact
  * IEEE-754 bits, timestamps as UTC ISO-8601), rows sorted, SHA-256. */
object ResultHash {

  /** Exact, like the oracle check's value comparison: the bits of the
    * double, with every NaN and both zeros folded together. */
  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == 0.0) "0"
    else java.lang.Double.doubleToRawLongBits(d).toString

  def canon(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case x @ (_: Byte | _: Short | _: Int | _: Long) => x.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case t: java.sql.Timestamp => iso(t.toLocalDateTime)
    case t: java.time.LocalDateTime => iso(t)
    case t: java.time.Instant => iso(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted.mkString("{", ",", "}")
    case r: Row =>
      r.schema.fieldNames.indices.map(i => s"${r.schema.fieldNames(i)}:${canon(r.get(i))}")
        .sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** Python's datetime.isoformat(): microseconds only when non-zero. */
  private def iso(t: java.time.LocalDateTime): String = {
    val base = t.withNano(0).toString match {
      case s if s.length == 16 => s + ":00" // LocalDateTime drops ":00" seconds
      case s => s
    }
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def apply(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1)
    val cols = order.map(_._1)
    val rows = df.collect()
      .map(r => order.map { case (_, i) => canon(r.get(i)) }.mkString("\u001f"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update((cols.mkString(",") + "\n" + rows.mkString("\n")).getBytes("UTF-8"))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
