package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content hash of a query's output.
  *
  * Follows the comparison rules of the repository's DuckDB check
  * (tools/verify_local.py): columns are taken in name order, rows as a
  * multiset, floats exactly, integer widths are not distinguished, and
  * a date equals the UTC midnight timestamp of that day. Each row is
  * rendered to one canonical string, hashed to 64 bits, and the row
  * hashes are summed modulo 2^64, so neither row order nor partitioning
  * changes the result.
  */
object Canon {

  /** Canonical text of one value. Nested values are length-prefixed so
    * no two different values render to the same text. */
  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case d: Double => "d" + double(d)
    case f: Float => "d" + double(f.toDouble)
    case d: java.math.BigDecimal =>
      "m" + (if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case d: java.sql.Date => "t" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => "t" + d.toEpochDay * 86400000000L
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case s: String => "s" + s
    case a: Array[Byte] => "b" + a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => "r" + fields((0 until r.length).map(i => value(r.get(i))))
    case m: scala.collection.Map[_, _] =>
      "M" + fields(m.toSeq.map { case (k, x) => fields(Seq(value(k), value(x))) }.sorted)
    case s: scala.collection.Seq[_] => "a" + fields(s.toSeq.map(value))
    case other => "o" + other.toString
  }

  private def double(d: Double): String =
    if (d == 0.0) "0.0" else java.lang.Double.toString(d)

  private def micros(t: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L)

  /** Length-prefixed concatenation of canonical texts. */
  private def fields(ts: Seq[String]): String = {
    val sb = new StringBuilder
    ts.foreach(t => sb.append(t.length).append(':').append(t))
    sb.toString
  }

  /** Canonical text of one row, its columns in the given order. */
  def row(r: Row, order: Array[Int]): String =
    fields(order.toSeq.map(i => value(r.get(i))))

  /** 64-bit hash of a canonical string (two independent 32-bit halves). */
  def hash64(s: String): Long = {
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  /** Column order used by every hash: by name, then by position. */
  def columnOrder(names: Seq[String]): Array[Int] =
    names.indices.sortBy(i => (names(i), i)).toArray

  /** Combines row hashes into the reported digest. */
  def digest(names: Seq[String], rows: Long, sum: Long): String = {
    val order = columnOrder(names)
    val cols = hash64(fields(order.toSeq.map(names(_))))
    f"$rows%d:$sum%016x:$cols%016x"
  }

  /** Digest of a DataFrame's rows, computed in its tasks. */
  def of(df: DataFrame): String = {
    val names = df.schema.fieldNames.toSeq
    val order = columnOrder(names)
    val (n, sum) = df.rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += hash64(row(r, order)) }
      Iterator((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    digest(names, n, sum)
  }

  /** Digest of rows already on the driver (tests, small outputs). */
  def ofRows(names: Seq[String], rows: Seq[Row]): String = {
    val order = columnOrder(names)
    digest(names, rows.size.toLong, rows.map(r => hash64(row(r, order))).sum)
  }
}
