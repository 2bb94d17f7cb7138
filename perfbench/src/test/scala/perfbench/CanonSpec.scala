package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The output check's canonical hash: order-insensitive over rows and
  * columns, blind to integer width and date-vs-midnight-timestamp, exact
  * on floats, and unambiguous on nested values. */
class CanonSpec extends AnyFunSuite {

  private val names = Seq("b", "a")

  test("row order does not change the digest") {
    val rows = Seq(Row(1L, "x"), Row(2L, "y"), Row(3L, null))
    assert(Canon.ofRows(names, rows) == Canon.ofRows(names, rows.reverse))
  }

  test("column order does not change the digest") {
    val ab = Canon.ofRows(Seq("a", "b"), Seq(Row("x", 1L), Row("y", 2L)))
    val ba = Canon.ofRows(Seq("b", "a"), Seq(Row(1L, "x"), Row(2L, "y")))
    assert(ab == ba)
  }

  test("a duplicated row is not the same as a single one") {
    val one = Canon.ofRows(names, Seq(Row(1L, "x")))
    val two = Canon.ofRows(names, Seq(Row(1L, "x"), Row(1L, "x")))
    assert(one != two)
  }

  test("integer widths are not distinguished") {
    assert(Canon.value(7) == Canon.value(7L))
    assert(Canon.value(7.toShort) == Canon.value(7L))
  }

  test("floats compare exactly, signed zero does not matter") {
    assert(Canon.value(0.1) != Canon.value(0.1 + 1e-16))
    assert(Canon.value(-0.0) == Canon.value(0.0))
    assert(Canon.value(1.0) != Canon.value(1L))
  }

  test("a date equals its UTC midnight timestamp") {
    val d = java.sql.Date.valueOf("2024-03-01")
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z"))
    assert(Canon.value(java.time.LocalDate.of(2024, 3, 1)) == Canon.value(ts))
    assert(Canon.value(d.toLocalDate) == Canon.value(d))
  }

  test("decimals compare by value") {
    assert(Canon.value(new java.math.BigDecimal("1.50")) == Canon.value(new java.math.BigDecimal("1.5")))
    assert(Canon.value(new java.math.BigDecimal("0.00")) == Canon.value(java.math.BigDecimal.ZERO))
  }

  test("nested values are unambiguous") {
    assert(Canon.value(Seq("a,b")) != Canon.value(Seq("a", "b")))
    assert(Canon.value(Seq("1")) != Canon.value(Seq(1L)))
    assert(Canon.value(Seq.empty[String]) != Canon.value(null))
    assert(Canon.value(Map("a" -> 1L, "b" -> 2L)) == Canon.value(Map("b" -> 2L, "a" -> 1L)))
    assert(Canon.row(Row("ab", "c"), Array(0, 1)) != Canon.row(Row("a", "bc"), Array(0, 1)))
  }

  test("the distributed digest equals the driver-side digest for any partitioning") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val df = spark.range(0, 1000).selectExpr("id AS k", "cast(id % 7 AS int) AS v",
        "array(cast(id AS string), 'x') AS arr", "id / 3.0 AS d")
      val local = Canon.ofRows(df.schema.fieldNames.toSeq, df.collect().toSeq)
      assert(Canon.of(df) == local)
      assert(Canon.of(df.repartition(5)) == local)
      assert(Canon.of(df.orderBy(org.apache.spark.sql.functions.desc("k")).coalesce(1)) == local)
    } finally spark.stop()
  }
}
