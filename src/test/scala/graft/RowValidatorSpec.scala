package graft

import graft.dsl._
import graft.schema._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors reference tests/generators/test_pydantic.py: row-level (single
  * record) validation through the same schema definition. No Spark
  * session needed — this is the driver-side path. */
class RowValidatorSpec extends AnyFunSuite {

  private val booking = GSchema("BookingSchema")
    .field(GString("email", pattern = Some("^[^@]+@[^@]+\\.[^@]+$")))
    .field(GLong("nights", ge = Some(1L)))
    .field(GTimestamp("check_in"))
    .field(GTimestamp("check_out"))
    .field(GBool("paid", default = Some(false)))
    .check(col("check_out") > col("check_in"), "Check-out must be after check-in")

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val ok = Map[String, Any](
    "email" -> "a@b.com", "nights" -> 2L,
    "check_in" -> ts("2024-01-01 12:00:00"), "check_out" -> ts("2024-01-03 12:00:00"))

  test("valid record passes") {
    assert(booking.rowValidator.check(ok).isEmpty)
    assert(booking.rowValidator.isValid(ok))
  }

  test("constraint failures reported with field messages") {
    val bad = ok + ("email" -> "nope") + ("nights" -> 0L)
    val errs = booking.rowValidator.check(bad)
    assert(errs.exists(_.startsWith("email must match pattern")))
    assert(errs.contains("nights must be >= 1"))
  }

  test("cross-field validator enforced per record") {
    val bad = ok + ("check_out" -> ts("2023-12-31 00:00:00"))
    assert(booking.rowValidator.check(bad) == Seq("Check-out must be after check-in"))
  }

  test("missing required field reported; default applied for absent field") {
    val errs = booking.rowValidator.check(ok - "email")
    assert(errs.contains("email is required"))
    assert(booking.rowValidator.check(ok).isEmpty) // paid defaulted
  }

  test("non-nullable null rejected, nullable null accepted") {
    val s = GSchema("S")
      .field(GString("a"))
      .field(GString("b", nullable = true))
    assert(s.rowValidator.check(Map("a" -> null, "b" -> null))
      == Seq("a must not be null"))
    assert(s.rowValidator.check(Map("a" -> "x", "b" -> null)).isEmpty)
  }

  test("lax type coercion: numeric strings parse, garbage fails with cast message") {
    val s = GSchema("S")
      .field(GLong("n", ge = Some(1L)))
      .field(GDouble("x", gt = Some(0.0)))
    // pydantic-lax: "5" constructs an int field (reference generators/pydantic.py:15)
    assert(s.rowValidator.check(Map("n" -> "5", "x" -> "2.5")).isEmpty)
    assert(s.rowValidator.check(Map("n" -> 5.0, "x" -> 3)).isEmpty) // whole float / int widen
    val errs = s.rowValidator.check(Map("n" -> "abc", "x" -> 1.0))
    assert(errs == Seq("n: cannot coerce 'abc' to bigint"))
    // constraints evaluate on the COERCED value
    assert(s.rowValidator.check(Map("n" -> "0", "x" -> 1.0)) == Seq("n must be >= 1"))
  }

  test("lax coercion: bool, timestamp and date strings") {
    val s = GSchema("S")
      .field(GBool("flag"))
      .field(GTimestamp("at", ge = Some(java.time.Instant.parse("2024-01-01T00:00:00Z"))))
      .field(GDate("day"))
    assert(s.rowValidator.check(Map(
      "flag" -> "true", "at" -> "2024-06-01T00:00:00Z", "day" -> "2024-06-01")).isEmpty)
    assert(s.rowValidator.check(Map(
      "flag" -> "yes", "at" -> "2024-06-01T00:00:00Z", "day" -> "2024-06-01"))
      == Seq("flag: cannot coerce 'yes' to boolean"))
    assert(s.rowValidator.check(Map(
      "flag" -> true, "at" -> "2023-12-31T23:00:00Z", "day" -> "2024-06-01"))
      == Seq("at must be >= 2024-01-01T00:00:00Z"))
    // fractional float must NOT silently truncate to a long field
    val s2 = GSchema("S2").field(GLong("n"))
    assert(s2.rowValidator.check(Map("n" -> 5.5))
      == Seq("n: cannot coerce '5.5' to bigint"))
  }

  test("string and membership ops in row checks") {
    val s = GSchema("S")
      .field(GString("phone"))
      .field(GLong("day"))
      .check(col("phone").str.replace("[^0-9]", "").str.lenChars === 10L,
        "Phone must have 10 digits")
      .check(col("day").isBetween(1L, 31L), "day in month")
    assert(s.rowValidator.check(Map("phone" -> "555-123-4567", "day" -> 15L)).isEmpty)
    assert(s.rowValidator.check(Map("phone" -> "555-1234", "day" -> 40L))
      == Seq("Phone must have 10 digits", "day in month"))
  }

  test("int and short fields reject out-of-range values, as the bulk " +
    "path's try_cast does") {
    val s = GSchema("S")
      .field(GLong("n", width = 32, ge = Some(1L)))
      .field(GLong("k", width = 16, nullable = true))
    assert(s.rowValidator.check(Map("n" -> 3000000000L))
      == Seq("n: cannot coerce '3000000000' to int"))
    assert(s.rowValidator.check(Map("n" -> 7L, "k" -> 40000))
      == Seq("k: cannot coerce '40000' to smallint"))
    assert(s.rowValidator.check(Map("n" -> "2147483647", "k" -> -32768L)).isEmpty)
    assert(s.rowValidator.check(Map("n" -> 0, "k" -> 5.0)) == Seq("n must be >= 1"))
  }

  test("check called from 8 threads gives the single-threaded answers") {
    val s = GSchema("S")
      .field(GString("phone"))
      .check(col("phone").str.replace("[^0-9]", "").str.lenChars === 10L,
        "Phone must have 10 digits")
    val rows = (0 until 500).map(i => Map[String, Any]("phone" ->
      (if (i % 3 == 0) s"55-$i" else f"(555) 12-$i%05d")))
    val want = rows.map(s.rowValidator.check)
    assert(want.count(_.isEmpty) > 0 && want.count(_.nonEmpty) > 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val got = (0 until 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[Seq[String]]] {
          def call(): Seq[Seq[String]] = rows.map(s.rowValidator.check)
        }))
      got.foreach(f => assert(f.get() == want))
    } finally pool.shutdown()
  }
}
