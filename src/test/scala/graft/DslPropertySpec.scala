package graft

import graft.dsl._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: for ANY generated expression and row values, the Column
  * compiler and the row interpreter agree (the invariant behind using
  * one schema for bulk + API-side validation).
  *
  * r13 extends the generators to the FULL B1–B7 operator set (the r12
  * verdict's parity item — agreement was example-tested before):
  *  - B1 compare/arith: > >= < <= === !== + - * / % (incl. /0, %0)
  *  - B2 math: abs round floor ceil sqrt pow (incl. NaN/∞ paths)
  *  - B3 string: contains starts_with ends_with len_chars strip_chars
  *    to_lowercase to_uppercase replace extract slice count_matches
  *  - B4 datetime: year month day hour minute second total_days
  *  - B5 membership: is_in (± nullsEqual, ± null in the list),
  *    is_between (all four closed modes)
  *  - B6/B7 composition: boolean & | ~ over all of the above, plus the
  *    row-vs-bulk validator cross-check
  * Deterministic seeds throughout (the offline cache has no
  * scalatest-scalacheck bridge, so sampling is explicit).
  *
  * The generator surfaced seven behavioral fixes in Expr.scala
  * (r13): /0 and %0 now null like Spark's non-ANSI Divide/Remainder
  * (two operators, two fixes); round() passes NaN/∞ through like
  * Spark's Round; floor/ceil short-circuit integral inputs; extract
  * returns '' on no match / non-participating group like
  * regexp_extract in both engines; cmp compares longs exactly instead
  * of via double; and comparison keys normalize −0.0 to 0.0 the way
  * Spark's equality does.
  */
class DslPropertySpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** Deterministic sampling from a ScalaCheck generator (the
    * scalatest-scalacheck bridge isn't in the offline cache). */
  private def samples[T](g: Gen[T], n: Int, seed: Long = 42L): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  private val genDouble: Gen[Any] =
    Gen.frequency(8 -> Gen.chooseNum(-1e6, 1e6).map(d => d: Any), 1 -> Gen.const(null))
  // |i| ≤ 127 so even an 8-leaf all-multiply tree stays < 2^63: Spark 4
  // runs ANSI by default, where long OVERFLOW throws while the row
  // interpreter (like pre-ANSI Spark) would wrap — bounded inputs keep
  // the property inside the domain where both paths are defined
  private val genLong: Gen[Any] =
    Gen.frequency(8 -> Gen.chooseNum(-127L, 127L).map(l => l: Any),
      2 -> Gen.oneOf(0L: Any, 1L: Any, -1L: Any), 1 -> Gen.const(null))
  private val genStr: Gen[Any] = Gen.frequency(
    6 -> Gen.alphaNumStr.map(s => s.take(12): Any),
    2 -> Gen.oneOf("  abz 09 ", "aab", "ZzAa", "", "a b\tc "). map(s => s: Any),
    1 -> Gen.const(null))
  private val genTs: Gen[Any] = Gen.frequency(
    8 -> Gen.chooseNum(631152000L, 1893456000L).flatMap(sec => // 1990..2030
      Gen.chooseNum(0, 999).map(ms =>
        new java.sql.Timestamp(sec * 1000L + ms): Any)),
    1 -> Gen.const(null))

  // (regex pattern, number of capture groups) — all match ≥1 char, so
  // count_matches/replace never hit the empty-match ambiguity
  private val patterns = Seq(
    ("ab", 0), ("[aeiou]", 0), ("a+", 0), ("z", 0), ("[0-9]", 0),
    ("(a)(b)?", 2), ("([A-Za-z]+)", 1))
  private val genPattern: Gen[(String, Int)] = Gen.oneOf(patterns)

  private val epoch = java.time.Instant.parse("2024-01-01T00:00:00Z")

  // ------------------------------------------------ string expressions
  private def genStrExpr(depth: Int): Gen[Expr] = {
    val leaf = Gen.oneOf(
      Gen.const(col("s")),
      Gen.oneOf("aab", "  Mixed Case z ", "xyz09", "").map(lit(_)))
    if (depth <= 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> Gen.lzy(genStrExpr(depth - 1)).map(_.str.stripChars),
      1 -> Gen.lzy(genStrExpr(depth - 1)).map(_.str.toLowercase),
      1 -> Gen.lzy(genStrExpr(depth - 1)).map(_.str.toUppercase),
      1 -> (for {
        e <- Gen.lzy(genStrExpr(depth - 1)); p <- genPattern
        r <- Gen.oneOf("", "_", "X")
      } yield e.str.replace(p._1, r)),
      1 -> (for {
        e <- Gen.lzy(genStrExpr(depth - 1)); p <- genPattern
        g <- Gen.chooseNum(0, p._2)
      } yield e.str.extract(p._1, g)),
      1 -> (for {
        e <- Gen.lzy(genStrExpr(depth - 1)); off <- Gen.chooseNum(0, 15)
        len <- Gen.oneOf(Gen.chooseNum(0, 10), Gen.const(Int.MaxValue))
      } yield e.str.slice(off, len)))
  }

  // ----------------------------------------------- numeric expressions
  private val leafNum: Gen[Expr] = Gen.oneOf(
    Gen.const(col("a")), Gen.const(col("b")), Gen.const(col("i")),
    Gen.chooseNum(-100.0, 100.0).map(lit(_)),
    Gen.oneOf(0L, 1L, -3L, 2L).map(lit(_)))

  private def genNumExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) leafNum
    else Gen.frequency(
      4 -> leafNum,
      3 -> (for {
        l <- genNumExpr(depth - 1); r <- genNumExpr(depth - 1)
        op <- Gen.oneOf(Seq[(Expr, Expr) => Expr](
          _ + _, _ - _, _ * _, _ / _, _ % _))
      } yield op(l, r)),
      1 -> genNumExpr(depth - 1).map(_.abs),
      1 -> (for { e <- genNumExpr(depth - 1); d <- Gen.chooseNum(0, 3) }
        yield e.round(d)),
      1 -> genNumExpr(depth - 1).map(_.floor),
      1 -> genNumExpr(depth - 1).map(_.ceil),
      1 -> genNumExpr(depth - 1).map(_.sqrt),
      1 -> (for { e <- genNumExpr(depth - 1); p <- Gen.chooseNum(0.0, 3.0) }
        yield e.pow(p)),
      1 -> Gen.lzy(genStrExpr(depth - 1)).map(_.str.lenChars),
      1 -> (for { e <- Gen.lzy(genStrExpr(depth - 1)); p <- genPattern }
        yield e.str.countMatches(p._1)),
      1 -> Gen.oneOf(
        col("ts").dt.year, col("ts").dt.month, col("ts").dt.day,
        col("ts").dt.hour, col("ts").dt.minute, col("ts").dt.second,
        col("ts").dt.totalDays(epoch)))

  // ----------------------------------------------- boolean expressions
  private def genBoolExpr(depth: Int): Gen[Expr] = {
    val numCmp = for {
      l <- genNumExpr(depth); r <- genNumExpr(depth)
      op <- Gen.oneOf(Seq[(Expr, Expr) => Expr](_ > _, _ >= _, _ < _, _ <= _, _ === _, _ !== _))
    } yield op(l, r)
    val strCmp = for {
      l <- Gen.lzy(genStrExpr(depth)); r <- Gen.lzy(genStrExpr(depth))
      op <- Gen.oneOf(Seq[(Expr, Expr) => Expr](_ === _, _ !== _, _ < _, _ >= _))
    } yield op(l, r)
    val strPred = for {
      e <- Gen.lzy(genStrExpr(depth)); p <- genPattern
      mk <- Gen.oneOf(Seq[Expr => Expr](
        _.str.contains(p._1), _.str.startsWith("a"), _.str.endsWith("b"),
        _.str.startsWith("  "), _.str.endsWith("z ")))
    } yield mk(e)
    val inLong = for {
      vs <- Gen.listOfN(4, Gen.frequency(
        5 -> Gen.chooseNum(-5L, 5L).map(l => l: Any),
        1 -> Gen.const(null)))
      ne <- Gen.oneOf(true, false)
    } yield (col("i") % 7L).isIn(vs, ne)
    val inStr = for {
      // explicit Seq[Any] element-wise pick: varargs someOf with a bare
      // null resolves to the Gen[T]* overload and NPEs inside sequence
      vs <- Gen.someOf(Seq[Any]("aab", "z", "", "xyz09", null)).map(_.toSeq)
      ne <- Gen.oneOf(true, false)
    } yield col("s").isIn(vs, ne)
    val between = for {
      lo <- Gen.chooseNum(-50.0, 0.0); hi <- Gen.chooseNum(0.0, 50.0)
      c <- Gen.oneOf("both", "left", "right", "none")
      target <- Gen.oneOf(col("a"), col("i"))
    } yield target.isBetween(lo, hi, c)
    val cmp = Gen.frequency(4 -> numCmp, 2 -> strCmp, 2 -> strPred,
      1 -> inLong, 1 -> inStr, 1 -> between)
    if (depth <= 0) cmp
    else Gen.frequency(
      5 -> cmp,
      2 -> (for { l <- Gen.lzy(genBoolExpr(depth - 1)); r <- Gen.lzy(genBoolExpr(depth - 1))
        op <- Gen.oneOf(Seq[(Expr, Expr) => Expr](_ & _, _ | _)) } yield op(l, r)),
      1 -> Gen.lzy(genBoolExpr(depth - 1)).map(e => !e),
      1 -> Gen.oneOf(col("a").isNull, col("s").isNotNull, col("ts").isNotNull))
  }

  private val schema = StructType(Seq(
    StructField("a", DoubleType), StructField("b", DoubleType),
    StructField("i", LongType), StructField("s", StringType),
    StructField("ts", TimestampType)))

  private val genRow: Gen[(Any, Any, Any, Any, Any)] =
    for { a <- genDouble; b <- genDouble; i <- genLong; s <- genStr
          t <- genTs } yield (a, b, i, s, t)

  private def agreeOn(exprs: Seq[Expr], rowSets: Seq[Seq[(Any, Any, Any, Any, Any)]]): Unit =
    (exprs zip rowSets).foreach { case (e, rows) =>
      val df = spark.createDataFrame(
        rows.map { case (a, b, i, s, t) => Row(a, b, i, s, t) }.asJava, schema)
      val viaColumn = df.select(e.toColumn.as("x")).collect().map(_.get(0)).toSeq
      val viaRows = rows.map { case (a, b, i, s, t) =>
        e.eval(Map("a" -> a, "b" -> b, "i" -> i, "s" -> s, "ts" -> t))
      }
      (viaColumn zip viaRows).zipWithIndex.foreach { case ((c, r), k) =>
        (c, r) match {
          case (null, null) => ()
          case (x: java.lang.Number, y: java.lang.Number) =>
            val (xd, yd) = (x.doubleValue, y.doubleValue)
            assert((xd.isNaN && yd.isNaN) ||
              (xd.isInfinite && xd == yd) ||
              math.abs(xd - yd) <= 1e-6 * math.max(1.0, math.abs(xd)),
              s"expr $e row ${rows(k)}: $c vs $r")
          case _ => assert(c == r, s"expr $e on row ${rows(k)}: $c vs $r")
        }
      }
    }

  test("column compiler and row interpreter agree on random boolean " +
    "expressions over the full B1-B7 operator set") {
    agreeOn(samples(genBoolExpr(2), 120),
      samples(Gen.listOfN(6, genRow), 120, seed = 7L))
  }

  test("column compiler and row interpreter agree on random numeric " +
    "expressions (arith, math, string-length, datetime reads)") {
    agreeOn(samples(genNumExpr(3), 120, seed = 13L),
      samples(Gen.listOfN(6, genRow), 120, seed = 17L))
  }

  test("column compiler and row interpreter agree on random string " +
    "expressions (case, trim, replace, extract, slice)") {
    agreeOn(samples(genStrExpr(3), 100, seed = 23L),
      samples(Gen.listOfN(6, genRow), 100, seed = 29L))
  }

  test("the row evaluator reproduces the column path exactly on random " +
    "numeric expressions (no tolerance; NaN equals NaN)") {
    def nan(v: Any) = v match { case d: Double => d.isNaN; case _ => false }
    (samples(genNumExpr(3), 120, seed = 13L) zip
      samples(Gen.listOfN(6, genRow), 120, seed = 17L)).foreach { case (e, rows) =>
      val df = spark.createDataFrame(
        rows.map { case (a, b, i, s, t) => Row(a, b, i, s, t) }.asJava, schema)
      val viaColumn = df.select(e.toColumn.as("x")).collect().map(_.get(0)).toSeq
      (viaColumn zip rows).foreach { case (c, row @ (a, b, i, s, t)) =>
        val r = e.eval(Map("a" -> a, "b" -> b, "i" -> i, "s" -> s, "ts" -> t))
        assert(c == r || (nan(c) && nan(r)), s"expr $e on row $row: $c vs $r")
      }
    }
  }

  test("row validator and bulk validator agree on pass/fail per row") {
    import graft.schema._
    val gs = GSchema("P")
      .field(GDouble("a", ge = Some(-100.0), le = Some(100.0), nullable = true))
      .field(GLong("i", gt = Some(0L)))
      .field(GString("s", minLength = Some(2), nullable = true))
      .check(col("a") < (col("i") * 2L), "a < 2i")
    samples(Gen.listOfN(8, genRow), 20, seed = 11L).foreach { rows =>
      val df = spark.createDataFrame(
        rows.map { case (a, b, i, s, t) => Row(a, b, i, s, t) }.asJava, schema)
      val bulkValid = gs.validator.filterValid(df.drop("b").drop("ts"))
        .collect().length
      val rowValid = rows.count { case (a, _, i, s, _) =>
        gs.rowValidator.isValid(Map("a" -> a, "i" -> i, "s" -> s))
      }
      assert(bulkValid == rowValid, s"rows=$rows")
    }
  }
}
