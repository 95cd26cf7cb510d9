package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** First-principles replay for M64 `holt_winters`: the distributed
  * fold must equal a plain-Scala integer recursion on random (gapped)
  * series, and on a clean planted level+weekly-season series the
  * one-step-ahead errors must shrink once the state has burned in —
  * the model actually FITS, not just recurses. */
class HoltWintersSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  private def tdiv(a: Long, k: Long): Long = (a - a % k) / k

  /** The published recursion, driver-side. Input: day-ordered cents.
    * Output rows: (cents, fitted, err, level, trend, seasonal). */
  private def replay(xs: Seq[Long])
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    var lvl = 0L; var tr = 0L
    var seas = Vector.fill(7)(0L)
    xs.zipWithIndex.map { case (x, i) =>
      if (i == 0) {
        lvl = x; tr = 0L
        (x, x, 0L, lvl, tr, 0L)
      } else {
        val s7 = seas.head
        val fitted = lvl + tr + s7
        val lnew = tdiv(x - s7, 4) + tdiv(3 * (lvl + tr), 4)
        val tnew = tdiv(lnew - lvl, 8) + tdiv(7 * tr, 8)
        val snew = tdiv(x - lnew, 8) + tdiv(7 * s7, 8)
        seas = seas.tail :+ snew
        lvl = lnew; tr = tnew
        (x, fitted, x - fitted, lnew, tnew, snew)
      }
    }
  }

  private def writeDir(rows: Seq[(Int, Int, Long)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("hw").toString
    rows.map { case (m, day, cents) =>
      (f"1995-$m%02d-$day%02d 00:00:00", cents / 100.0)
    }.toDF("o_orderdate", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    dir
  }

  test("holt_winters matches the plain-Scala integer recursion on " +
    "random gapped series") {
    for (seed <- 1L to 5L) {
      val nDays = 90
      val cents = samples(Gen.chooseNum(100L, 999L), nDays, seed * 23)
        .map(_ * 100)
      val drop = samples(Gen.chooseNum(0, 7), nDays, seed * 23 + 3)
      val rows = (0 until nDays).flatMap { i =>
        if (drop(i) == 0) None
        else Some((1 + i / 28, 1 + i % 28, cents(i)))
      }
      val dir = writeDir(rows)
      val got = SparkEntry.queries("holt_winters")(spark, dir).collect()
        .map(r => (r.getAs[Long]("cents"), r.getAs[Long]("fitted"),
          r.getAs[Long]("err"), r.getAs[Long]("level"),
          r.getAs[Long]("trend"), r.getAs[Long]("seasonal"))).toSeq
      val want = replay(rows.map(_._3)) // day-ordered by construction
      assert(got == want, s"seed $seed:\n${got.take(5)}\nvs\n${want.take(5)}")
    }
  }

  test("on a planted level + weekly season the burned-in one-step " +
    "errors converge to (near) zero") {
    import spark.implicits._
    // 700 observations of a pure pattern: 500000 cents + weekly offset
    // (the level/season coupling at alpha = 1/4 rings for ~20 cycles,
    // then the integer state locks in — driver-simulated max |err| 15)
    val season = Seq(40000L, -20000L, 0L, 10000L, -30000L, 25000L, -25000L)
    val dir = SparkSpec.tempDir("hw_planted").toString
    (0 until 700).map { i =>
      val date = java.time.LocalDate.of(1995, 1, 1).plusDays(i)
      (date.toString + " 00:00:00", (500000L + season(i % 7)) / 100.0)
    }.toDF("o_orderdate", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val errs = SparkEntry.queries("holt_winters")(spark, dir).collect()
      .map(r => r.getAs[Long]("err"))
    val burned = errs.drop(600).map(math.abs)
    val early = errs.slice(7, 21).map(math.abs)
    assert(burned.max < 100L,
      s"burned-in |err| too large: ${burned.max}")
    assert(burned.max < early.max,
      s"errors did not shrink: early ${early.max}, late ${burned.max}")
  }
}
