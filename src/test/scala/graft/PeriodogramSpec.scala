package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** First-principles replay for M63 `periodogram`: on random gapped
  * daily series the query must equal a driver-side recomputation from
  * the textbook modular-DFT definition — with the quantized basis
  * tables re-derived INDEPENDENTLY from math.cos/sin — and a series
  * with an injected 7-day cycle must peak at period 7. */
class PeriodogramSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  /** (month, day, cents) with calendar gaps (months run 1..28, ~15% of
    * days dropped). `weekly` injects a strong 7-day cycle. */
  private def genDays(seed: Long, weekly: Boolean): Seq[(Int, Int, Long)] = {
    val nDays = 120
    val cents = samples(Gen.chooseNum(100L, 999L), nDays, seed)
    val drop = samples(Gen.chooseNum(0, 6), nDays, seed + 5)
    (0 until nDays).flatMap { i =>
      if (drop(i) == 0) None
      else {
        val m = 1 + i / 28
        val day = 1 + i % 28
        // the cycle must be 7-periodic in REAL days: month boundaries
        // are calendar gaps, so an index-based i % 7 would dephase
        val epoch = java.time.LocalDate.of(1995, m, day).toEpochDay
        val base = cents(i) * 100
        val c = if (weekly && epoch % 7 < 2) base + 400000L else base
        Some((m, day, c))
      }
    }
  }

  private def writeDir(rows: Seq[(Int, Int, Long)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("periodogram").toString
    rows.map { case (m, day, cents) =>
      (f"1995-$m%02d-$day%02d 00:00:00", cents / 100.0)
    }.toDF("o_orderdate", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    dir
  }

  private def replay(rows: Seq[(Int, Int, Long)])
      : Seq[(Long, Double, Long)] = {
    // daily cents on REAL epoch days (gaps preserved)
    val daily = rows.map { case (m, day, c) =>
      java.time.LocalDate.of(1995, m, day).toEpochDay -> c }.sortBy(_._1)
    val d0 = daily.head._1
    val n = daily.size
    val sx = daily.map(v => BigInt(v._2)).sum
    val dev = daily.map { case (dy, c) => (dy - d0, BigInt(n) * c - sx) }
    val powers = (2 to 14).map { p =>
      // independent re-derivation of the quantized basis
      val ct = (0 until p).map(r =>
        BigInt(math.round(1e6 * math.cos(2 * math.Pi * r / p))))
      val st = (0 until p).map(r =>
        BigInt(math.round(1e6 * math.sin(2 * math.Pi * r / p))))
      val c = dev.map { case (t, dv) => dv * ct((t % p).toInt) }.sum
      val s = dev.map { case (t, dv) => dv * st((t % p).toInt) }.sum
      val dc = c.toString.toDouble
      val ds = s.toString.toDouble
      p.toLong -> (dc * dc + ds * ds)
    }
    val tot = powers.map(_._2).sum
    val shares = powers.map { case (p, pw) =>
      p -> (if (tot == 0.0) 0.0
            else java.math.BigDecimal.valueOf(pw / tot)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    val mx = shares.map(_._2).max
    val peak = shares.filter(_._2 == mx).map(_._1).min
    shares.map { case (p, sh) =>
      (p, sh, if (p == peak) 1L else 0L) }
  }

  test("periodogram matches a first-principles modular-DFT replay on " +
    "random gapped series") {
    for (seed <- 1L to 5L; weekly <- Seq(false, true)) {
      val rows = genDays(seed * 37, weekly)
      val dir = writeDir(rows)
      val got = SparkEntry.queries("periodogram")(spark, dir).collect()
        .map(r => (r.getAs[Long]("period"), r.getAs[Double]("share"),
          r.getAs[Long]("peak"))).toSeq
      val want = replay(rows)
      assert(got == want, s"seed $seed weekly=$weekly:\n$got\nvs\n$want")
    }
  }

  test("an injected 7-day cycle peaks at period 7") {
    val rows = genDays(99L, weekly = true)
    val dir = writeDir(rows)
    val got = SparkEntry.queries("periodogram")(spark, dir).collect()
      .map(r => (r.getAs[Long]("period"), r.getAs[Long]("peak"))).toMap
    assert(got(7L) == 1L, s"expected peak at 7, got $got")
  }
}
