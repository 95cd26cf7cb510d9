package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** First-principles replays for the r12 paired/trend statistics: on ANY
  * random small orders table (heavy value ties, zero diffs, missing
  * arms), `wilcoxon_signed_rank` and `mann_kendall` must agree with
  * driver-side recomputations from the textbook definitions — sorted
  * midranks / pair-sign counting — not just on the fixed synthetic
  * corpus. Each generated dataset is written as a minimal
  * orders.parquet and driven through the SHIPPED query fns. */
class PairedTrendSpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  /** (day-of-1995, priority, cents) rows. Cents on a coarse 100-step
    * grid forces |d| ties AND exact-zero diffs; presence draws leave
    * some days with only one arm (must be excluded from the pairing). */
  private def genOrders(seed: Long): Seq[(Int, Int, String, Long)] = {
    val nDays = 40 + (seed % 50).toInt
    val c1s = samples(Gen.chooseNum(1L, 9L).map(_ * 100), nDays, seed)
    val c2s = samples(Gen.chooseNum(1L, 9L).map(_ * 100), nDays, seed + 3)
    val mode = samples(Gen.chooseNum(0, 9), nDays, seed + 11)
    (0 until nDays).flatMap { i =>
      val month = 1 + i / 28
      val day = 1 + i % 28
      val both = Seq((month, day, "1-URGENT", c1s(i)),
        (month, day, "2-HIGH", c2s(i)))
      mode(i) match {
        case 0 => both.take(1) // urgent only — unpaired day
        case 1 => both.drop(1) // high only — unpaired day
        case 2 => Seq((month, day, "1-URGENT", c2s(i)),
          (month, day, "2-HIGH", c2s(i))) // exact zero diff
        case _ => both
      }
    }
  }

  private def writeDir(rows: Seq[(Int, Int, String, Long)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("paired_trend").toString
    rows.map { case (m, day, pri, cents) =>
      (f"1995-$m%02d-$day%02d 00:00:00", pri, cents / 100.0)
    }.toDF("o_orderdate", "o_orderpriority", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    dir
  }

  test("wilcoxon_signed_rank matches a first-principles midrank replay " +
    "on random paired data with ties, zeros and missing arms") {
    for (seed <- 1L to 6L) {
      val rows = genOrders(seed * 37)
      val dir = writeDir(rows)
      val row = SparkEntry.queries("wilcoxon_signed_rank")(spark, dir)
        .collect().head
      // replay: pair per (month, day) where both arms present
      val byDay = rows.groupBy(r => (r._1, r._2))
      val diffs = byDay.values.toSeq.flatMap { rs =>
        val c1 = rs.filter(_._3 == "1-URGENT").map(_._4)
        val c2 = rs.filter(_._3 == "2-HIGH").map(_._4)
        if (c1.nonEmpty && c2.nonEmpty) Some(c1.sum - c2.sum) else None
      }
      val zeros = diffs.count(_ == 0L)
      val nz = diffs.filter(_ != 0L)
      val n = nz.length
      // midranks of |d| (average rank over each tie run)
      val sorted = nz.map(math.abs).sorted
      val rank = scala.collection.mutable.Map.empty[Long, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        rank(sorted(i)) = (i + 1 + j) / 2.0
        i = j
      }
      val wPlus = nz.filter(_ > 0).map(d => rank(math.abs(d))).sum
      assert(row.getAs[Long]("n_pairs") == n, s"seed $seed n_pairs")
      assert(row.getAs[Long]("n_zero") == zeros, s"seed $seed n_zero")
      assert(math.abs(row.getAs[Double]("w_plus") - wPlus) < 1e-9,
        s"seed $seed: w_plus ${row.getAs[Double]("w_plus")} vs $wPlus")
      // matched rank-biserial r = (W⁺ − W⁻)/S from the definition (r13)
      if (n > 0) {
        val s0 = n.toDouble * (n + 1) / 2
        val r = (wPlus - (s0 - wPlus)) / s0
        assert(math.abs(row.getAs[Double]("rank_biserial_r") - r) < 1e-5,
          s"seed $seed: r ${row.getAs[Double]("rank_biserial_r")} vs $r")
      } else assert(row.getAs[Double]("rank_biserial_r") == 0.0,
        s"seed $seed r guard")
      val tieT = sorted.groupBy(identity).values
        .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
      val v12 = 2.0 * n * (n + 1) * (2 * n + 1) - tieT
      if (v12 > 0) {
        val z = (2 * wPlus - n.toDouble * (n + 1) / 2) / math.sqrt(v12 / 12)
        assert(math.abs(row.getAs[Double]("z") - z) < 1e-4,
          s"seed $seed: z ${row.getAs[Double]("z")} vs replay $z")
      } else assert(row.getAs[Double]("z") == 0.0, s"seed $seed z guard")
    }
  }

  test("mann_kendall matches a first-principles pair-sign replay on " +
    "random monthly series with ties") {
    for (seed <- 1L to 6L) {
      val rows = genOrders(seed * 53)
      val dir = writeDir(rows)
      val got = SparkEntry.queries("mann_kendall")(spark, dir)
        .collect().map(r => r.getAs[String]("month") ->
          (r.getAs[Long]("n_days"), r.getAs[Long]("s_stat"),
            r.getAs[Double]("z"))).toMap
      // replay per month over the daily cent sums (both-arm days AND
      // single-arm days both contribute — the daily frame sums whatever
      // urgent/high revenue the day has)
      val daily = rows.groupBy(r => (r._1, r._2))
        .map { case ((m, day), rs) => (m, day, rs.map(_._4).sum) }
      daily.groupBy(_._1).foreach { case (m, ds) =>
        val series = ds.toSeq.sortBy(_._2).map(_._3)
        val n = series.length
        var s = 0L
        for (i <- series.indices; j <- (i + 1) until n) {
          s += java.lang.Long.signum(series(j) - series(i))
        }
        val tieT = series.groupBy(identity).values
          .map(g => { val t = g.size.toLong; t * (t - 1) * (2 * t + 5) })
          .sum
        val v18 = n.toLong * (n - 1) * (2L * n + 5) - tieT
        val key = f"1995-$m%02d"
        val (gn, gs, gz) = got(key)
        assert(gn == n && gs == s, s"seed $seed $key n/s: $gn/$gs vs $n/$s")
        if (v18 > 0 && s != 0) {
          val z = (s - math.signum(s.toDouble)) / math.sqrt(v18 / 18.0)
          assert(math.abs(gz - z) < 1e-4,
            s"seed $seed $key: z $gz vs replay $z")
        } else assert(gz == 0.0, s"seed $seed $key z guard")
      }
    }
  }

  test("pacf_lags matches a first-principles Durbin-Levinson replay on " +
    "random gapped daily series") {
    for (seed <- 1L to 6L) {
      val rows = genOrders(seed * 61)
      val dir = writeDir(rows)
      val got = SparkEntry.queries("pacf_lags")(spark, dir)
        .collect().map(r => r.getAs[Long]("lag") ->
          ((r.getAs[Double]("rho"), r.getAs[Double]("pacf")))).toMap
      assert(got.size == 7, s"seed $seed rows")
      // replay: daily cent sums on the observed calendar (gaps stay
      // gaps — pairing is by date arithmetic, like the query)
      val daily = rows.groupBy(r => (r._1, r._2))
        .map { case ((m, day), rs) =>
          // REAL epoch days: months run 1..28 here, so month boundaries
          // are calendar gaps (jan 28 + 1 day = jan 29, absent) — the
          // query's date_add pairing sees them as such
          java.time.LocalDate.of(1995, m, day).toEpochDay.toInt ->
            rs.map(_._4).sum }
      val n = daily.size.toDouble
      val s0 = daily.values.map(_.toDouble).sum
      val q = daily.values.map(c => c.toDouble * c).sum
      val den = n * n * q - n * s0 * s0
      val rho = (1 to 7).map { k =>
        val pairs = daily.toSeq.flatMap { case (t, x) =>
          daily.get(t + k).map(y => (x, y)) }
        val p = pairs.map { case (x, y) => x.toDouble * y }.sum
        val ab = pairs.map { case (x, y) => x.toDouble + y }.sum
        // ACTUAL pair count m_k, not the gapless shorthand n-k: this
        // calendar HAS gaps (month boundaries), and the r13-advice fix
        // makes the query carry m_k — the replay now checks it
        k -> (if (den == 0) 0.0
              else (n * n * p - n * s0 * ab + pairs.size * s0 * s0) / den)
      }.toMap
      // textbook Durbin-Levinson over the replayed rho
      var phi = Map(1 -> Map(1 -> rho(1)))
      for (k <- 2 to 7) {
        val pk = phi(k - 1)
        val num = rho(k) - (1 until k).map(j => pk(j) * rho(k - j)).sum
        val dd = 1.0 - (1 until k).map(j => pk(j) * rho(j)).sum
        val pkk = if (dd == 0) 0.0 else num / dd
        phi += k -> ((1 until k).map(j =>
          j -> (pk(j) - pkk * pk(k - j))).toMap + (k -> pkk))
      }
      for (k <- 1 to 7) {
        assert(math.abs(got(k.toLong)._1 - rho(k)) < 1e-5,
          s"seed $seed lag $k rho ${got(k.toLong)._1} vs ${rho(k)}")
        assert(math.abs(got(k.toLong)._2 - phi(k)(k)) < 1e-5,
          s"seed $seed lag $k pacf ${got(k.toLong)._2} vs ${phi(k)(k)}")
      }
    }
  }

  /** Daily cent sums keyed by REAL epoch day (calendar gaps preserved). */
  private def dailyOf(rows: Seq[(Int, Int, String, Long)]): Map[Int, Long] =
    rows.groupBy(r => (r._1, r._2)).map { case ((m, day), rs) =>
      java.time.LocalDate.of(1995, m, day).toEpochDay.toInt ->
        rs.map(_._4).sum }

  test("ljung_box, durbin_watson and runs_test match first-principles " +
    "replays on random gapped series") {
    for (seed <- 1L to 6L) {
      val rows = genOrders(seed * 71)
      val dir = writeDir(rows)
      val daily = dailyOf(rows)
      val n = daily.size.toDouble
      val s0 = daily.values.map(_.toDouble).sum
      val q = daily.values.map(c => c.toDouble * c).sum
      // --- ljung_box: n(n+2)·Σ ρ_k²/(n−k) over the M54-replay rho
      val den = n * n * q - n * s0 * s0
      val rho = (1 to 7).map { k =>
        val pairs = daily.toSeq.flatMap { case (t, x) =>
          daily.get(t + k).map(y => (x, y)) }
        val p = pairs.map { case (x, y) => x.toDouble * y }.sum
        val ab = pairs.map { case (x, y) => x.toDouble + y }.sum
        if (den == 0) 0.0
        else (n * n * p - n * s0 * ab + pairs.size * s0 * s0) / den
      }
      val qlb = n * (n + 2) * (1 to 7).map(k => {
        val r = rho(k - 1); r * r / (n - k) }).sum
      val lb = SparkEntry.queries("ljung_box")(spark, dir).collect().head
      assert(lb.getAs[Long]("n_days") == daily.size.toLong, s"seed $seed n")
      assert(math.abs(lb.getAs[Double]("q_lb") - qlb) < 1e-4,
        s"seed $seed q_lb ${lb.getAs[Double]("q_lb")} vs $qlb")
      assert(lb.getAs[Long]("reject_white_noise") ==
        (if (lb.getAs[Double]("q_lb") > 14.067140) 1L else 0L))
      // --- durbin_watson: n·ΣΔ²/(nQ − S²) over adjacent observed days
      val adj = daily.toSeq.flatMap { case (t, x) =>
        daily.get(t + 1).map(y => (x, y)) }
      val dd = adj.map { case (prev, cur) =>
        (cur - prev).toDouble * (cur - prev) }.sum
      val dw = SparkEntry.queries("durbin_watson")(spark, dir)
        .collect().head
      assert(dw.getAs[Long]("n_pairs") == adj.length.toLong, s"seed $seed")
      val dwExpect = if (den / n == 0) 0.0 else n * dd / (n * q - s0 * s0)
      assert(math.abs(dw.getAs[Double]("dw") - dwExpect) < 1e-5,
        s"seed $seed dw ${dw.getAs[Double]("dw")} vs $dwExpect")
      // --- runs_test: runs over the zero-dropped sign sequence
      val signs = daily.toSeq.sortBy(_._1).sliding(2).collect {
        case Seq((t1, x1), (t2, x2)) if t2 == t1 + 1 =>
          math.signum((x2 - x1).toDouble).toLong
      }.toSeq
      val nz = signs.filter(_ != 0)
      val (n1, n2) = (nz.count(_ == 1L).toDouble, nz.count(_ == -1L).toDouble)
      val runs = if (nz.isEmpty) 0L
        else 1L + nz.sliding(2).count(p => p.size == 2 && p(0) != p(1))
      val rt = SparkEntry.queries("runs_test")(spark, dir).collect().head
      assert(rt.getAs[Long]("n_up") == n1.toLong &&
        rt.getAs[Long]("n_down") == n2.toLong, s"seed $seed counts")
      assert(rt.getAs[Long]("n_zero") == signs.count(_ == 0L).toLong)
      assert(rt.getAs[Long]("runs") == runs, s"seed $seed runs")
      val nn = n1 + n2
      if (nn >= 2 && n1 > 0 && n2 > 0) {
        val mu = 2 * n1 * n2 / nn + 1
        val va = 2 * n1 * n2 * (2 * n1 * n2 - nn) / (nn * nn * (nn - 1))
        val z = (runs - mu) / math.sqrt(va)
        assert(math.abs(rt.getAs[Double]("z") - z) < 1e-5,
          s"seed $seed z ${rt.getAs[Double]("z")} vs $z")
      } else assert(rt.getAs[Double]("z") == 0.0, s"seed $seed z guard")
    }
  }
}
