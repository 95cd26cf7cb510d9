package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** First-principles replays for M62 `fdr_bh`:
  *
  *  1. the compile-time χ²₁ threshold triangle is validated against an
  *     INDEPENDENT erfc (adaptive Simpson over the Gaussian tail, no
  *     shared code with the generator that produced the literals):
  *     every entry must satisfy erfc(√(c/2)) = α·k/m to within the
  *     micros-quantization bound;
  *  2. the BH step-up mechanics are replayed driver-side with BigInt
  *     arithmetic on random contingency tables — strongly-associated
  *     draws (rejections exercised), independent draws (k* = 0 path),
  *     and GAPPED families (absent cells → observed m < 25, hitting
  *     the data-dependent rows of the triangle) — and the shipped
  *     query must match the replay row for row.
  */
class FdrBhSpec extends SparkSpec {

  // ---------------------------------------------------- erfc validation

  /** erfc(x) = (2/√π) ∫_x^∞ e^(−t²) dt by composite Simpson on
    * [x, x+12] with 60k panels — integrand < e^(−144) past the cut,
    * panel error ~ h⁴f⁗ ≈ 1e-17: independent of math.erfc and of the
    * bisection that generated the table. */
  private def erfcSimpson(x: Double): Double = {
    val hi = x + 12.0
    val n = 60000
    val h = (hi - x) / n
    var s = math.exp(-x * x) + math.exp(-hi * hi)
    var i = 1
    while (i < n) {
      val t = x + i * h
      s += (if (i % 2 == 1) 4.0 else 2.0) * math.exp(-t * t)
      i += 1
    }
    s * h / 3.0 * 2.0 / math.sqrt(math.Pi)
  }

  test("BH threshold triangle inverts erfc(sqrt(c/2)) = 0.05*k/m to " +
    "within the micros quantization bound") {
    val thr = graft.queries.NonparamQueries.BH_THR
    assert(thr.size == 25)
    for (m <- 1 to 25) {
      assert(thr(m - 1).size == m, s"row $m arity")
      for (k <- 1 to m) {
        val c = thr(m - 1)(k - 1) / 1e6
        val q = 0.05 * k / m
        val got = erfcSimpson(math.sqrt(c / 2))
        assert(math.abs(got - q) < 5e-8,
          s"m=$m k=$k c=$c: erfc=$got vs q=$q")
        if (k > 1) assert(thr(m - 1)(k - 1) < thr(m - 1)(k - 2),
          s"thresholds must strictly decrease in k (m=$m k=$k)")
      }
    }
    // anchor corners against textbook values
    assert(thr(0)(0) == 3841459L)   // chi2_1(0.95)
    assert(thr(24)(0) == 9549536L)  // chi2_1(0.998)
  }

  // ----------------------------------------------------- step-up replay

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  private val PRIS = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val SEGS = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  /** Random contingency rows as (priority, segment) pairs.
    * mode 0: independent uniform draws; mode 1: strongly associated
    * (priority index tracks segment index — off-diagonal suppressed);
    * mode 2: GAPPED — only 3 priorities × 4 segments can occur, so the
    * observed family size is ≤ 12 and the m-dependent triangle rows
    * are exercised. */
  private def genPairs(seed: Long, mode: Int): Seq[(String, String)] = {
    val n = 2000 + (seed % 7).toInt * 500
    val ps = samples(Gen.chooseNum(0, 4), n, seed)
    val ss = samples(Gen.chooseNum(0, 4), n, seed + 17)
    val mix = samples(Gen.chooseNum(0, 9), n, seed + 31)
    (0 until n).map { i =>
      mode match {
        case 0 => (PRIS(ps(i)), SEGS(ss(i)))
        case 1 =>
          // 80% diagonal: segment forced to the priority's partner
          if (mix(i) < 8) (PRIS(ps(i)), SEGS(ps(i)))
          else (PRIS(ps(i)), SEGS(ss(i)))
        case _ => (PRIS(ps(i) % 3), SEGS(ss(i) % 4))
      }
    }
  }

  private def writeDir(rows: Seq[(String, String)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("fdr_bh").toString
    // one customer per distinct segment; orders reference them
    val segs = rows.map(_._2).distinct.sorted
    segs.zipWithIndex.map { case (s, i) => (i.toLong + 1, s) }
      .toDF("c_custkey", "c_mktsegment")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    val segKey = segs.zipWithIndex.map { case (s, i) =>
      s -> (i.toLong + 1) }.toMap
    rows.map { case (p, s) => (segKey(s), p) }
      .toDF("o_custkey", "o_orderpriority")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    dir
  }

  /** Driver-side BigInt replay of the published procedure. Returns
    * rows as (k, priority, segment, n, chi_micro, thr_micro, k_star,
    * rejected) ordered by k. */
  private def replay(rows: Seq[(String, String)])
      : Seq[(Long, String, String, Long, Long, Long, Long, Long)] = {
    val cells = rows.groupBy(identity).map { case ((p, s), rs) =>
      (p, s, rs.size.toLong) }.toSeq
    val nr = cells.groupBy(_._1).map { case (p, cs) =>
      p -> cs.map(_._3).sum }
    val nc = cells.groupBy(_._2).map { case (s, cs) =>
      s -> cs.map(_._3).sum }
    val nt = cells.map(_._3).sum
    val m = cells.size
    val thr = graft.queries.NonparamQueries.BH_THR(m - 1)
    val enriched = cells.map { case (p, s, n) =>
      val a = BigInt(n) * nt - BigInt(nr(p)) * nc(s)
      val den = BigInt(nt) * nr(p) * nc(s)
      val chiMicro = (a * a * 1000000 / den).toLong
      (p, s, n, a, den, chiMicro)
    }
    val ranked = enriched.sortBy { case (p, s, _, _, _, cm) =>
      (-cm, p, s) }.zipWithIndex.map { case (row, i) => (row, i + 1L) }
    val kStar = ranked.collect { case ((_, _, _, a, den, _), k)
        if a * a * 1000000 >= BigInt(thr(k.toInt - 1)) * den => k }
      .reduceOption(_ max _).getOrElse(0L)
    ranked.map { case ((p, s, n, _, _, cm), k) =>
      (k, p, s, n, cm, thr(k.toInt - 1), kStar,
        if (kStar > 0 && k <= kStar) 1L else 0L)
    }
  }

  test("fdr_bh matches a BigInt first-principles step-up replay on " +
    "independent, associated and gapped random contingency tables") {
    var sawRejection = false
    var sawGapped = false
    for (seed <- 1L to 4L; mode <- 0 to 2) {
      val rows = genPairs(seed * 43 + mode, mode)
      val dir = writeDir(rows)
      val got = SparkEntry.queries("fdr_bh")(spark, dir).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("priority"),
          r.getAs[String]("segment"), r.getAs[Long]("n"),
          r.getAs[Long]("chi_micro"), r.getAs[Long]("thr_micro"),
          r.getAs[Long]("k_star"), r.getAs[Long]("rejected"))).toSeq
      val want = replay(rows)
      assert(got == want, s"seed $seed mode $mode:\n$got\nvs\n$want")
      if (want.head._7 > 0) sawRejection = true
      if (want.size < 25) sawGapped = true
      // step-up coherence: rejected set is exactly ranks 1..k*
      val ks = want.head._7
      assert(want.forall { case (k, _, _, _, _, _, _, rej) =>
        rej == (if (k <= ks) 1L else 0L) })
    }
    assert(sawRejection, "no associated draw produced a rejection — " +
      "the k* > 0 path went unexercised")
    assert(sawGapped, "no gapped family (m < 25) was generated")
  }
}
