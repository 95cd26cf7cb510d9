package graft

/** First-principles replays for F8/F9 (DCT perceptual hash):
  *
  *  - the compile-time cosine table is re-derived INDEPENDENTLY from
  *    math.cos (validating the embedded literals);
  *  - `phash_dct` must equal a brute-force ALL-PAIRS driver replay
  *    (md5 grid → integer DCT sign pack → Hamming ≤ 4) — since the
  *    replay uses no bands, equality proves the 5-band blocking is
  *    pigeonhole-COMPLETE for the Hamming-4 decision, not just a
  *    heuristic;
  *  - `phash_dct_recall` must equal the driver-side per-variant-pair
  *    aggregation of exact pixel L2 and detection counts.
  */
class PhashDctSpec extends SparkSpec {

  private val AMP = graft.queries.MediaQueries.PHASH_AMP
  private val HAM = graft.queries.MediaQueries.PHASH_HAM

  // independent re-derivation of the quantized DCT-II basis
  private val T: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    math.round(1024.0 * math.cos((2 * x + 1) * u * math.Pi / 16))
  }
  private val coeffs: Seq[(Int, Int)] =
    (for (u <- 0 until 8; v <- 0 until 8 if (u, v) != (0, 0))
      yield (u, v)).sortBy { case (u, v) => (u + v, u, v) }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def hexByte(key: String, j: Int): Long =
    java.lang.Long.parseLong(md5Hex(key).substring(2 * (j % 16),
      2 * (j % 16) + 2), 16)

  private def px(docId: Long): Array[Long] = {
    val g = docId / 4
    val v = docId % 4
    Array.tabulate(64) { j =>
      val base = hexByte(s"$g#${j / 16}", j)
      val delta =
        if (v == 0) 0L
        else hexByte(s"$docId!${j / 16}", j) % (2 * v * AMP + 1) - v * AMP
      math.min(255L, math.max(0L, base + delta))
    }
  }

  private def sig(p: Array[Long]): Long =
    coeffs.zipWithIndex.map { case ((u, v), b) =>
      val dot = (0 until 64).map(j => p(j) * T(u)(j / 8) * T(v)(j % 8)).sum
      if (dot > 0) 1L << b else 0L
    }.sum

  private def writeDocs(n: Int): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("phash").toString
    (0L until n.toLong).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("phash_dct equals the band-free brute-force all-pairs replay " +
    "(banding is pigeonhole-complete)") {
    val n = 240
    val dir = writeDocs(n)
    val sigs = (0L until n.toLong).map(i => i -> sig(px(i))).toMap
    val want = (for {
      a <- 0L until n.toLong; b <- (a + 1) until n.toLong
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      if h <= HAM
    } yield (a, b, h.toLong)).sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("phash_dct")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("hamming"))).toSeq
    assert(want.nonEmpty, "fixture produced no near-dup pairs")
    assert(got == want,
      s"got ${got.size} pairs vs replay ${want.size}")
    // the planted quads are actually being found, not just exact dups
    assert(want.exists { case (a, b, _) => a / 4 == b / 4 && a != b })
  }

  test("phash_dct_recall equals the driver-side exact-L2 / detection " +
    "aggregation") {
    val n = 480 // 120 quads; cohort = g % 17 == 0 -> 8 quads
    val dir = writeDocs(n)
    val cohort = (0L until n.toLong).filter(i => (i / 4) % 17 == 0)
    val rows = for {
      a <- cohort; b <- cohort
      if a < b && a / 4 == b / 4
    } yield {
      val (pa, pb) = (px(a), px(b))
      val l2 = (0 until 64).map(j => (pa(j) - pb(j)) * (pa(j) - pb(j))).sum
      val h = java.lang.Long.bitCount(sig(pa) ^ sig(pb))
      (a % 4, b % 4, l2, h)
    }
    val want = rows.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((va, vb), rs) =>
        val nP = rs.size.toLong
        val det = rs.count(_._4 <= HAM).toLong
        val sl2 = rs.map(_._3).sum
        (va, vb, nP, det, det * 1000000 / nP, sl2,
          // Spark's round() is HALF_UP on the double's exact decimal
          java.math.BigDecimal.valueOf(sl2.toDouble / nP)
            .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
      }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("phash_dct_recall")(spark, dir)
      .collect().map(r => (r.getAs[Long]("va"), r.getAs[Long]("vb"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_detected"),
        r.getAs[Long]("recall_ppm"), r.getAs[Long]("sum_l2"),
        r.getAs[Double]("mean_l2"))).toSeq
    assert(got == want, s"\n$got\nvs\n$want")
  }
}
