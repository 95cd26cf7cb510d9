package graft

/** First-principles replay for F10 `frame_scene_cuts`: on synthetic
  * documents of varied lengths the query must equal a driver-side
  * recomputation — frame grids, independently re-derived DCT sign
  * packs, consecutive Hamming, cut threshold — and the detected cuts
  * must land overwhelmingly on the planted 4-frame scene boundaries. */
class FrameSceneCutsSpec extends SparkSpec {

  private val FRAMES = graft.queries.MediaQueries.SCENE_FRAMES
  private val CUT = graft.queries.MediaQueries.CUT_HAM

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

  private def px(docId: Long, fi: Long): Array[Long] =
    Array.tabulate(64) { j =>
      val base = hexByte(s"$docId@${fi / 4}#${j / 16}", j)
      val noise = hexByte(s"$docId@$fi!${j / 16}", j) % 13 - 6
      math.min(255L, math.max(0L, base + noise))
    }

  private def sig(p: Array[Long]): Long =
    coeffs.zipWithIndex.map { case ((u, v), b) =>
      val dot = (0 until 64).map(j => p(j) * T(u)(j / 8) * T(v)(j % 8)).sum
      if (dot > 0) 1L << b else 0L
    }.sum

  test("frame_scene_cuts matches the driver replay and cuts land on " +
    "the planted scene boundaries") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("scenecuts").toString
    // lengths spanning 1..14 frames of 32 bytes (cap at SCENE_FRAMES)
    val docs = (0L until 60L).map { i =>
      (i, "x" * (20 + (i % 14).toInt * 32)) }
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val want = docs.flatMap { case (id, text) =>
      val nf = math.min(FRAMES.toLong,
        math.ceil(text.length / 32.0).toLong)
      if (nf < 2) Seq.empty
      else {
        val sigs = (0L until nf).map(fi => fi -> sig(px(id, fi)))
        sigs.sliding(2).flatMap { case Seq((_, s0), (fi, s1)) =>
          val h = java.lang.Long.bitCount(s0 ^ s1).toLong
          if (h > CUT) Some((id, fi, nf, h)) else None
        }
      }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("frame_scene_cuts")(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cut_at_frame"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("hamming"))).toSeq
    assert(want.nonEmpty, "fixture planted no scene boundaries")
    assert(got == want, s"\n${got.take(10)}...\nvs\n${want.take(10)}...")
    // the detector finds BOUNDARIES, not noise: cuts at fi % 4 == 0
    val onBoundary = want.count(_._2 % 4 == 0)
    assert(onBoundary == want.size,
      s"cuts off the planted boundaries: ${want.filter(_._2 % 4 != 0)}")
    // and every multi-scene doc produced at least one cut
    val multiScene = docs.count { case (id, text) =>
      math.min(FRAMES.toLong, math.ceil(text.length / 32.0).toLong) > 4 }
    assert(want.map(_._1).distinct.size == multiScene)
  }
}
