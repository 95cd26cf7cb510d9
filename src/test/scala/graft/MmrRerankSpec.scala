package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** First-principles replay for D78 `mmr_rerank`: on random embedding
  * corpora the shipped query must equal a plain-Scala greedy MMR over
  * the same 6dp-rounded cosines — shortlist, integer pico scores,
  * max-sim penalties, tie-breaks, all of it. Vectors include clustered
  * near-duplicates so the diversity penalty actually changes the
  * ranking relative to pure relevance (asserted). */
class MmrRerankSpec extends SparkSpec {

  private val SHORT = graft.queries.RetrievalQueries.MMR_SHORT
  private val PICK = graft.queries.RetrievalQueries.MMR_PICK
  private val LAM = graft.queries.RetrievalQueries.MMR_LAMBDA_MICRO

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  /** 40 vectors of dim 64: a handful of tight clusters (base + small
    * jitter) so near-duplicates compete in the shortlist. */
  private def genVecs(seed: Long): Seq[(Long, Array[Float])] = {
    val nClusters = 6
    val bases = (0 until nClusters).map { c =>
      samples(Gen.chooseNum(-100, 100), 64, seed * 31 + c)
        .map(_.toFloat / 100f).toArray
    }
    (0L until 40L).map { i =>
      val b = bases((i % nClusters).toInt)
      val jit = samples(Gen.chooseNum(-8, 8), 64, seed * 57 + i)
      (i, b.zip(jit).map { case (x, j) => x + j.toFloat / 100f })
    }
  }

  private def writeDir(vecs: Seq[(Long, Array[Float])]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mmr").toString
    vecs.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** The engines' cosine: sequential double fold, round HALF_UP 6dp. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < 64) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  private def micro(c: Double): Long = math.round(c * 1000000)

  private def replay(vecs: Seq[(Long, Array[Float])])
      : Seq[(Long, Long, Long, Long, Long)] = {
    val byId = vecs.toMap
    (0L until 3L).flatMap { q =>
      val rel = vecs.filter(_._1 != q)
        .map { case (id, v) => id -> micro(cos(byId(q), v)) }
      val short = rel.sortBy { case (id, rm) => (-rm, id) }.take(SHORT)
      var selected = Seq.empty[(Long, Long, Long, Long)] // id, rank, rel, pico
      for (r <- 1 to PICK) {
        val remaining = short.filterNot(c =>
          selected.exists(_._1 == c._1))
        val scored = remaining.map { case (id, rm) =>
          val maxsim =
            if (selected.isEmpty) 0L
            else selected.map(s => micro(cos(byId(id), byId(s._1)))).max
          val pico = if (selected.isEmpty) LAM * rm
            else LAM * rm - (1000000L - LAM) * maxsim
          (id, rm, pico)
        }
        val pick = scored.minBy { case (id, _, pico) => (-pico, id) }
        selected :+= ((pick._1, r.toLong, pick._2, pick._3))
      }
      selected.map { case (id, rank, rm, pico) => (q, rank, id, rm, pico) }
    }
  }

  test("mmr_rerank matches a plain-Scala greedy MMR replay on random " +
    "clustered corpora, and diversity actually reorders") {
    var reordered = false
    for (seed <- 1L to 5L) {
      val vecs = genVecs(seed)
      val dir = writeDir(vecs)
      val got = SparkEntry.queries("mmr_rerank")(spark, dir).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("mmr_rank"),
          r.getAs[Long]("match_id"), r.getAs[Long]("rel_micro"),
          r.getAs[Long]("mmr_pico"))).toSeq
      val want = replay(vecs)
      assert(got == want, s"seed $seed:\n$got\nvs\n$want")
      // pure-relevance order for comparison: did MMR ever deviate?
      val byQ = want.groupBy(_._1)
      reordered ||= byQ.values.exists { rows =>
        val mmrOrder = rows.sortBy(_._2).map(_._3)
        val relOrder = rows.sortBy(r => (-r._4, r._3)).map(_._3)
        mmrOrder != relOrder
      }
    }
    assert(reordered,
      "diversity penalty never changed the ranking — fixture too easy")
  }

  test("mmr_rerank's executed plan has fewer than 100 Exchanges") {
    // counted as occurrences of "Exchange" in executedPlan.toString; the
    // per-round lineage cut keeps the plan to the final sort over the
    // last round, where re-planning every round's picks gave hundreds
    val plan = SparkEntry.queries("mmr_rerank")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange[ \n]".r.findAllMatchIn(plan).size
    assert(exchanges < 100, s"$exchanges Exchanges")
    graft.operators.CacheScope.release(spark)
  }
}
