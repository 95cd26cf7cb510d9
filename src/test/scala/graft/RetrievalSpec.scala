package graft

import graft.operators.{Ivf, Similarity}
import org.apache.spark.sql.{functions => F}

/** search_mrr (M17) re-aggregated from the per-query exact/approx
  * frames produced by the already-verified Similarity/Ivf operators —
  * checks the metric assembly (first-hit rank, reciprocal-rank micros,
  * the three closing divisions) independently of the query's join
  * formulation. */
class RetrievalSpec extends SparkSpec {

  test("search_mrr equals re-aggregation of per-query top-5 frames") {
    val emb = graft.queries.Tables.t(spark, sf, "embeddings")
    val qs = emb.filter(F.expr("vec_id % 50 = 3"))
    val qids = qs.select("vec_id").collect().map(_.getLong(0)).sorted
    val exact = Similarity
      .bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ivf.search(emb,
      Ivf.centroidsByKey(emb, "label", "embedding"),
      qs, "vec_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "rank", "match_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val perq = qids.map { qid =>
      val hits = approx.filter(a =>
        a._1 == qid && exact.contains((qid, a._3)))
      val fr = if (hits.isEmpty) None else Some(hits.map(_._2).min)
      (fr, hits.length.toLong)
    }
    val nq = qids.length.toLong
    val mrr = perq.map {
      case (Some(fr), _) => 1000000L / fr
      case _ => 0L
    }.sum / nq
    val prec = perq.map(_._2).sum * 1000000L / (5L * nq)
    val hit = perq.count(_._1.isDefined).toLong * 1000000L / nq
    val r = SparkEntry.queries("search_mrr")(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("n_queries")) == nq)
    assert(r.getLong(r.fieldIndex("mrr_micro")) == mrr)
    assert(r.getLong(r.fieldIndex("prec_ppm")) == prec)
    assert(r.getLong(r.fieldIndex("hit_ppm")) == hit)
  }

  test("ivf_nprobe_sweep recall is non-decreasing and matches re-aggregation") {
    val rows = SparkEntry.queries("ivf_nprobe_sweep")(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val recalls = rows.map(r => r.getLong(r.fieldIndex("recall_ppm")))
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
      s"recall not monotone: ${recalls.toSeq}")
    // re-derive one sweep point from the operators directly
    val emb = graft.queries.Tables.t(spark, sf, "embeddings")
    val qs = emb.filter(F.col("vec_id") < 5)
    val exact = Similarity
      .bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits2 = Ivf.search(emb,
      Ivf.centroidsByKey(emb, "label", "embedding"),
      qs, "vec_id", "embedding", k = 5, nprobe = 2)
      .select("query_id", "match_id").collect()
      .count(r => exact.contains((r.getLong(0), r.getLong(1)))).toLong
    val nq = qs.count()
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.getLong(r2.fieldIndex("n_hits")) == hits2)
    assert(r2.getLong(r2.fieldIndex("recall_ppm")) ==
      hits2 * 1000000L / (5L * nq))
  }

  test("late_interaction equals a driver-side integer MaxSim replay") {
    val emb = graft.queries.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val probes = emb.filter(_._1 % 25 == 1)
    def chunkDotMicro(q: Array[Float], d: Array[Float],
        qi: Int, di: Int): Long = {
      var acc = 0.0
      var k = 0
      while (k < 16) {
        acc += q(qi * 16 + k).toDouble * d(di * 16 + k).toDouble
        k += 1
      }
      math.round(acc * 1e6)
    }
    val expect = probes.flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid).map { case (mid, dv) =>
        val score = (0 until 4).map { qi =>
          (0 until 4).map(di => chunkDotMicro(qv, dv, qi, di)).max
        }.sum
        (qid, mid, score)
      }
    }.groupBy(_._1).toSeq.flatMap { case (qid, ms) =>
      ms.sortBy(m => (-m._3, m._2)).take(5).zipWithIndex
        .map { case ((_, mid, s2), i) => (qid, i + 1, mid, s2) }
    }.toSet
    val got = SparkEntry.queries("late_interaction")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expect)
  }

  test("rec_coverage equals re-aggregation of the exposure frame") {
    val emb = graft.queries.Tables.t(spark, sf, "embeddings")
    val nCat = emb.count()
    val qs = emb.filter(F.expr("vec_id % 25 = 1"))
    val nq = qs.count()
    val exp = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("match_id").collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val r = SparkEntry.queries("rec_coverage")(spark, sf).collect().head
    assert(r.getLong(r.fieldIndex("n_catalog")) == nCat)
    assert(r.getLong(r.fieldIndex("n_queries")) == nq)
    assert(r.getLong(r.fieldIndex("n_exposed")) == exp.size)
    assert(r.getLong(r.fieldIndex("coverage_ppm")) ==
      exp.size.toLong * 1000000L / nCat)
    assert(r.getLong(r.fieldIndex("max_exposure")) == exp.values.max)
    val total = exp.values.sum
    assert(total == 5L * nq)
    val top10 = exp.values.toSeq.sorted(Ordering[Long].reverse)
      .take(10).sum
    assert(r.getLong(r.fieldIndex("top10_share_ppm")) ==
      top10 * 1000000L / total)
  }

  test("rrf_fusion scores re-derive from the two input rankings") {
    val rows = SparkEntry.queries("rrf_fusion")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rc = if (r.isNullAt(r.fieldIndex("r_cos"))) None
        else Some(r.getLong(r.fieldIndex("r_cos")))
      val rm = if (r.isNullAt(r.fieldIndex("r_max"))) None
        else Some(r.getLong(r.fieldIndex("r_max")))
      assert(rc.isDefined || rm.isDefined)
      val expect = rc.map(x => 1000000L / (60 + x)).getOrElse(0L) +
        rm.map(x => 1000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(r.fieldIndex("rrf_micro")) == expect)
      rc.foreach(x => assert(x >= 1 && x <= 10))
      rm.foreach(x => assert(x >= 1 && x <= 10))
    }
    // per query: exactly 5 rows, rrf non-increasing by rank
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(rs.head.fieldIndex("rank")))
      assert(sorted.map(_.getInt(sorted.head.fieldIndex("rank")))
        .toSeq == (1 to sorted.length))
      val vs = sorted.map(_.getLong(sorted.head.fieldIndex("rrf_micro")))
      assert(vs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
      // a doc in BOTH top-10s always outranks one in only the tail of one
      assert(sorted.length == 5)
    }
  }

  test("every retrieval rank step is one row_number Window ranked by " +
      "(score, id asc)") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending,
      AttributeReference, RowNumber, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // one Window per rank step in each query's plan: a count that moves
    // means a rank step was added, dropped or merged
    val windows = Seq(
      "embed_cosine_topk" -> 1, "embed_ivf_search" -> 2,
      "embed_pq_rerank" -> 2, "ivfpq_search" -> 3, "ivfpq_residual" -> 3,
      "embed_binary_topk" -> 2, "embed_quantized_topk" -> 1,
      "late_interaction" -> 1, "rrf_fusion" -> 3, "ivf_nprobe_sweep" -> 7)
    val ids = Set("match_id", "centroid_label")
    windows.foreach { case (name, n) =>
      val ws = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect { case w: Window => w }
      assert(ws.length == n, s"$name: ${ws.length} Windows, expected $n")
      ws.foreach { w =>
        val shape = w.windowExpressions.map(_.sql).mkString("; ")
        assert(w.windowExpressions.length == 1 &&
          (w.windowExpressions.head match {
            case Alias(WindowExpression(_: RowNumber, _), _) => true
            case _ => false
          }), s"$name: not a single row_number: $shape")
        val last = w.orderSpec.last
        assert(last.direction == Ascending && (last.child match {
          case a: AttributeReference => ids(a.name)
          case _ => false
        }), s"$name: last sort key is not an ASC id: ${last.sql}")
      }
    }
  }
}
