package graft

import graft.operators.Graph
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the Louvain local-move round and the modularity
  * scorer: on ANY small random graph — unweighted, or weighted with
  * self-loops — with ANY random starting partition, [[Graph.louvainMove]]
  * must agree node-for-node with a driver-side brute-force replay of
  * the exact integer gain argmax (same tie-breaks), the scorer must
  * equal a driver-side Σ_c(4W·w_in − s_c²) replay, and the gain model
  * itself must match the DEFINITION — for the single node whose move
  * realizes the gain, recomputed whole-partition modularity must change
  * by exactly gain/(2m²). */
class CommunityPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  /** Random canonical edge list over ≤10 vertices (each candidate pair
    * kept with p≈1/2, at least one edge). */
  private def genGraph(seed: Long): Seq[(Long, Long)] = {
    val nV = 4 + (seed % 7).toInt
    val pairs = for (a <- 1L to nV; b <- (a + 1) to nV) yield (a, b)
    val keep = samples(Gen.oneOf(true, false), pairs.size, seed)
    val kept = pairs.zip(keep).collect { case (p, true) => p }
    if (kept.nonEmpty) kept else pairs.take(1)
  }

  private def genLabels(vs: Seq[Long], seed: Long): Map[Long, Long] = {
    val ls = samples(Gen.chooseNum(100L, 103L), vs.size, seed)
    vs.zip(ls).toMap
  }

  /** Driver-side brute-force replay of one synchronized move round:
    * per node, the best strictly-positive gain over neighbor
    * communities, gain·2m² = 2m(k_vc − k_va) − k_v(d_c − d_a + k_v),
    * ties (−gain, c) ascending. */
  private def replay(edges: Seq[(Long, Long)],
      lbl: Map[Long, Long]): Map[Long, Long] = {
    val dir = edges ++ edges.map { case (a, b) => (b, a) }
    val adj = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    // .keys.toSeq, NOT .keys: a Set's .map(deg) collapses equal degrees
    // before the sum (the Map.map footgun's Set sibling)
    val dTot = lbl.keys.toSeq.groupBy(lbl).view
      .mapValues(_.map(deg).sum).toMap
    val m = edges.size.toLong
    lbl.map { case (v, a) =>
      val kvc = adj(v).groupBy(lbl).view.mapValues(_.size.toLong).toMap
      val kva = kvc.getOrElse(a, 0L)
      val cands = kvc.keys.filter(_ != a).map { c =>
        val gain = BigInt(2) * m * (kvc(c) - kva) -
          BigInt(deg(v)) * (dTot(c) - dTot(a) + deg(v))
        (gain, c)
      }.toSeq
      if (cands.isEmpty) v -> a
      else {
        val (g, c) = cands.minBy { case (g2, c2) => (-g2, c2) }
        v -> (if (g > 0) c else a)
      }
    }
  }

  /** Whole-partition modularity numerator Σ_c (4m·e_in − d_c²) —
    * q = num / 4m². */
  private def qNum(edges: Seq[(Long, Long)], lbl: Map[Long, Long]): BigInt = {
    val m = edges.size.toLong
    val cs = lbl.values.toSet
    cs.toSeq.map { c =>
      val ein = edges.count { case (a, b) => lbl(a) == c && lbl(b) == c }
      val d = edges.flatMap { case (a, b) => Seq(a, b) }
        .count(v => lbl(v) == c).toLong
      BigInt(4) * m * ein - BigInt(d) * d
    }.sum
  }

  /** Random WEIGHTED edge list over ≤8 vertices: each pair a ≤ b —
    * self-loops included — kept with p≈1/3, weight 1..4. */
  private def genWGraph(seed: Long): Seq[(Long, Long, Long)] = {
    val nV = 3 + (seed % 6).toInt
    val pairs = for (a <- 1L to nV; b <- a to nV) yield (a, b)
    val keep = samples(Gen.oneOf(true, false, false), pairs.size, seed)
    val ws = samples(Gen.chooseNum(1L, 4L), pairs.size, seed * 7 + 1)
    val kept = pairs.zip(keep).zip(ws)
      .collect { case ((p, true), w) => (p._1, p._2, w) }
    if (kept.nonEmpty) kept else Seq((1L, 2L, 1L))
  }

  /** Driver-side replay of the merged kernel: weighted k_vc over the
    * non-self edges, k_v = Σ_c k_vc + 2·w_self, exact gain
    * 2W·(k_vc − k_va) − k_v·(s_c − s_a + k_v), best strictly positive,
    * ties (−gain, c) ascending; `monotone` keeps only c < a. */
  private def wReplay(edges: Seq[(Long, Long, Long)], lbl: Map[Long, Long],
      monotone: Boolean): Map[Long, Long] = {
    val self = edges.collect { case (a, b, w) if a == b => a -> w }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val kvc = edges.collect { case (a, b, w) if a != b =>
      Seq((a, lbl(b)) -> w, (b, lbl(a)) -> w) }.flatten
      .groupMapReduce(_._1)(_._2)(_ + _)
    val kv = lbl.keys.map { v =>
      v -> (kvc.collect { case ((u, _), w) if u == v => w }.sum +
        2 * self.getOrElse(v, 0L))
    }.toMap
    val sc = lbl.toSeq.groupMapReduce(_._2)(p => kv(p._1))(_ + _)
    val bigW = kv.values.sum / 2
    lbl.map { case (v, a) =>
      val kva = kvc.getOrElse((v, a), 0L)
      val cands = kvc.toSeq.collect {
        case ((u, c), kw) if u == v && c != a && (!monotone || c < a) =>
          (c, BigInt(2) * bigW * (kw - kva) -
            BigInt(kv(v)) * (sc(c) - sc(a) + kv(v)))
      }
      v -> (cands.sortBy { case (c, g) => (-g, c) }.headOption match {
        case Some((c, g)) if g > 0 => c
        case _ => a
      })
    }
  }

  /** Driver-side weighted modularity: W = Σw, s_c = Σ endpoint weight
    * in c (a self-loop counts twice), w_in_c = Σ internal weight;
    * returns (n_communities over edge endpoints, W, q_micro) with
    * q_micro = Σ_c(4W·w_in − s_c²)·10⁶ div 4W². */
  private def qwReplay(edges: Seq[(Long, Long, Long)],
      lbl: Map[Long, Long]): (Long, Long, Long) = {
    val bigW = edges.map(_._3).sum
    val cs = edges.flatMap { case (a, b, _) => Seq(lbl(a), lbl(b)) }.distinct
    val num = cs.map { c =>
      val s = edges.map { case (a, b, w) =>
        (if (lbl(a) == c) w else 0L) + (if (lbl(b) == c) w else 0L) }.sum
      val win = edges.collect {
        case (a, b, w) if lbl(a) == c && lbl(b) == c => w }.sum
      BigInt(4) * bigW * win - BigInt(s) * s
    }.sum
    (cs.size.toLong, bigW,
      (num * 1000000 / (BigInt(4) * bigW * bigW)).toLong)
  }

  test("louvainMove equals the weighted gain replay on random graphs " +
    "with self-loops, guarded and unguarded") {
    import spark.implicits._
    for (seed <- 21L to 28L; monotone <- Seq(false, true)) {
      val edges = genWGraph(seed)
      // one isolated labeled node: the kernel must keep its label
      val vs = (edges.flatMap { case (a, b, _) => Seq(a, b) } :+ 99L)
        .distinct.sorted
      val lbl = genLabels(vs, seed * 13 + 5)
      val got = Graph.louvainMove(edges.toDF("pa", "pb", "w"),
          lbl.toSeq.toDF("v", "community"), monotone = monotone)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = wReplay(edges, lbl, monotone)
      assert(got == want, s"seed=$seed monotone=$monotone edges=$edges " +
        s"lbl=$lbl\n got=$got\nwant=$want")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("the modularity scorer equals the weighted replay, and qNum at " +
    "unit weights") {
    import spark.implicits._
    def score(df: org.apache.spark.sql.DataFrame, lbl: Map[Long, Long]) = {
      val r = graft.queries.CommunityQueries
        .modularityCore(df, lbl.toSeq.toDF("v", "community")).collect().head
      (r.getAs[Long]("n_communities"), r.getAs[Long]("m"),
        r.getAs[Long]("q_micro"))
    }
    for (seed <- 31L to 38L) {
      val edges = genWGraph(seed)
      val vs = edges.flatMap { case (a, b, _) => Seq(a, b) }.distinct.sorted
      val lbl = genLabels(vs, seed * 19 + 2)
      assert(score(edges.toDF("pa", "pb", "w"), lbl) ==
        qwReplay(edges, lbl), s"seed=$seed edges=$edges lbl=$lbl")
      // unit weights over a canonical graph: the unweighted definition
      val ue = genGraph(seed)
      val ulbl = genLabels(
        ue.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted, seed + 3)
      val m = ue.size.toLong
      val (_, gotM, gotQ) =
        score(Graph.unitWeights(ue.toDF("pa", "pb")), ulbl)
      assert(gotM == m)
      assert(gotQ == (qNum(ue, ulbl) * 1000000 / (BigInt(4) * m * m)).toLong,
        s"seed=$seed edges=$ue lbl=$ulbl")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("louvainMoveRound equals the brute-force gain argmax on random graphs") {
    import spark.implicits._
    for (seed <- 1L to 8L) {
      val edges = genGraph(seed)
      val vs = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val lbl = genLabels(vs, seed * 31 + 7)
      val df = edges.toDF("pa", "pb")
      val ldf = lbl.toSeq.toDF("v", "community")
      val got = Graph.louvainMove(Graph.unitWeights(df), ldf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = replay(edges, lbl)
      assert(got == want,
        s"seed=$seed edges=$edges lbl=$lbl\n got=$got\nwant=$want")
      graft.operators.CacheScope.release(spark)
    }
  }

  test("the gain model matches the modularity definition for single moves") {
    // apply each node's chosen move ALONE (sequential semantics — the
    // regime the gain formula is exact in) and check 4m²·Δq == 2·gain·
    // (qNum scales by 4m², the gain comparison by 2m²)
    for (seed <- 11L to 14L) {
      val edges = genGraph(seed)
      val vs = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val lbl = genLabels(vs, seed * 17 + 3)
      val m = edges.size.toLong
      val dir = edges ++ edges.map { case (a, b) => (b, a) }
      val adj = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val deg = adj.view.mapValues(_.size.toLong).toMap
      val dTot = lbl.keys.toSeq.groupBy(lbl).view
        .mapValues(_.map(deg).sum).toMap // .toSeq: Set.map collapses
      val before = qNum(edges, lbl)
      vs.foreach { v =>
        val a = lbl(v)
        val kvc = adj(v).groupBy(lbl).view.mapValues(_.size.toLong).toMap
        val kva = kvc.getOrElse(a, 0L)
        kvc.keys.filter(_ != a).foreach { c =>
          val gain = BigInt(2) * m * (kvc(c) - kva) -
            BigInt(deg(v)) * (dTot(c) - dTot(a) + deg(v))
          val after = qNum(edges, lbl.updated(v, c))
          assert(after - before == 2 * gain,
            s"seed=$seed v=$v a=$a c=$c: Δnum=${after - before} gain=$gain")
        }
      }
    }
  }
}
