package graft

import org.apache.spark.sql.{functions => F}

/** D50/D51 invariants: label propagation on a hand-built graph with a
  * known community structure, determinism, and the modularity identity
  * between the detected-partition query and a driver-side replay. */
class CommunitySpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("labelPropagation separates two cliques joined by one bridge edge") {
    import spark.implicits._
    // two 4-cliques {1..4} and {11..14}, bridged by (4, 11)
    def clique(vs: Seq[Long]) =
      for (a <- vs; b <- vs if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L, 11L)).toDF("pa", "pb")
    val out = graft.operators.Graph
      .labelPropagation(edges, "pa", "pb", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges onto ONE label, and the two differ
    val left = Seq(1L, 2L, 3L, 4L).map(out)
    val right = Seq(11L, 12L, 13L, 14L).map(out)
    assert(left.distinct.size == 1, s"left clique split: $out")
    assert(right.distinct.size == 1, s"right clique split: $out")
    assert(left.head != right.head, s"cliques merged: $out")
  }

  test("community_lpa is deterministic and covers every graph node") {
    val a = q("community_lpa").collect().map(_.toString).toSeq
    val b = q("community_lpa").collect().map(_.toString).toSeq
    assert(a == b)
    val nodes = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .select(F.explode(F.array("pa", "pb")).as("v"))
      .distinct().count()
    assert(a.size.toLong == nodes)
  }

  test("louvainMoveRound repatriates a mislabeled clique member and " +
    "leaves a correct partition alone") {
    import spark.implicits._
    def clique(vs: Seq[Long]) =
      for (a <- vs; b <- vs if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L, 11L)).toDF("pa", "pb")
    // node 3 deliberately mislabeled into the right clique's community
    val bad = Seq((1L, 100L), (2L, 100L), (3L, 200L), (4L, 100L),
      (11L, 200L), (12L, 200L), (13L, 200L), (14L, 200L))
      .toDF("v", "community")
    val unit = graft.operators.Graph.unitWeights(edges)
    val moved = graft.operators.Graph
      .louvainMove(unit, bad)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(moved(3L) == 100L, s"node 3 should rejoin its clique: $moved")
    assert(Seq(1L, 2L, 4L).forall(moved(_) == 100L), moved.toString)
    assert(Seq(11L, 12L, 13L, 14L).forall(moved(_) == 200L), moved.toString)
    // the already-correct partition is a local optimum: nothing moves
    val good = Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 100L),
      (11L, 200L), (12L, 200L), (13L, 200L), (14L, 200L))
      .toDF("v", "community")
    val stable = graft.operators.Graph
      .louvainMove(unit, good)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stable == Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      11L -> 200L, 12L -> 200L, 13L -> 200L, 14L -> 200L).toMap,
      s"correct partition must be stable: $stable")
    graft.operators.CacheScope.release(spark)
  }

  test("community_refine publishes exact before/after modularity of the move") {
    val r = q("community_refine").collect().head
    val before = q("community_modularity").collect().head
    assert(r.getLong(r.fieldIndex("q_before_micro")) ==
      before.getLong(before.fieldIndex("q_micro")),
      "q_before must equal the D51 score of the same partition")
    assert(r.getLong(r.fieldIndex("n_nodes")) ==
      before.getLong(before.fieldIndex("n_nodes")))
    val moved = r.getLong(r.fieldIndex("n_moved"))
    assert(moved >= 0 && moved <= r.getLong(r.fieldIndex("n_nodes")))
  }

  test("community_ladder rungs are consistent with the single-move family") {
    val rows = q("community_ladder").collect()
    assert(rows.length == 3)
    val byRound = rows.map(r => r.getInt(r.fieldIndex("round")) -> r).toMap
    assert(byRound.keySet == Set(0, 1, 2))
    // rung 0 IS the detected partition's staged score
    val d51 = q("community_modularity").collect().head
    assert(byRound(0).getLong(byRound(0).fieldIndex("q_micro")) ==
      d51.getLong(d51.fieldIndex("q_micro")))
    assert(byRound(0).getLong(byRound(0).fieldIndex("n_moved")) == 0L)
    // rung 1 IS D53's after-state: same n_moved, same after-Q
    val d53 = q("community_refine").collect().head
    assert(byRound(1).getLong(byRound(1).fieldIndex("n_moved")) ==
      d53.getLong(d53.fieldIndex("n_moved")))
    assert(byRound(1).getLong(byRound(1).fieldIndex("q_micro")) ==
      d53.getLong(d53.fieldIndex("q_after_micro")))
    // m never changes (moves relabel nodes, the graph is fixed)
    assert(rows.map(r => r.getLong(r.fieldIndex("m"))).distinct.length == 1)
    // a rung that moves nothing must keep Q exactly
    rows.sortBy(_.getInt(0)).sliding(2).foreach {
      case Array(a, b) =>
        if (b.getLong(b.fieldIndex("n_moved")) == 0L)
          assert(a.getLong(a.fieldIndex("q_micro")) ==
            b.getLong(b.fieldIndex("q_micro")))
      case _ => ()
    }
    graft.operators.CacheScope.release(spark)
  }

  test("staged rung-1 labels equal a live one-round move (build/serve parity)") {
    val staged = graft.queries.Staged.communityMoved(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val live = graft.operators.Graph.louvainMove(
      graft.operators.Graph.unitWeights(
        graft.queries.Staged.coPurchaseEdges(spark, sf)),
      graft.queries.Staged.communityLabels(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged == live)
    graft.operators.CacheScope.release(spark)
  }

  test("community_modularity matches a driver-side replay on detected labels") {
    val lbl = q("community_lpa").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val m = edges.length.toLong
    // degree mass per community: each edge endpoint contributes 1
    val dC = (edges.map(e => lbl(e._1)) ++ edges.map(e => lbl(e._2)))
      .groupBy(identity).map { case (c, xs) => c -> xs.length.toLong }
    val num = dC.map { case (c, d) =>
      val ein = edges.count { case (a, b) => lbl(a) == c && lbl(b) == c }
      BigInt(4) * m * ein - BigInt(d) * d
    }.sum
    val qMicro = (num * 1000000 / (BigInt(4) * m * m)).toLong
    val r = q("community_modularity").collect().head
    assert(r.getLong(r.fieldIndex("m")) == m)
    assert(r.getLong(r.fieldIndex("n_nodes")) == lbl.size.toLong)
    assert(r.getLong(r.fieldIndex("n_communities")) ==
      lbl.values.toSet.size.toLong)
    assert(r.getLong(r.fieldIndex("q_micro")) == qMicro)
    // a detected partition on a real co-purchase graph should be valid
    val qm = r.getLong(r.fieldIndex("q_micro"))
    assert(qm >= -500000L && qm <= 1000000L)
  }

  test("louvainMoveRoundWeighted matches a driver-side gain replay " +
    "with self-loops") {
    import spark.implicits._
    // weighted graph with a self-loop on 4 (coarse-graph shape) and a
    // singleton community 30 on node 6
    val nonSelf = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 4L, 1L), (4L, 5L, 4L), (5L, 6L, 1L))
    val wEdges = (nonSelf :+ ((4L, 4L, 2L))).toDF("pa", "pb", "w")
    val lbl = Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L,
      5L -> 20L, 6L -> 30L)
    val labels = lbl.toSeq.toDF("v", "community")
    val got = graft.operators.Graph
      .louvainMove(wEdges, labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the exact weighted gain from first principles
    val self = Map(4L -> 2L)
    val kvc = nonSelf
      .flatMap { case (a, b, w) => Seq((a, lbl(b)) -> w, (b, lbl(a)) -> w) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val kv = lbl.keys.map { v =>
      v -> (kvc.collect { case ((u, _), w) if u == v => w }.sum
        + 2 * self.getOrElse(v, 0L))
    }.toMap
    val sc = lbl.groupBy(_._2).map { case (c, m0) => c -> m0.keys.map(kv).sum }
    val bigW = kv.values.sum / 2
    val expected = lbl.map { case (v, a) =>
      val cands = kvc.collect { case ((u, c), kw) if u == v && c != a =>
        (c, BigInt(2) * bigW * (kw - kvc.getOrElse((v, a), 0L))
          - BigInt(kv(v)) * (sc(c) - sc(a) + kv(v)))
      }.toSeq
      val best = cands.sortBy { case (c, g) => (-g, c) }.headOption
      v -> (best match {
        case Some((c, g)) if g > 0 => c
        case _ => a
      })
    }
    assert(got == expected, s"got $got vs replay $expected")
    // the fixture must exercise BOTH branches: a move and a stay
    assert(expected.exists { case (v, c) => c != lbl(v) }, "no move fired")
    assert(expected.exists { case (v, c) => c == lbl(v) }, "all moved")
    graft.operators.CacheScope.release(spark)
  }

  test("community_ladder_weighted's before-score equals D54 and its " +
    "move is bounded") {
    val r = q("community_ladder_weighted").collect().head
    val d54 = q("community_weighted").collect().head
    assert(r.getLong(r.fieldIndex("qw_before_micro")) ==
      d54.getLong(d54.fieldIndex("qw_micro")),
      "qw_before must equal the D54 score of the same partition")
    assert(r.getLong(r.fieldIndex("w_tot")) ==
      d54.getLong(d54.fieldIndex("w_tot")))
    val moved = r.getLong(r.fieldIndex("n_moved"))
    assert(moved >= 0 && moved <= r.getLong(r.fieldIndex("n_nodes")))
    graft.operators.CacheScope.release(spark)
  }

  test("community_coarsen starts from the rung-1 partition and " +
    "coarsens it") {
    val r = q("community_coarsen").collect().head
    val rung1 = graft.queries.Staged.communityMovedQ(spark, sf)
      .collect().head
    assert(r.getLong(r.fieldIndex("q_before_micro")) ==
      rung1.getLong(rung1.fieldIndex("q_micro")),
      "q_before must be the rung-1 staged score (phase 2 follows phase 1)")
    assert(r.getLong(r.fieldIndex("m")) ==
      rung1.getLong(rung1.fieldIndex("m")))
    assert(r.getLong(r.fieldIndex("n_supernodes")) ==
      rung1.getLong(rung1.fieldIndex("n_communities")),
      "one supernode per rung-1 community")
    val moved = r.getLong(r.fieldIndex("n_moved"))
    assert(moved >= 0 && moved <= r.getLong(r.fieldIndex("n_supernodes")))
    assert(r.getLong(r.fieldIndex("n_communities")) <=
      r.getLong(r.fieldIndex("n_supernodes")),
      "a move round can only merge supernode communities")
    graft.operators.CacheScope.release(spark)
  }

  test("community_converge: q trajectory monotone non-decreasing, " +
    "rung 1 is the staged move, and the unroll equals the last " +
    "coarse score") {
    val rows = q("community_converge").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 2 * graft.queries.CommunityQueries.CONV_MOVES + 2)
    // the accept guard makes q monotone BY CONSTRUCTION — this pins it
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._6 >= a._6,
        s"q regressed between rungs $a and $b")
    }
    // rung (0,0) is the staged LPA score; rung (1,1) the staged move
    val q0 = graft.queries.Staged.communityQ(spark, sf).collect().head
    assert(rows.head == ((0L, 0L, 0L, 1L,
      q0.getAs[Long]("n_communities"), q0.getAs[Long]("q_micro"))))
    val m1 = graft.queries.Staged.communityMovedQ(spark, sf)
      .collect().head
    val r11 = rows(1)
    assert(r11._3 == m1.getAs[Long]("n_moved"), "rung (1,1) n_moved")
    if (r11._4 == 1L)
      assert(r11._6 == m1.getAs[Long]("q_micro"),
        "accepted rung (1,1) must carry the staged move's score")
    // the final unrolled full-graph exact Q must equal the last coarse
    // rung's accepted score — the coarsening-preserves-Q identity
    val lastCoarse = rows(rows.length - 2)
    val fin = rows.last
    assert(fin._1 == 3L && fin._4 == 1L)
    assert(fin._6 == lastCoarse._6,
      s"unrolled Q ${fin._6} != last coarse accepted Q ${lastCoarse._6}")
    // a rejected rung forwards its state: n_communities and q unchanged
    rows.sliding(2).foreach { case Array(a, b) =>
      if (b._4 == 0L) assert(b._5 == a._5 && b._6 == a._6,
        s"rejected rung $b must forward state from $a")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("community_converge reproduces its recorded accept sequence") {
    // (level, rung, n_moved, accepted, n_communities, q_micro), recorded
    // from the ladder before its rungs shared one move/score helper
    val rows = q("community_converge").collect()
      .map(r => (0 until 6).map(r.getLong)).toSeq
    assert(rows == Seq(
      Seq(0L, 0L, 0L, 1L, 1L, 0L), Seq(1L, 1L, 0L, 1L, 1L, 0L),
      Seq(1L, 2L, 0L, 1L, 1L, 0L), Seq(1L, 3L, 0L, 1L, 1L, 0L),
      Seq(2L, 1L, 0L, 1L, 1L, 0L), Seq(2L, 2L, 0L, 1L, 1L, 0L),
      Seq(2L, 3L, 0L, 1L, 1L, 0L), Seq(3L, 0L, 0L, 1L, 1L, 0L)))
    graft.operators.CacheScope.release(spark)
  }

  test("community_converge reads each rung with one driver collect") {
    // warm the staged artifacts, so only the ladder's own actions count
    q("community_converge").collect()
    graft.operators.CacheScope.release(spark)
    val collects = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect") collects.incrementAndGet()
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit =
        if (funcName == "collect") collects.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      q("community_converge")
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val rungs = 2 * graft.queries.CommunityQueries.CONV_MOVES + 2
    assert(collects.get <= rungs,
      s"${collects.get} collects for $rungs rungs")
    graft.operators.CacheScope.release(spark)
  }

  test("community_weighted matches a driver-side weighted replay") {
    val lbl = q("community_lpa").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weights = co-purchase multiplicity from the staged multi-edge list
    val w = graft.queries.Staged.coPurchasePairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case (e, xs) => e -> xs.length.toLong }
    val wTot = w.values.sum
    val sC = w.toSeq.flatMap { case ((a, b), ww) =>
      Seq(lbl(a) -> ww, lbl(b) -> ww) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
    val num = sC.map { case (c, s) =>
      val win = w.collect {
        case ((a, b), ww) if lbl(a) == c && lbl(b) == c => ww }.sum
      BigInt(4) * wTot * win - BigInt(s) * s
    }.sum
    val qwMicro = (num * 1000000 / (BigInt(4) * wTot * wTot)).toLong
    val r = q("community_weighted").collect().head
    assert(r.getLong(r.fieldIndex("w_tot")) == wTot)
    assert(r.getLong(r.fieldIndex("n_communities")) ==
      lbl.values.toSet.size.toLong)
    assert(r.getLong(r.fieldIndex("qw_micro")) == qwMicro)
    graft.operators.CacheScope.release(spark)
  }

  test("community_converge's rung and coarse dirs die at release; " +
    "staged dirs and kcore survive") {
    graft.operators.CacheScope.release(spark)
    val root = graft.queries.Harness.root
    def children(prefix: String): Seq[String] = {
      val ls = java.nio.file.Files.list(root)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(prefix)).toSeq
      } finally ls.close()
    }
    q("community_converge").collect()
    assert(children("rung_").nonEmpty && children("coarse_").nonEmpty)
    val staged = children("graph_")
    assert(staged.nonEmpty)
    graft.operators.CacheScope.release(spark)
    assert(children("rung_").isEmpty && children("coarse_").isEmpty)
    assert(children("graph_") == staged)
    assert(q("kcore").collect().nonEmpty)
    graft.operators.CacheScope.release(spark)
  }
}
