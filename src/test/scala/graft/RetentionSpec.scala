package graft

import org.apache.spark.sql.{functions => F}

/** Wave-20 (r6) invariants: bitmap retention accounting, TWAP on
  * constant series, join-size estimation closing against the real
  * join, and k-core peeling on a crafted graph. */
class RetentionSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("bitmap_retention: offset 0 counts every user, curve is bounded") {
    val rows = q("bitmap_retention").collect()
    assert(rows.length == 63)
    val nUsers = graft.queries.Tables.t(spark, sf, "events")
      .select("user_id").distinct().count()
    val byOff = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byOff(0L) == nUsers, "every user is active on their first day")
    rows.foreach(r => assert(r.getLong(1) <= nUsers))
  }

  test("twap of a constant series equals the constant") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = (0 until 5).map { i =>
      (i.toLong, new java.sql.Timestamp(ts0.getTime + i * 60000L),
        1L, "tick", 2.50, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("ts", "event_id")
    // same construction as C59: constant 250 cents whatever the gaps
    val dur = ev.withColumn("dur",
      F.unix_micros(F.lead("ts", 1).over(w)) - F.unix_micros(F.col("ts")))
      .where(F.col("dur").isNotNull)
      .agg(F.expr(
        "CAST(sum(CAST(CAST(floor(value*100) AS BIGINT) * dur AS DECIMAL(38,0))) div sum(dur) AS BIGINT)"))
      .head().getLong(0)
    assert(dur == 250L)
  }

  test("join_card_audit's predicted cardinality closes against the join") {
    val audit = q("join_card_audit").collect()
    val predicted = audit.map(_.getAs[Long]("pred_rows")).sum
    val actual = graft.queries.Tables.t(spark, sf, "part")
      .join(graft.queries.Tables.t(spark, sf, "lineitem"),
        F.col("p_partkey") === F.col("l_partkey"))
      .count()
    assert(predicted == actual, "equi-join accounting is exact")
    audit.foreach(r => assert(
      r.getAs[Long]("n_matched") <= r.getAs[Long]("n_parts")))
  }

  test("k-core peel removes tendrils, keeps the core") {
    import spark.implicits._
    // triangle 1-2-3 (the 2-core) with a path 3-4-5 hanging off it:
    // round 1 drops 5 (deg 1), round 2 drops 4, round 3 confirms
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("pa", "pb")
    val core = graft.operators.Graph.kCore(edges, "pa", "pb", 2L, 3)
      .as[(Long, Long)].collect().sorted
    assert(core.sameElements(Array((1L, 2L), (2L, 2L), (3L, 2L))))
    graft.operators.CacheScope.release(spark)
  }

  /** The unrolled-CTE form of the kcore oracle, driver-side: each round
    * keeps the edges whose endpoints both have degree ≥ k in the
    * previous round's edges; returns the final edges' (node, degree). */
  private def peelReplay(edges: Seq[(Long, Long)], k: Long,
      rounds: Int): Seq[(Long, Long)] = {
    def degrees(e: Seq[(Long, Long)]) =
      e.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
        .map { case (v, vs) => (v, vs.size.toLong) }
    val last = (1 to rounds).foldLeft(edges) { (e, _) =>
      val deg = degrees(e)
      e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }
    degrees(last).toSeq.sorted
  }

  test("Graph.kCore equals a round-by-round peel replay on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genEdges = for {
      n <- Gen.chooseNum(2, 14)
      m <- Gen.chooseNum(1, 30)
      es <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, n - 1L),
        Gen.chooseNum(0L, n - 1L)))
    } yield es.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    var seed = Seed(20240229L)
    for (k <- 1L to 3L; rounds <- 1 to 4) {
      seed = seed.next
      val edges = genEdges(Gen.Parameters.default, seed).get
      val got = graft.operators.Graph.kCore(edges.toDF("pa", "pb"),
        "pa", "pb", k, rounds).as[(Long, Long)].collect().toSeq.sorted
      assert(got == peelReplay(edges, k, rounds),
        s"k=$k rounds=$rounds edges=$edges")
      graft.operators.CacheScope.release(spark)
    }
  }

  test("ab_wilson bounds bracket the point rate and stay in [0, 1]") {
    q("ab_wilson").collect().foreach { r =>
      val (rate, lo, hi) = (r.getAs[Long]("rate_micros"),
        r.getAs[Long]("lo_micros"), r.getAs[Long]("hi_micros"))
      assert(lo <= rate && rate <= hi)
      assert(lo >= 0 && hi <= 1000000L)
      assert(hi - lo > 0, "interval has width at finite n")
    }
  }

  test("topk_others conserves the customer population per segment") {
    val rows = q("topk_others").collect()
    val bySeg = rows.groupBy(_.getAs[String]("segment"))
    val cust = graft.queries.Tables.t(spark, sf, "customer")
    bySeg.foreach { case (seg, rs) =>
      assert(rs.count(_.getAs[String]("bucket") != "OTHER") <= 3)
      val total = cust.where(F.col("c_mktsegment") === seg).count()
      assert(rs.map(_.getAs[Long]("n_cust")).sum == total)
    }
  }

  test("funnel_time_stats orders min <= p50 <= p90 <= max") {
    q("funnel_time_stats").collect().foreach { r =>
      val (mn, p50, p90, mx) = (r.getAs[Long]("min_micros"),
        r.getAs[Long]("p50_micros"), r.getAs[Long]("p90_micros"),
        r.getAs[Long]("max_micros"))
      assert(mn <= p50 && p50 <= p90 && p90 <= mx)
      assert(mn > 0, "stages are strictly after the first view")
    }
  }
}
