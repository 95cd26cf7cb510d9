package graft

import org.apache.spark.sql.{functions => F}

/** First-principles replays for the r12 distance/lifecycle/topology
  * quartet — wasserstein_1, hazard_na, rich_club, graph_edge_drift —
  * on constructed fixtures with hand-computable answers. */
class ShapeDriftSpec extends SparkSpec {

  test("wasserstein_1 matches a hand-computed CDF-area on a tiny " +
    "two-arm fixture") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("w1").toString
    // R: prices 1.00, 2.00, 2.00; N: 2.00, 4.00 (cents 100/200/400)
    Seq(("R", 1.00), ("R", 2.00), ("R", 2.00), ("N", 2.00), ("N", 4.00))
      .toDF("l_returnflag", "l_extendedprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("wasserstein_1")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 2L)
    // F1 = (1/3 at 100, 1 at 200); F2 = (0 at 100, 1/2 at 200, 1 at 400)
    // W1 = |1/3-0|*100 + |1-1/2|*200 = 33.333.. + 100 = 133.333.. cents
    //    = 1.333333 dollars
    assert(math.abs(r.getAs[Double]("w1") - 400.0 / 3 / 100) < 1e-5,
      s"w1 ${r.getAs[Double]("w1")}")
  }

  test("hazard_na matches a first-principles Nelson-Aalen replay with " +
    "censoring") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("na").toString
    // customers: A repeats after 5d, B after 20d, C and D never repeat
    // (censored at horizon). Max day = 1992-02-01 (day 31).
    Seq(
      ("A", "1992-01-01", 1L), ("A", "1992-01-06", 2L),
      ("B", "1992-01-02", 3L), ("B", "1992-01-22", 4L),
      ("C", "1992-01-10", 5L),
      ("D", "1992-02-01", 6L))
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
      .selectExpr("o_custkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("hazard_na")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // subjects: A ev t=5, B ev t=20, C censored t=22, D censored t=0
    // risk sets: t=5 -> {A,B,C} (D's time 0 < 5): n=3; t=20 -> {B,C}: n=2
    // H(7) = 1e6/3 = 333333; H(14) same; H(30/60/90/180) += 1e6/2
    assert(got(7L) == ((1L, 333333L)), s"k=7 ${got(7L)}")
    assert(got(14L) == ((1L, 333333L)))
    assert(got(30L) == ((2L, 333333L + 500000L)))
    assert(got(180L) == ((2L, 833333L)))
  }

  test("rich_club: suffix-sum ladder matches a brute-force phi on a " +
    "hub-clique fixture") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("rc").toString
    // K12 hub clique (degrees 11 + spokes) with 200 leaves: two leaves
    // per hub ensure hub degree 13 > 8; leaves degree 1.
    val hub = for (i <- 1L to 12L; j <- (i + 1) to 12L) yield (i, j)
    val leaves = for (i <- 1L to 12L; l <- 0L to 1L)
      yield (i, 100L + 2 * i + l)
    // encode each edge as one 2-line order
    val rows = (hub ++ leaves).zipWithIndex.flatMap { case ((a, b), k) =>
      Seq((k.toLong, a), (k.toLong, b))
    }
    rows.toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("rich_club")(spark, dir)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // degrees: hubs 11 + 2 = 13, leaves 1. k=8: N=12 hubs, E=66 clique
    // edges (leaf edges have min degree 1) -> phi = 2*66/(12*11) = 1.0
    assert(got(8L) == ((12L, 66L, 1000000L)), s"k=8 ${got(8L)}")
    // k=16: no node has degree > 16 -> guard row
    assert(got(16L) == ((0L, 0L, 0L)))
    graft.operators.CacheScope.release(spark)
  }

  test("hodges_lehmann matches a brute-force Walsh-median replay") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("hl").toString
    // one month, 4 days with known cents (one outlier the HL resists)
    val cents = Seq(100L, 200L, 300L, 99900L)
    cents.zipWithIndex.map { case (c, i) =>
      (f"1995-03-${i + 1}%02d", c / 100.0)
    }.toDF("o_orderdate", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val walsh = (for (i <- cents.indices; j <- i until cents.length)
      yield cents(i) + cents(j)).sorted
    // the 2cum >= tot+1 pick is the first value whose cumulative count
    // reaches ceil((n+1)/2) — 0-based index n/2 (house percentile_disc)
    val m2 = walsh(walsh.length / 2)
    val r = SparkEntry.queries("hodges_lehmann")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_pairs") == walsh.length.toLong)
    assert(math.abs(r.getAs[Double]("hl_dollars") - m2 / 200.0) < 1e-9,
      s"hl ${r.getAs[Double]("hl_dollars")} vs ${m2 / 200.0}")
  }

  test("cross_correlation matches a brute-force lagged Pearson replay") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("ccf").toString
    // y leads x by 2 days: y_t = x_{t+2} shape on a 10-day burst
    val xs = Seq(100L, 900L, 300L, 700L, 500L, 800L, 200L, 600L, 400L,
      1000L)
    val rows =
      xs.zipWithIndex.map { case (c, t) =>
        (f"1995-01-${t + 1}%02d", "1-URGENT", c / 100.0) } ++
      xs.zipWithIndex.map { case (c, t) =>
        (f"1995-01-${t + 3}%02d", "2-HIGH", c / 100.0) }
    rows.toDF("o_orderdate", "o_orderpriority", "o_totalprice")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_totalprice")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val x = Array.fill(365)(0L); val y = Array.fill(365)(0L)
    xs.zipWithIndex.foreach { case (c, t) => x(t) = c; y(t + 2) = c }
    def pearson(lag: Int): Double = {
      val ts = (0 until 365).filter(t => t + lag >= 0 && t + lag < 365)
      val n = ts.length.toDouble
      val (sx, sy) = (ts.map(x(_)).sum.toDouble,
        ts.map(t => y(t + lag)).sum.toDouble)
      val sxy = ts.map(t => x(t).toDouble * y(t + lag)).sum
      val sxx = ts.map(t => x(t).toDouble * x(t)).sum
      val syy = ts.map(t => y(t + lag).toDouble * y(t + lag)).sum
      val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
      if (vx <= 0 || vy <= 0) 0.0 else (n * sxy - sx * sy) /
        math.sqrt(vx * vy)
    }
    val got = SparkEntry.queries("cross_correlation")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("r")).toMap
    assert(got.size == 15)
    for (lag <- -7 to 7)
      assert(math.abs(got(lag.toLong) - pearson(lag)) < 1e-5,
        s"lag $lag: ${got(lag.toLong)} vs ${pearson(lag)}")
    // the planted lead: r at lag +2 must dominate every other lag
    assert((-7 to 7).filter(_ != 2).forall(l =>
      got(2L) > got(l.toLong)), "planted +2 lead must dominate")
  }

  test("leaderboard_turnover counts surviving top-set members exactly") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("lb").toString
    // 1995 parts {1,2,3}; 1996 parts {2,3,4} (all inside top-100)
    val li = Seq((10L, 1L), (10L, 2L), (11L, 3L),
      (20L, 2L), (20L, 3L), (21L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_extendedprice", F.col("l_partkey") * 10.0)
    val od = Seq((10L, "1995-02-01"), (11L, "1995-03-01"),
      (20L, "1996-02-01"), (21L, "1996-03-01"))
      .toDF("o_orderkey", "o_orderdate")
      .selectExpr("o_orderkey",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate")
    li.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    od.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("leaderboard_turnover")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // overlap_bp is relative to the REALIZED list size (3 parts here,
    // not the k=100 budget — r12 advice): 2*10000 div 3 = 6666
    assert(got(1995L) == ((2L, 3L, 6666L)), s"1995 ${got(1995L)}") // {2,3}
    assert(got(1996L) == ((0L, 3L, 0L)))

    // leaderboard_rbo on the same fixture: 1995 ranks (3,2,1)→rn(1,2,3),
    // 1996 ranks (4,3,2)→rn(1,2,3); common parts 3 (m=2) and 2 (m=3).
    // Replay the integer-pico weighted sum exactly.
    val rbo = SparkEntry.queries("leaderboard_rbo")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ms = Seq(2, 3) // max(rank_a, rank_b) of the common parts
    val expect = (1 to 100).map { dep =>
      val w = math.floor(math.pow(0.9, dep) * 1e12).toLong
      val x = ms.count(_ <= dep)
      w * x / dep
    }.sum / 9e12
    assert(math.abs(rbo(1995L) - expect) < 1e-6,
      s"rbo 1995 ${rbo(1995L)} vs $expect")
    assert(rbo(1996L) == 0.0 && rbo(2000L) == 0.0)
    assert(rbo.size == 6)
  }

  test("negative_sample matches a driver-side hash replay and never " +
    "emits a positive") {
    val nParts = spark.read.parquet(s"$sf/part.parquet").count()
    val pos = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/lineitem.parquet"),
        F.col("o_orderkey") === F.col("l_orderkey"))
      .select(F.col("o_custkey").as("ck"), F.col("l_partkey").as("pk"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val custs = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey").collect().map(_.getLong(0))
    val expect = custs.flatMap { ck =>
      val cands = (0L to 7L)
        .map(i => (graft.operators.Hashing.hash60(s"$ck:$i") % nParts, i))
        .groupBy(_._1).map { case (pk, xs) => (pk, xs.map(_._2).min) }
        .toSeq
        .filterNot { case (pk, _) => pos((ck, pk)) }
        .sortBy { case (pk, i) => (i, pk) }
        .take(5)
      cands.zipWithIndex.map { case ((pk, _), r) =>
        (ck, (r + 1).toLong, pk) }
    }.sortBy(x => (x._1, x._2))
    val got = SparkEntry.queries("negative_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expect.toSeq,
      s"head got ${got.take(3)} vs replay ${expect.take(3).toSeq}")
    assert(got.forall { case (ck, _, pk) => !pos((ck, pk)) })
  }

  test("ab_sprt stops at the planted crossing day with the right " +
    "decision") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("sprt").toString
    // 15 urgent-only orders on day 0: step = 15*200671 = 3010065
    // >= 2944439 -> crossing day 0, accept_h1; later days drift down
    // but the decision is already taken.
    val rows =
      (1 to 15).map(i => ("1995-01-01", "1-URGENT", i.toLong)) ++
      (1 to 30).map(i => ("1995-01-05", "2-HIGH", 100L + i))
    rows.toDF("o_orderdate", "o_orderpriority", "o_orderkey")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_orderkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("ab_sprt")(spark, dir).collect().head
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Long]("llr_micro") ==
      15L * 200671 - 30L * 200671)
    assert(r.getAs[Long]("crossing_day") == 0L)
    assert(r.getAs[String]("decision") == "accept_h1")
    // no-crossing fixture: a single balanced day stays 'continue'
    val dir2 = SparkSpec.tempDir("sprt2").toString
    Seq(("1995-01-01", "1-URGENT", 1L), ("1995-01-01", "2-HIGH", 2L))
      .toDF("o_orderdate", "o_orderpriority", "o_orderkey")
      .selectExpr("CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_orderkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir2/orders.parquet")
    val r2 = SparkEntry.queries("ab_sprt")(spark, dir2).collect().head
    assert(r2.getAs[Long]("crossing_day") == -1L)
    assert(r2.getAs[String]("decision") == "continue")
  }

  test("dedup_capture: estimator invariants hold and the estimate " +
    "lands near the enumerable truth") {
    val r = SparkEntry.queries("dedup_capture")(spark, sf).collect().head
    val (na, nb, m) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Long]("n_both"))
    val lp = r.getAs[Long]("lp_est")
    val ch = r.getAs[Long]("chapman_est")
    assert(m <= math.min(na, nb), "overlap cannot exceed either catch")
    if (m > 0) {
      assert(lp == na * nb / m)
      assert(lp >= math.max(na, nb),
        "LP estimate is bounded below by the larger catch")
    }
    assert(ch == (na + 1) * (nb + 1) / (m + 1) - 1)
    // enumerable truth at test scale: exact 3-gram jaccard >= 0.5 pairs
    val truth = graft.operators.Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = None).count()
    // on this corpus the simhash catch NESTS inside the minhash catch
    // (m == n_b), so LP degenerates to the larger catch — an honest
    // LOWER bound on the truth; assert the documented band
    assert(lp <= truth, s"nested-catcher LP $lp must not exceed $truth")
    assert(lp >= (truth * 7) / 10,
      s"LP $lp vs truth $truth outside the documented 30% band")
    graft.operators.CacheScope.release(spark)
  }

  test("graph_edge_drift: year-mask jaccard matches hand-set overlap") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("drift").toString
    // 1995: edges {1-2, 3-4}; 1996: edges {1-2, 5-6, 7-8}
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 3L), (11L, 4L),
      (20L, 1L), (20L, 2L), (21L, 5L), (21L, 6L), (22L, 7L), (22L, 8L))
      .toDF("l_orderkey", "l_partkey")
    val od = Seq((10L, "1995-03-01"), (11L, "1995-04-01"),
      (20L, "1996-03-01"), (21L, "1996-05-01"), (22L, "1996-06-01"))
      .toDF("o_orderkey", "o_orderdate")
      .selectExpr("o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate")
    li.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    od.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("graph_edge_drift")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // 1995->1996: |A|=2, |B|=3, common {1-2} = 1, union 4 -> 250000
    assert(got(1995L) == ((2L, 3L, 1L, 250000L)), s"1995 ${got(1995L)}")
    // 1996->1997: |A|=3, |B|=0 -> jaccard 0 guard path exercised
    assert(got(1996L) == ((3L, 0L, 0L, 0L)))
    assert(got(2000L) == ((0L, 0L, 0L, 0L)))
  }
}
