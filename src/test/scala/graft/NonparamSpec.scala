package graft

import org.apache.spark.sql.{functions => F}

/** M33/M34/M35 + D57 invariants: each statistic cross-checked against a
  * driver-side brute-force replay at sf0.001, plus the hand-built-graph
  * truth for the local clustering operator. */
class NonparamSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("mann_whitney matches a brute-force midrank replay") {
    val row = q("mann_whitney").collect().head
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(F.col("l_returnflag").isin("R", "N"))
      .select(F.col("l_quantity").cast("long"), F.col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // brute force: sort all values, average rank per tie group
    val sorted = raw.sortBy(_._1)
    val ranks = scala.collection.mutable.Map.empty[Long, Double]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      ranks(sorted(i)._1) = (i + 1 + j) / 2.0 // mean of ranks i+1..j
      i = j
    }
    val n1 = raw.count(_._2 == "R").toLong
    val n2 = raw.count(_._2 == "N").toLong
    val r1 = raw.filter(_._2 == "R").map(t => ranks(t._1)).sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(math.abs(row.getAs[Double]("u1") - u1) < 1e-6,
      s"u1 ${row.getAs[Double]("u1")} vs brute $u1")
    val rb = row.getAs[Double]("rank_biserial")
    assert(math.abs(rb - (1.0 - 2.0 * u1 / (n1.toDouble * n2))) < 1e-5)
    assert(rb >= -1.0 && rb <= 1.0)
  }

  test("anova_f matches a brute-force decomposition and SSB+SSW=SST") {
    val row = q("anova_f").collect().head
    val vals = spark.read.parquet(s"$sf/orders.parquet")
      .select(F.col("o_orderpriority"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS LONG)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = vals.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = vals.length.toDouble
    val grand = vals.map(_._2.toDouble).sum / n
    val ssb = groups.values.map { xs =>
      val m = xs.map(_.toDouble).sum / xs.length
      xs.length * (m - grand) * (m - grand)
    }.sum / 1e8
    val ssw = groups.values.flatMap { xs =>
      val m = xs.map(_.toDouble).sum / xs.length
      xs.map(x => (x - m) * (x - m))
    }.sum / 1e8
    val k = groups.size
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(row.getAs[Long]("k_groups") == k.toLong)
    assert(math.abs(row.getAs[Double]("ssb") - ssb) / ssb < 1e-6,
      s"ssb ${row.getAs[Double]("ssb")} vs brute $ssb")
    assert(math.abs(row.getAs[Double]("ssw") - ssw) / ssw < 1e-6)
    assert(math.abs(row.getAs[Double]("f_stat") - f) < 1e-4)
    // η² = SSB/SST in ppm (r13 effect-size column)
    val eta = ssb / (ssb + ssw)
    assert(math.abs(row.getAs[Long]("eta_sq_ppm") - eta * 1e6) < 2,
      s"eta ${row.getAs[Long]("eta_sq_ppm")} vs ${eta * 1e6}")
  }

  test("cohens_d matches a brute-force pooled-sd replay") {
    val row = q("cohens_d").collect().head
    val vals = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong))
      .filter(r => r._1 == "R" || r._1 == "N")
    val xs = vals.filter(_._1 == "R").map(_._2.toDouble)
    val ys = vals.filter(_._1 == "N").map(_._2.toDouble)
    val (m1, m2) = (xs.sum / xs.length, ys.sum / ys.length)
    val sp = math.sqrt(
      (xs.map(x => (x - m1) * (x - m1)).sum +
        ys.map(y => (y - m2) * (y - m2)).sum) /
        (xs.length + ys.length - 2))
    val d0 = (m1 - m2) / sp
    val g = d0 * (1 - 3.0 / (4.0 * (xs.length + ys.length) - 9))
    assert(row.getAs[Long]("n1") == xs.length.toLong &&
      row.getAs[Long]("n2") == ys.length.toLong)
    assert(math.abs(row.getAs[Double]("cohens_d") - d0) < 1e-5,
      s"d ${row.getAs[Double]("cohens_d")} vs $d0")
    assert(math.abs(row.getAs[Double]("hedges_g") - g) < 1e-5)
  }

  test("poisson_dispersion matches a brute-force variance/mean replay") {
    val row = q("poisson_dispersion").collect().head
    val daily = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(F.expr("CAST(o_orderdate AS DATE)")).count()
      .collect().map(_.getLong(1).toDouble)
    val n = daily.length.toDouble
    val mean = daily.sum / n
    val s2 = daily.map(c => (c - mean) * (c - mean)).sum / (n - 1)
    assert(row.getAs[Long]("n_days") == daily.length.toLong)
    assert(row.getAs[Long]("mean_micro") ==
      (BigInt((daily.sum * 1e6).round) / daily.length).toLong ||
      math.abs(row.getAs[Long]("mean_micro") - mean * 1e6) < 2)
    assert(math.abs(row.getAs[Double]("dispersion") - s2 / mean) < 1e-4,
      s"D ${row.getAs[Double]("dispersion")} vs ${s2 / mean}")
    assert(math.abs(row.getAs[Double]("chi2_stat") -
      (n - 1) * s2 / mean) < 1e-2)
  }

  test("cramers_v matches a brute-force chi-square and sits in [0,1]") {
    val row = q("cramers_v").collect().head
    val cells = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        F.col("o_custkey") === F.col("c_custkey"))
      .groupBy("o_orderpriority", "c_mktsegment").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val nt = cells.map(_._2).sum.toDouble
    val nr = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val nc = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    // full row×column grid: an empty cell still contributes its
    // expected count (the query builds the same grid via margin cross
    // join + left join — both sides must share the semantics)
    val obs = cells.toMap
    val chi2 = (for (p <- nr.keys; s2 <- nc.keys) yield {
      val o = obs.getOrElse((p, s2), 0L).toDouble
      val e = nr(p) * nc(s2) / nt
      (o - e) * (o - e) / e
    }).sum
    val v = math.sqrt(chi2 / (nt * (math.min(nr.size, nc.size) - 1)))
    // the query floors each cell term at micro granularity: ≤ 1e-6 per
    // cell of downward bias, 25 cells → compare at 1e-4
    assert(math.abs(row.getAs[Double]("chi2") - chi2) < 1e-4,
      s"chi2 ${row.getAs[Double]("chi2")} vs brute $chi2")
    assert(math.abs(row.getAs[Double]("cramers_v") - v) < 1e-4)
    assert(row.getAs[Double]("cramers_v") >= 0.0 &&
      row.getAs[Double]("cramers_v") <= 1.0)
  }

  test("cramers_v charges empty cells their expected count") {
    import spark.implicits._
    // 2×2 grid with cell (P2,B) EMPTY: nt=6, nr={P1:4,P2:2}, nc={A:5,B:1}
    // full-grid χ² = .0333+.1667+.0667+.3333 = 0.6 — observed-cells-only
    // would understate it as 0.2667 (the r10 ADVICE defect)
    val dir = SparkSpec.tempDir("cramers_empty").toString
    Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq(("P1", 1L), ("P1", 1L), ("P1", 1L), ("P1", 2L), ("P2", 1L),
      ("P2", 1L)).toDF("o_orderpriority", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    val row = SparkEntry.queries("cramers_v")(spark, dir).collect().head
    assert(math.abs(row.getAs[Double]("chi2") - 0.6) < 1e-4,
      s"chi2 ${row.getAs[Double]("chi2")} vs full-grid 0.6")
    assert(math.abs(row.getAs[Double]("cramers_v") - math.sqrt(0.1)) < 1e-4)
  }

  test("epoch_plan caps epochs at 4 and never plans past the target") {
    val rows = q("epoch_plan").collect()
    val dTot = rows.map(_.getAs[Long]("d_tokens")).sum
    var planned = 0L
    rows.foreach { r =>
      val e = r.getAs[Double]("epochs")
      assert(e > 0.0 && e <= 4.0 + 1e-9, s"${r.getAs[String]("lang")}: $e")
      val p = r.getAs[Long]("planned_tokens")
      assert(p <= r.getAs[Long]("target_tokens"),
        s"${r.getAs[String]("lang")} plans past its target")
      if (r.getAs[Long]("capped") == 1L)
        assert(math.abs(e - 4.0) < 1e-9, "capped row must sit at the cap")
      planned += p
    }
    // single-pass plan: freed budget from capped domains is reported as
    // shortfall, never redistributed — so Σ planned ≤ T = 3 × corpus
    assert(planned <= 3L * dTot, s"planned $planned > budget ${3L * dTot}")
  }

  test("localClustering credits each triangle to all three vertices") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4–1 + isolated edge 5–6
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (5L, 6L))
      .toDF("pa", "pb")
    val out = graft.operators.Graph.localClustering(edges, "pa", "pb")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((3L, 1L)), s"node 1: ${out(1L)}")
    assert(out(2L) == ((2L, 1L)) && out(3L) == ((2L, 1L)))
    assert(out(4L) == ((1L, 0L)) && out(5L) == ((1L, 0L)))
    graft.operators.CacheScope.release(spark)
  }

  test("ks_2sample matches a brute-force ECDF sup replay") {
    val row = q("ks_2sample").collect().head
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(F.col("l_returnflag").isin("R", "N"))
      .select(F.col("l_quantity").cast("long"), F.col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val xs = raw.filter(_._2 == "R").map(_._1)
    val ys = raw.filter(_._2 == "N").map(_._1)
    val domain = (xs ++ ys).distinct.sorted
    val (dBest, atBest) = domain.map { v =>
      val f1 = xs.count(_ <= v).toDouble / xs.length
      val f2 = ys.count(_ <= v).toDouble / ys.length
      (math.abs(f1 - f2), v)
    }.maxBy(t2 => (t2._1, -t2._2))
    assert(row.getAs[Long]("n1") == xs.length.toLong)
    assert(row.getAs[Long]("n2") == ys.length.toLong)
    assert(math.abs(row.getAs[Double]("ks_d") - dBest) < 1e-6,
      s"ks_d ${row.getAs[Double]("ks_d")} vs brute $dBest")
    assert(row.getAs[Long]("ks_at") == atBest)
    val z = dBest * math.sqrt(
      xs.length.toDouble * ys.length / (xs.length + ys.length))
    assert(math.abs(row.getAs[Double]("ks_z") - z) < 1e-4)
  }

  test("kruskal_wallis matches a brute-force midrank replay") {
    val row = q("kruskal_wallis").collect().head
    val raw = spark.read.parquet(s"$sf/orders.parquet")
      .select(F.col("o_orderpriority"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS LONG)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = raw.map(_._2).sorted
    val ranks = scala.collection.mutable.Map.empty[Long, Double]
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      ranks(sorted(i)) = (i + 1 + j) / 2.0
      i = j
    }
    val groups = raw.groupBy(_._1)
    val n = raw.length.toDouble
    val s = groups.values.map { g =>
      val r = g.map(x => ranks(x._2)).sum; r * r / g.size
    }.sum
    val h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    val tie = raw.map(_._2).groupBy(identity).values
      .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
    val hc = h / (1.0 - tie / (n * n * n - n))
    assert(row.getAs[Long]("k_groups") == groups.size.toLong)
    assert(row.getAs[Long]("n_rows") == raw.length.toLong)
    assert(math.abs(row.getAs[Double]("h_stat") - h) < 1e-3,
      s"h ${row.getAs[Double]("h_stat")} vs brute $h")
    assert(math.abs(row.getAs[Double]("h_corrected") - hc) < 1e-3,
      s"hc ${row.getAs[Double]("h_corrected")} vs brute $hc")
  }

  test("friedman matches a brute-force within-block rank replay") {
    val row = q("friedman").collect().head
    val cells = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(F.date_trunc("month", F.col("o_orderdate")).as("blk"),
        F.col("o_orderpriority").as("trt"))
      .agg(F.sum(F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,4))" +
        " * 10000 AS DECIMAL(38,0))")).cast("string").as("v"))
      .collect()
      .map(r => (r.get(0).toString, r.getString(1), BigInt(r.getString(2))))
    val k = cells.map(_._2).distinct.length
    val blocks = cells.groupBy(_._1).filter(_._2.length == k)
    val n = blocks.size.toDouble
    // within-block average ranks
    val rj = scala.collection.mutable.Map.empty[String, Double]
    var tieSum = 0.0
    blocks.values.foreach { cs =>
      val sorted = cs.map(_._3).sorted
      cs.foreach { case (_, trt, v) =>
        val below = sorted.count(_ < v); val ties = sorted.count(_ == v)
        val mid = below + (ties + 1) / 2.0
        rj(trt) = rj.getOrElse(trt, 0.0) + mid
      }
      sorted.distinct.foreach { v =>
        val t2 = sorted.count(_ == v).toDouble
        tieSum += t2 * t2 * t2 - t2
      }
    }
    val s2 = rj.values.map(r => r * r).sum
    val chi = 12.0 / (n * k * (k + 1)) * s2 - 3 * n * (k + 1)
    val corr = 1.0 - tieSum / (n * k * (k.toDouble * k - 1))
    assert(row.getAs[Long]("n_blocks") == blocks.size.toLong)
    assert(row.getAs[Long]("k_treatments") == k.toLong)
    assert(math.abs(row.getAs[Double]("chi2_f") - chi) < 1e-4,
      s"chi2_f ${row.getAs[Double]("chi2_f")} vs brute $chi")
    if (corr > 0)
      assert(math.abs(row.getAs[Double]("chi2_f_corrected") - chi / corr)
        < 1e-4)
  }

  test("harmonic_centrality matches a driver-side pivot-BFS replay") {
    val kSrc = graft.queries.GraphMetricsQueries.HC_SOURCES
    val hops = graft.queries.GraphMetricsQueries.HC_HOPS
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer()) += a
    }
    val srcs = adj.keys.toSeq
      .sortBy(v => (graft.operators.Hashing.hash60(v.toString), v))
      .take(kSrc)
    val h = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    srcs.foreach { s0 =>
      val dist = scala.collection.mutable.Map(s0 -> 0)
      var frontier = Set(s0)
      for (d0 <- 1 to hops) {
        frontier = frontier.flatMap(adj(_))
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = d0)
      }
      dist.foreach { case (v, d0) =>
        if (d0 > 0) {
          val (c, s2) = h.getOrElse(v, (0L, 0L))
          h(v) = (c + 1, s2 + 1000000L / d0)
        }
      }
    }
    val expectTop = h.toSeq
      .sortBy { case (v, (_, hm)) => (-hm, v) }.take(100)
      .map { case (v, (c, hm)) => (v, c, hm) }
    val got = q("harmonic_centrality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expectTop,
      s"top mismatch: got head ${got.take(3).toSeq}" +
        s" vs replay head ${expectTop.take(3)}")
    graft.operators.CacheScope.release(spark)
  }

  test("harmonic_sample_audit matches a first-principles exact-vs-" +
    "scaled-estimate replay on the cohort") {
    val kSrc = graft.queries.GraphMetricsQueries.HC_SOURCES
    val hops = graft.queries.GraphMetricsQueries.HC_HOPS
    val mod = graft.queries.GraphMetricsQueries.HS_MOD
    val bw = graft.queries.GraphMetricsQueries.HS_BUCKET
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    // estimator replay (same as the harmonic_centrality spec)
    val srcs = adj.keys.toSeq
      .sortBy(v => (graft.operators.Hashing.hash60(v.toString), v))
      .take(kSrc)
    val hEst = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    srcs.foreach { s0 =>
      val dist = scala.collection.mutable.Map(s0 -> 0)
      var frontier = Set(s0)
      for (d0 <- 1 to hops) {
        frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
        frontier.foreach(dist(_) = d0)
      }
      dist.foreach { case (v, d0) =>
        if (d0 > 0) hEst(v) += 1000000L / d0
      }
    }
    val n = adj.size.toLong
    // exact hop-2 truncated harmonic for the cohort, bucketed
    val buckets = scala.collection.mutable.Map
      .empty[Long, (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    adj.keys.filter(_ % mod == 0).foreach { v =>
      val n1 = adj(v)
      val n2 = n1.flatMap(adj(_)).diff(n1) - v
      val hex = 1000000L * n1.size + 500000L * n2.size
      val hs = (BigInt(hEst(v)) * n / kSrc).toLong
      val b = n1.size.toLong / bw
      val (c, se, ss) = buckets(b)
      buckets(b) = (c + 1, se + hex, ss + hs)
    }
    val got = q("harmonic_sample_audit").collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Double]("mean_exact"),
          r.getAs[Double]("mean_est"), r.getAs[Double]("err_micro"))))
      .toMap
    assert(got.keySet == buckets.keySet.toSet,
      s"buckets ${got.keySet} vs replay ${buckets.keySet}")
    buckets.foreach { case (b, (c, se, ss)) =>
      val (gc, gme, gms, gerr) = got(b)
      assert(gc == c, s"bucket $b count")
      assert(math.abs(gme - se.toDouble / c / 1e6) < 1e-5,
        s"bucket $b mean_exact")
      assert(math.abs(gms - ss.toDouble / c / 1e6) < 1e-5,
        s"bucket $b mean_est")
      assert(math.abs(gerr - (ss - se).toDouble / c) < 0.51,
        s"bucket $b err_micro")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("betweenness_sampled matches a first-principles hop-2 Brandes " +
    "replay") {
    val kSrc = graft.queries.GraphMetricsQueries.HC_SOURCES
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    val srcs = adj.keys.toSeq
      .sortBy(v => (graft.operators.Hashing.hash60(v.toString), v))
      .take(kSrc)
    val bet = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    srcs.foreach { s0 =>
      val n1 = adj(s0)
      // targets at distance exactly 2, with their middle sets
      val mids = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      n1.foreach { m =>
        adj(m).foreach { w =>
          if (w != s0 && !n1.contains(w))
            mids.getOrElseUpdate(w, scala.collection.mutable.Set()) += m
        }
      }
      mids.foreach { case (_, ms) =>
        val sigma = ms.size
        ms.foreach { m =>
          val (c, s2) = bet(m)
          bet(m) = (c + 1, s2 + 1000000L / sigma)
        }
      }
    }
    val expectTop = bet.toSeq
      .sortBy { case (v, (_, bm)) => (-bm, v) }.take(100)
      .map { case (v, (c, bm)) => (v, c, bm) }
    val got = q("betweenness_sampled").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expectTop,
      s"top mismatch: got head ${got.take(3).toSeq}" +
        s" vs replay head ${expectTop.take(3)}")
    graft.operators.CacheScope.release(spark)
  }

  test("kendall_w is friedman's corrected statistic over n(k-1), in [0,1]") {
    val w = q("kendall_w").collect().head
    val f = q("friedman").collect().head
    val n = f.getAs[Long]("n_blocks").toDouble
    val k = f.getAs[Long]("k_treatments").toDouble
    val expect = f.getAs[Double]("chi2_f_corrected") / (n * (k - 1))
    assert(w.getAs[Long]("n_blocks") == f.getAs[Long]("n_blocks"))
    assert(math.abs(w.getAs[Double]("w") - expect) < 1e-5,
      s"w ${w.getAs[Double]("w")} vs friedman-derived $expect")
    assert(w.getAs[Double]("w") >= 0.0 && w.getAs[Double]("w") <= 1.0)
  }

  test("mcnemar matches a brute-force paired-rule replay") {
    val row = q("mcnemar").collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).as("nw"))
      .collect().map(r => (r.getLong(0) >= 200, r.getInt(1) >= 40))
    val b = docs.count { case (a, b2) => a && !b2 }.toLong
    val c = docs.count { case (a, b2) => !a && b2 }.toLong
    assert(row.getAs[Long]("n_docs") == docs.length.toLong)
    assert(row.getAs[Long]("b_cnt") == b && row.getAs[Long]("c_cnt") == c)
    assert(row.getAs[Long]("concordant") == docs.length - b - c)
    val expect = if (b + c == 0) 0.0
      else math.pow(math.max(math.abs(b.toDouble - c) - 1, 0), 2) / (b + c)
    assert(math.abs(row.getAs[Double]("chi2_cc") - expect) < 1e-5)
  }

  test("cohens_kappa matches a brute-force paired-rule replay") {
    val row = q("cohens_kappa").collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).as("nw"))
      .collect().map(r => (r.getLong(0) >= 200, r.getInt(1) >= 40))
    val n = docs.length.toDouble
    val n11 = docs.count { case (a, b) => a && b }.toDouble
    val n10 = docs.count { case (a, b) => a && !b }.toDouble
    val n01 = docs.count { case (a, b) => !a && b }.toDouble
    val n00 = docs.count { case (a, b) => !a && !b }.toDouble
    assert(row.getAs[Long]("n11") == n11.toLong &&
      row.getAs[Long]("n10") == n10.toLong &&
      row.getAs[Long]("n01") == n01.toLong &&
      row.getAs[Long]("n00") == n00.toLong)
    // textbook κ = (po − pe)/(1 − pe)
    val po = (n11 + n00) / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    val expect = if (pe == 1.0) 0.0 else (po - pe) / (1 - pe)
    assert(math.abs(row.getAs[Double]("kappa") - expect) < 1e-5,
      s"kappa ${row.getAs[Double]("kappa")} vs $expect")
  }

  test("cochran_q matches a brute-force three-rule replay") {
    val row = q("cochran_q").collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).as("nw"),
        F.regexp_count(F.col("text"), F.lit("[.!?]")).as("ns"))
      .collect().map(r =>
        (if (r.getLong(0) >= 200) 1L else 0L,
          if (r.getInt(1) >= 40) 1L else 0L,
          if (r.getInt(2) >= 3) 1L else 0L))
    val k = 3.0
    val cj = Seq(docs.map(_._1).sum, docs.map(_._2).sum, docs.map(_._3).sum)
    val n = cj.sum.toDouble
    val sr = docs.map(t3 => t3._1 + t3._2 + t3._3)
    val num = (k - 1) * cj.map(c => (k * c - n) * (k * c - n)).sum
    val den = k * (k * sr.sum - sr.map(r0 => r0 * r0).sum)
    assert(row.getAs[Long]("n_docs") == docs.length.toLong)
    assert(row.getAs[Long]("c1") == cj(0) && row.getAs[Long]("c2") == cj(1)
      && row.getAs[Long]("c3") == cj(2))
    val expect = if (den <= 0) 0.0 else num / den
    assert(math.abs(row.getAs[Double]("q_stat") - expect) < 1e-5,
      s"q ${row.getAs[Double]("q_stat")} vs brute $expect")
  }

  test("graph_anf matches a driver-side KMV-merge replay and tracks " +
    "the exact neighborhood function") {
    val k = graft.queries.GraphMetricsQueries.ANF_K
    val hops = graft.queries.GraphMetricsQueries.ANF_HOPS
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer()) += a
    }
    // replay: per node a sorted bottom-k distinct sketch, merged per hop
    var sk = adj.keys.map(v =>
      v -> Vector(graft.operators.Hashing.hash60(v.toString))).toMap
    val rows = q("graph_anf").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val maxHash = 1152921504606846976L
    var exactBall = adj.keys.map(v => v -> Set(v)).toMap
    for (h <- 1 to hops) {
      sk = adj.keys.map { v =>
        val merged = (sk(v) ++ adj(v).flatMap(sk(_)))
          .distinct.sorted.take(k)
        v -> merged
      }.toMap
      val est = sk.values.map { m =>
        if (m.length < k) m.length.toLong
        else (BigInt(k - 1) * maxHash / m.last).toLong
      }.sum
      val (nNodes, sumEst) = rows(h.toLong)
      assert(nNodes == adj.size.toLong, s"hop $h node count")
      assert(sumEst == est, s"hop $h: published $sumEst vs replay $est")
      // accuracy against the exact neighborhood function. Per-node KMV
      // std at k=16 is ~27% and averages out when balls differ — but on
      // this tiny diameter-2 graph every 2-hop ball IS the whole vertex
      // set, so all sketches coincide and the corpus sum inherits ONE
      // shared draw's tail (measured 1.8× here). The band is therefore
      // the single-draw 3× envelope; the replay equality above is the
      // correctness gate.
      exactBall = exactBall.map { case (v, s0) =>
        v -> (s0 ++ s0.flatMap(adj(_)))
      }
      val exact = exactBall.values.map(_.size.toLong).sum
      assert(sumEst > exact / 3.0 && sumEst < exact * 3.0,
        s"hop $h: est $sumEst vs exact $exact outside the 3x envelope")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("hits_scores matches an exact-integer driver-side replay of " +
    "the two L1-normalized rungs") {
    val S = graft.operators.Graph.SCALE
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    def halfRung(scores: Map[Long, Long], bySrc: Boolean): Map[Long, Long] = {
      val raw = scala.collection.mutable.Map.empty[Long, BigInt]
        .withDefaultValue(BigInt(0))
      edges.foreach { case (src, dst) =>
        if (bySrc) raw(dst) += scores(src) else raw(src) += scores(dst)
      }
      val tot = raw.values.sum
      nodes.map(v =>
        v -> (if (tot == 0) 0L else (raw(v) * S / tot).toLong)).toMap
    }
    var hub = nodes.map(_ -> S).toMap
    val a1 = halfRung(hub, bySrc = true)
    val h1 = halfRung(a1, bySrc = false)
    val a2 = halfRung(h1, bySrc = true)
    val h2 = halfRung(a2, bySrc = false)
    val got = SparkEntry.queries("hits_scores")(spark, sf).collect()
    assert(got.length == nodes.length, "node count")
    got.foreach { r =>
      val v = r.getAs[Long]("pk")
      assert(r.getAs[Long]("hub_fp") == h2(v), s"hub($v)")
      assert(r.getAs[Long]("auth_fp") == a2(v), s"auth($v)")
    }
    val hres = nodes.map(v => math.abs(h2(v) - h1(v))).sum
    val ares = nodes.map(v => math.abs(a2(v) - a1(v))).sum
    assert(got.head.getAs[Long]("hub_resid_l1") == hres, "hub residual")
    assert(got.head.getAs[Long]("auth_resid_l1") == ares, "auth residual")
    graft.operators.CacheScope.release(spark)
  }

  test("graph_effective_diameter: interpolated crossing replays from " +
    "the published reaches on every branch") {
    def replay(n0: Long, n1: Long, n2: Long, n3: Long): Double =
      if (10 * n0 >= 9 * n3) 0.0
      else if (10 * n1 >= 9 * n3)
        (9.0 * n3 - 10 * n0) / (10.0 * (n1 - n0))
      else if (10 * n2 >= 9 * n3)
        1 + (9.0 * n3 - 10 * n1) / (10.0 * (n2 - n1))
      else 2 + (9.0 * n3 - 10 * n2) / (10.0 * (n3 - n2))
    def checkDir(dir: String): (Double, Double) = {
      val r = SparkEntry.queries("graph_effective_diameter")(spark, dir)
        .collect().head
      val (n0, n1, n2, n3) = (r.getAs[Long]("n_nodes"),
        r.getAs[Long]("reach1"), r.getAs[Long]("reach2"),
        r.getAs[Long]("reach3"))
      assert(n0 <= n1 && n1 <= n2 && n2 <= n3,
        s"reach must be monotone: $n0 $n1 $n2 $n3")
      graft.operators.CacheScope.release(spark)
      (r.getAs[Double]("eff_diameter"), replay(n0, n1, n2, n3))
    }
    // the corpus graph (dense — crosses at hop 2 here)
    val (gotSf, expSf) = checkDir(sf)
    assert(math.abs(gotSf - expSf) < 1e-6, s"sf: $gotSf vs $expSf")
    // single-edge fixture: saturates at hop 1 -> sub-1 interpolation
    import spark.implicits._
    val d1 = SparkSpec.tempDir("diam1").toString
    Seq((1L, 10L), (1L, 11L)).toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d1/lineitem.parquet")
    val (got1, exp1) = checkDir(d1)
    assert(got1 < 1.0 && math.abs(got1 - exp1) < 1e-6,
      s"single edge: $got1 vs $exp1")
    // 8-node path fixture: slow growth -> crossing past hop 2
    val d2 = SparkSpec.tempDir("diam2").toString
    (0 until 7).flatMap(i =>
      Seq((i.toLong, 100L + i), (i.toLong, 101L + i)))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d2/lineitem.parquet")
    val (got2, exp2) = checkDir(d2)
    assert(got2 > 2.0 && math.abs(got2 - exp2) < 1e-6,
      s"path: $got2 vs $exp2")
  }

  test("edgeSupport: clique edges get C(n-2,1) support, pendant edges " +
    "get no row") {
    import spark.implicits._
    // K4 on 1..4 (each edge in 2 triangles) + pendant edge 4-9
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 9L)).toDF("a", "b")
    val sup = graft.operators.Graph.edgeSupport(e, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val k4Edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    k4Edges.foreach(ed => assert(sup(ed) == 2L, s"edge $ed"))
    assert(!sup.contains((4L, 9L)), "pendant edge must have no row")
    graft.operators.CacheScope.release(spark)
  }

  test("ktruss_peel matches a driver-side round-by-round peel replay") {
    val minSup = graft.queries.GraphMetricsQueries.TRUSS_K - 2
    val rounds = graft.queries.GraphMetricsQueries.TRUSS_ROUNDS
    var cur = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (1 to rounds).map { r =>
      val es = cur.toSeq
      val byNode = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.Set[Long]]
      es.foreach { case (a, b) =>
        byNode.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        byNode.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      def support(a: Long, b: Long): Int =
        byNode(a).intersect(byNode(b)).size
      val next = cur.filter { case (a, b) => support(a, b) >= minSup }
      val row = (r.toLong, cur.size.toLong,
        (cur.size - next.size).toLong, next.size.toLong)
      cur = next
      row
    }
    val got = q("ktruss_peel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"got $got vs replay $expect")
    graft.operators.CacheScope.release(spark)
  }

  test("fleiss_kappa matches a brute-force per-doc agreement replay") {
    val row = q("fleiss_kappa").collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("n_chars"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).as("nw"),
        F.regexp_count(F.col("text"), F.lit("[.!?]")).as("ns"))
      .collect().map { r =>
        Seq(r.getLong(0) >= 200, r.getInt(1) >= 40, r.getInt(2) >= 3)
          .count(identity)
      }
    val n = docs.length.toDouble
    val k = 3.0
    val pBar = docs.map(nk =>
      (nk * (nk - 1) + (3 - nk) * (2 - nk)) / (k * (k - 1))).sum / n
    val pKeep = docs.sum / (n * k)
    val pe = pKeep * pKeep + (1 - pKeep) * (1 - pKeep)
    val kappa = if (pe >= 1.0) 0.0 else (pBar - pe) / (1 - pe)
    assert(row.getAs[Long]("n_docs") == docs.length.toLong)
    assert(row.getAs[Long]("n_keeps") == docs.sum.toLong)
    assert(math.abs(row.getAs[Double]("kappa") - kappa) < 1e-5,
      s"kappa ${row.getAs[Double]("kappa")} vs replay $kappa")
  }

  test("simpsons_check signs match brute-force mean comparisons") {
    val rows = q("simpsons_check").collect()
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        F.col("o_custkey") === F.col("c_custkey"))
      .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("c_mktsegment", "o_orderpriority", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getDouble(2)).setScale(4) * 10000))
    def signOf(rs: Seq[(String, String, BigDecimal)]): Long = {
      val u = rs.filter(_._2 == "1-URGENT"); val h = rs.filterNot(_._2 == "1-URGENT")
      val lhs = u.map(_._3).sum * h.length - h.map(_._3).sum * u.length
      lhs.signum.toLong
    }
    val overall = signOf(o.toSeq)
    rows.foreach { r =>
      val seg = r.getAs[String]("segment")
      val expect = signOf(o.filter(_._1 == seg).toSeq)
      assert(r.getAs[Long]("seg_sign") == expect, s"$seg sign")
      assert(r.getAs[Long]("overall_sign") == overall)
      val flag = if (expect != 0 && overall != 0 && expect != overall) 1L
        else 0L
      assert(r.getAs[Long]("simpson_flag") == flag, s"$seg flag")
    }
  }

  test("levene_bf matches a brute-force median-centered decomposition") {
    val row = q("levene_bf").collect().head
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(F.col("l_returnflag"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = raw.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def lowerMedian(v: Array[Long]): Long = {
      val s2 = v.sorted; s2((v.length - 1) / 2) // min cents with 2cum>=tot
    }
    val devs = groups.map { case (f, v) =>
      val m = lowerMedian(v); f -> v.map(x => math.abs(x - m).toDouble)
    }
    val n = raw.length.toDouble
    val grand = devs.values.flatten.sum / n
    val ssb = devs.values.map { z =>
      val m = z.sum / z.length; z.length * (m - grand) * (m - grand)
    }.sum / 1e4
    val ssw = devs.values.flatMap { z =>
      val m = z.sum / z.length; z.map(x => (x - m) * (x - m))
    }.sum / 1e4
    val k = devs.size
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(row.getAs[Long]("k_groups") == k.toLong)
    assert(math.abs(row.getAs[Double]("ssb") - ssb) / math.max(ssb, 1) < 1e-5)
    assert(math.abs(row.getAs[Double]("ssw") - ssw) / ssw < 1e-6)
    assert(math.abs(row.getAs[Double]("f_stat") - f) < 1e-3,
      s"f ${row.getAs[Double]("f_stat")} vs brute $f")
  }

  test("js_divergence matches a brute-force replay and is bounded") {
    val rows = q("js_divergence").collect()
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("source"),
        F.explode(F.split(F.lower(F.col("text")), " +")).as("term"))
      .where(F.length(F.col("term")) > 0)
      .groupBy("source", "term").count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val corpus = toks.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    val cTot = corpus.values.sum.toDouble
    val bySource = toks.groupBy(_._1._1)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val own = bySource(src).map { case ((_, t2), n) => t2 -> n }.toMap
      val aTot = own.values.sum.toDouble
      def h(p: Double, m: Double): Double =
        if (p == 0.0) 0.0 else p * (math.log(p / m) / math.log(2.0))
      val js = corpus.keysIterator.map { t2 =>
        val p = own.getOrElse(t2, 0L) / aTot
        val qd = corpus(t2) / cTot
        val m = (p + qd) / 2.0
        h(p, m) / 2.0 + h(qd, m) / 2.0
      }.sum
      val got = r.getAs[Double]("js")
      assert(math.abs(got - js) < 1e-4, s"$src: $got vs brute $js")
      assert(got >= 0.0 && got <= 1.0 + 1e-9)
      assert(r.getAs[Long]("n_tokens") == aTot.toLong)
    }
    assert(rows.map(_.getAs[String]("source")).distinct.length == rows.length)
  }

  test("cluster_silhouette matches a brute-force top-2 centroid replay") {
    val rows = q("cluster_silhouette").collect()
    // brute force: rescore every vector against the final centroids
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Ivf.kmeansCentroids(
      emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => r.getInt(0) ->
        r.getSeq[Float](1).toArray).sortBy(_._1)
    val vecs = emb.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      math.round(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val agg = scala.collection.mutable.Map
      .empty[Int, (Long, Long)] // ck -> (n, sum_sppm)
    vecs.foreach { case (_, v) =>
      val scores = cents.map { case (ck, c) =>
        (math.round(cos(v, c) * 1e6), ck)
      }.sortBy(t2 => (-t2._1, t2._2))
      val (cm1, ck1) = scores(0); val cm2 = scores(1)._1
      val a = 1000000L - cm1; val b = 1000000L - cm2
      val sppm = (b - a) * 1000000L / math.max(b, 1L)
      val (n, ss) = agg.getOrElse(ck1, (0L, 0L))
      agg(ck1) = (n + 1, ss + sppm)
    }
    rows.foreach { r =>
      val ck = r.getAs[Long]("centroid_label").toInt
      val (n, ss) = agg(ck)
      assert(r.getAs[Long]("n_members") == n, s"ck $ck members")
      val mean = math.rint(ss.toDouble / n / 1e6 * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("mean_silhouette") - mean) < 2e-6,
        s"ck $ck: ${r.getAs[Double]("mean_silhouette")} vs brute $mean")
      assert(r.getAs[Double]("mean_silhouette") >= 0.0 &&
        r.getAs[Double]("mean_silhouette") <= 1.0)
    }
    graft.operators.CacheScope.release(spark)
  }

  test("degree_assortativity matches a brute-force Pearson replay") {
    val row = q("degree_assortativity").collect().head
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dir = edges ++ edges.map(e => (e._2, e._1))
    val deg = dir.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xs = dir.map { case (u, v) => (deg(u).toDouble, deg(v).toDouble) }
    val m = xs.length.toDouble
    val sx = xs.map(_._1).sum
    val sxy = xs.map(t2 => t2._1 * t2._2).sum
    val sxx = xs.map(t2 => t2._1 * t2._1).sum
    val r0 = (m * sxy - sx * sx) / (m * sxx - sx * sx)
    assert(row.getAs[Long]("n_nodes") == deg.size.toLong)
    assert(row.getAs[Long]("n_edges") == edges.length.toLong)
    assert(math.abs(row.getAs[Double]("assortativity") - r0) < 1e-5,
      s"${row.getAs[Double]("assortativity")} vs brute $r0")
    assert(math.abs(row.getAs[Double]("assortativity")) <= 1.0)
    graft.operators.CacheScope.release(spark)
  }

  test("localClusteringSampled equals the exact form when K covers " +
    "every neighborhood") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4–1 + isolated edge 5–6; max degree 3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (5L, 6L))
      .toDF("pa", "pb")
    val out = graft.operators.Graph
      .localClusteringSampled(edges, "pa", "pb", k = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // (dg, n_pairs = C(dg,2), n_closed = t(v) when the sample is full)
    assert(out(1L) == ((3L, 3L, 1L)), s"node 1: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 1L)) && out(3L) == ((2L, 1L, 1L)))
    assert(out(4L) == ((1L, 0L, 0L)) && out(5L) == ((1L, 0L, 0L)))
    graft.operators.CacheScope.release(spark)
  }

  test("localClusteringSampled matches a driver-side hash-min replay") {
    val k = graft.queries.GraphMetricsQueries.SAMPLE_K
    val edges = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = edges.toSet
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer()) += a
    }
    val sp = graft.operators.Graph.localClusteringSampled(
      graft.queries.Staged.coPurchaseEdges(spark, sf), "pa", "pb", k)
      .collect()
    assert(sp.length == adj.size, "one row per graph node")
    sp.foreach { r =>
      val (v, dg, nPairs, nClosed) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val nbrs = adj(v)
      assert(dg == nbrs.length.toLong, s"node $v degree")
      // replay the deterministic draw: K smallest (hash60("u,v"), v)
      val chosen = nbrs.toArray
        .map(n => (graft.operators.Hashing.hash60(s"$v,$n"), n))
        .sorted.take(k).map(_._2)
      assert(nPairs == chosen.length.toLong * (chosen.length - 1) / 2,
        s"node $v pairs")
      val closed = (for {
        i <- chosen.indices; j <- (i + 1) until chosen.length
        a = math.min(chosen(i), chosen(j)); b = math.max(chosen(i), chosen(j))
        if edgeSet.contains((a, b))
      } yield 1).size
      assert(nClosed == closed.toLong,
        s"node $v: sampled $nClosed vs replay $closed")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("clustering_sample_audit partitions nodes and bounds the error") {
    val rows = q("clustering_sample_audit").collect()
    val total = rows.map(_.getAs[Long]("n_nodes")).sum
    val nodes = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .select(F.explode(F.array("pa", "pb")).as("v")).distinct().count()
    assert(total == nodes, s"bucket total $total != $nodes nodes")
    rows.foreach { r =>
      val me = r.getAs[Double]("mean_exact")
      val ms = r.getAs[Double]("mean_sampled")
      assert(me >= 0.0 && me <= 1.0 && ms >= 0.0 && ms <= 1.0)
      // err is the micro-scale difference of the two published means
      // (each mean independently rounded to 1e-6 → ±0.5 micro each)
      assert(math.abs(r.getAs[Double]("err_micro") -
        (ms - me) * 1e6) < 1.5, s"bucket ${r.getAs[Long]("bucket")}")
    }
    graft.operators.CacheScope.release(spark)
  }

  test("clustering_coeff buckets partition all graph nodes") {
    val rows = q("clustering_coeff").collect()
    val total = rows.map(_.getAs[Long]("n_nodes")).sum
    val nodes = graft.queries.Staged.coPurchaseEdges(spark, sf)
      .select(F.explode(F.array("pa", "pb")).as("v")).distinct().count()
    assert(total == nodes, s"bucket total $total != $nodes nodes")
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= -1L && b <= 99L)
      val m = r.getAs[Double]("mean_coeff")
      assert(m >= 0.0 && m <= 1.0)
    }
    graft.operators.CacheScope.release(spark)
  }
}
