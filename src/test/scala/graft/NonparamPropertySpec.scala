package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the rank statistics: on ANY random small two-arm
  * dataset with heavy ties, `mann_whitney` and `ks_2sample` must agree
  * with driver-side replays computed from first principles (sorted-list
  * midranks / raw ECDF sup), not just on the fixed synthetic corpus the
  * brute-force specs in NonparamSpec use. Each generated dataset is
  * written as a minimal lineitem.parquet and driven through the SHIPPED
  * query fns. */
class NonparamPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(seed))(_.next)
      .map(s => g.apply(params, s))
      .collect { case Some(v) => v }
      .take(n).toSeq
  }

  /** Random (quantity, flag) rows: values 1..5 (heavy ties), flags
    * R/N/A with at least one R and one N (the queries' two arms). */
  private def genRows(seed: Long): Seq[(Long, String)] = {
    val n = 30 + (seed % 120).toInt
    val qs = samples(Gen.chooseNum(1L, 5L), n, seed)
    val fs = samples(Gen.oneOf("R", "N", "A"), n, seed + 7)
    val rows = qs.zip(fs)
    rows :+ (3L -> "R") :+ (2L -> "N") // both arms always present
  }

  private def writeDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("nonparam_prop").toString
    rows.toDF("l_quantity", "l_returnflag")
      .selectExpr("CAST(l_quantity AS DOUBLE) AS l_quantity",
        "l_returnflag")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("mann_whitney matches a first-principles midrank replay on " +
    "random heavy-tie data") {
    for (seed <- 1L to 6L) {
      val rows = genRows(seed * 31)
      val dir = writeDir(rows)
      val row = SparkEntry.queries("mann_whitney")(spark, dir)
        .collect().head
      val both = rows.filter(r => r._2 == "R" || r._2 == "N")
      val sorted = both.map(_._1).sorted
      val ranks = scala.collection.mutable.Map.empty[Long, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        ranks(sorted(i)) = (i + 1 + j) / 2.0
        i = j
      }
      val n1 = both.count(_._2 == "R").toLong
      val n2 = both.count(_._2 == "N").toLong
      val u1 = both.filter(_._2 == "R").map(r => ranks(r._1)).sum -
        n1 * (n1 + 1) / 2.0
      assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2,
        s"seed $seed counts")
      assert(math.abs(row.getAs[Double]("u1") - u1) < 1e-9,
        s"seed $seed: u1 ${row.getAs[Double]("u1")} vs replay $u1")
      val rb = 1.0 - 2.0 * u1 / (n1.toDouble * n2)
      assert(math.abs(row.getAs[Double]("rank_biserial") - rb) < 1e-5,
        s"seed $seed rank_biserial")
      // tie-corrected z from the definition
      val n = (n1 + n2).toDouble
      val tieT = both.map(_._1).groupBy(identity).values
        .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
      val va = n1 * n2 * ((n * n * n - n) - tieT) / (12.0 * n * (n - 1))
      if (va > 0) {
        val z = (u1 - n1 * n2 / 2.0) / math.sqrt(va)
        assert(math.abs(row.getAs[Double]("z") - z) < 1e-4,
          s"seed $seed: z ${row.getAs[Double]("z")} vs replay $z")
      } else assert(row.getAs[Double]("z") == 0.0, s"seed $seed z guard")
    }
  }

  test("cliffs_delta matches a brute-force all-pairs replay on random " +
    "heavy-tie data") {
    for (seed <- 1L to 6L) {
      val rows = genRows(seed * 43)
      val dir = writeDir(rows)
      val row = SparkEntry.queries("cliffs_delta")(spark, dir)
        .collect().head
      // brute force: enumerate every (R, N) cross pair
      val xs = rows.filter(_._2 == "R").map(_._1)
      val ys = rows.filter(_._2 == "N").map(_._1)
      var (conc, disc, tied) = (0L, 0L, 0L)
      for (x <- xs; y <- ys) {
        if (x > y) conc += 1 else if (x < y) disc += 1 else tied += 1
      }
      assert(row.getAs[Long]("n1") == xs.length.toLong &&
        row.getAs[Long]("n2") == ys.length.toLong, s"seed $seed counts")
      assert(row.getAs[Double]("n_concordant") == conc.toDouble,
        s"seed $seed conc ${row.getAs[Double]("n_concordant")} vs $conc")
      assert(row.getAs[Double]("n_discordant") == disc.toDouble,
        s"seed $seed disc")
      assert(row.getAs[Double]("n_tied") == tied.toDouble,
        s"seed $seed tied")
      val delta = (conc - disc).toDouble / (xs.length.toDouble * ys.length)
      assert(math.abs(row.getAs[Double]("cliffs_delta") - delta) < 1e-5,
        s"seed $seed: delta ${row.getAs[Double]("cliffs_delta")} vs $delta")
      val mag = math.abs(row.getAs[Double]("cliffs_delta")) match {
        case d if d < 0.147 => "negligible"
        case d if d < 0.33  => "small"
        case d if d < 0.474 => "medium"
        case _              => "large"
      }
      assert(row.getAs[String]("magnitude") == mag, s"seed $seed magnitude")
    }
  }

  test("kruskal_wallis matches a first-principles replay on random " +
    "heavy-tie k-group data") {
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val n = 30 + ((seed * 13) % 120).toInt
      val cents = samples(Gen.chooseNum(100L, 112L), n, seed * 101)
      val grps = samples(Gen.oneOf("1-URGENT", "2-HIGH", "3-MEDIUM"),
        n, seed * 101 + 7)
      // every group present so k is stable across seeds
      val rows = cents.zip(grps) :+ (105L -> "1-URGENT") :+
        (106L -> "2-HIGH") :+ (107L -> "3-MEDIUM")
      val dir = SparkSpec.tempDir("kw_prop").toString
      rows.toDF("cents", "o_orderpriority")
        .selectExpr("CAST(cents AS DOUBLE) / 100 AS o_totalprice",
          "o_orderpriority")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/orders.parquet")
      val row = SparkEntry.queries("kruskal_wallis")(spark, dir)
        .collect().head
      val sorted = rows.map(_._1).sorted
      val ranks = scala.collection.mutable.Map.empty[Long, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        ranks(sorted(i)) = (i + 1 + j) / 2.0
        i = j
      }
      val groups = rows.groupBy(_._2)
      val nn = rows.length.toDouble
      val s = groups.values.map { g =>
        val r = g.map(x => ranks(x._1)).sum; r * r / g.size
      }.sum
      val h = 12.0 / (nn * (nn + 1)) * s - 3 * (nn + 1)
      val tie = rows.map(_._1).groupBy(identity).values
        .map(g => { val t = g.size.toDouble; t * t * t - t }).sum
      val corr = 1.0 - tie / (nn * nn * nn - nn)
      assert(row.getAs[Long]("k_groups") == groups.size.toLong,
        s"seed $seed k")
      assert(row.getAs[Long]("n_rows") == rows.length.toLong,
        s"seed $seed n")
      assert(math.abs(row.getAs[Double]("h_stat") - h) < 1e-4,
        s"seed $seed: h ${row.getAs[Double]("h_stat")} vs replay $h")
      if (corr > 0)
        assert(math.abs(row.getAs[Double]("h_corrected") - h / corr) < 1e-4,
          s"seed $seed: hc ${row.getAs[Double]("h_corrected")}" +
            s" vs replay ${h / corr}")
      else assert(row.getAs[Double]("h_corrected") == 0.0,
        s"seed $seed corr guard")
    }
  }

  test("ks_2sample matches a raw-ECDF sup replay on random data") {
    for (seed <- 1L to 6L) {
      val rows = genRows(seed * 57 + 11)
      val dir = writeDir(rows)
      val row = SparkEntry.queries("ks_2sample")(spark, dir)
        .collect().head
      val xs = rows.filter(_._2 == "R").map(_._1)
      val ys = rows.filter(_._2 == "N").map(_._1)
      val (d, at) = (xs ++ ys).distinct.sorted.map { v =>
        val f1 = xs.count(_ <= v).toDouble / xs.length
        val f2 = ys.count(_ <= v).toDouble / ys.length
        (math.abs(f1 - f2), v)
      }.maxBy(t2 => (t2._1, -t2._2))
      assert(math.abs(row.getAs[Double]("ks_d") - d) < 1e-6,
        s"seed $seed: ks_d ${row.getAs[Double]("ks_d")} vs replay $d")
      assert(row.getAs[Long]("ks_at") == at, s"seed $seed sup location")
      val z = d * math.sqrt(
        xs.length.toDouble * ys.length / (xs.length + ys.length))
      assert(math.abs(row.getAs[Double]("ks_z") - z) < 1e-4, s"seed $seed z")
    }
  }
}
