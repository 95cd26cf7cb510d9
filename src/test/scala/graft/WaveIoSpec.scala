package graft

import org.apache.spark.sql.{functions => F}

/** Wave-23/24/25 invariants: CSV round-trip losslessness row-by-row,
  * mergeSchema null-backfill contract, partition-overwrite isolation,
  * trimmed-mean bounds, post-stratification direction, incremental
  * minhash ⊂ full pairs, IVF recall bounds, and the transformWithState
  * balance processor replayed driver-side. */
class WaveIoSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("csv_text_roundtrip preserves every document byte-for-byte") {
    // the aggregate query proves checksum equality; this spec pins the
    // stronger row-level claim on the same written files
    val base = s"${SparkSpec.tempDir("spec_csv")}/csv"
    val docs = graft.queries.Tables.t(spark, sf, "documents")
      .select("doc_id", "text")
    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .option("escape", "\"").csv(base)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(base)
    val diff = docs.as("a").join(back.as("b"), Seq("doc_id"))
      .where(F.expr("a.text IS DISTINCT FROM b.text")).count()
    assert(diff == 0, s"$diff documents corrupted by CSV round trip")
    assert(back.count() == docs.count())
  }

  test("jsonl_roundtrip preserves every document byte-for-byte") {
    val base = s"${SparkSpec.tempDir("spec_jsonl")}/jsonl"
    val docs = graft.queries.Tables.t(spark, sf, "documents")
      .select("doc_id", "text")
    docs.write.mode("overwrite").json(base)
    val back = spark.read.schema(docs.schema).json(base)
    val diff = docs.as("a").join(back.as("b"), Seq("doc_id"))
      .where(F.expr("a.text IS DISTINCT FROM b.text")).count()
    assert(diff == 0, s"$diff documents corrupted by JSONL round trip")
    assert(back.count() == docs.count())
  }

  test("merge_schema_read backfills exactly the v1 rows with nulls") {
    val rows = q("merge_schema_read").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val gen = r.getString(r.fieldIndex("gen"))
      val n = r.getLong(r.fieldIndex("n"))
      val nNull = r.getLong(r.fieldIndex("n_null_band"))
      if (gen == "v1") assert(nNull == n, "v1 rows must be all-null band")
      else assert(nNull == 0, "v2 rows must have no null band")
    }
  }

  test("partition_overwrite leaves untouched partitions identical") {
    val rows = q("partition_overwrite").collect()
    val orig = graft.queries.Tables.t(spark, sf, "documents")
      .groupBy("source").agg(F.count(F.lit(1)).as("n"),
        F.sum("n_chars").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val src = r.getString(0)
      val (n0, s0) = orig(src)
      assert(r.getLong(1) == n0)
      if (src == "src1") assert(r.getLong(2) == 2 * s0)
      else assert(r.getLong(2) == s0, s"partition $src was disturbed")
    }
  }

  test("trimmed_mean sits between nothing-trimmed extremes") {
    val rows = q("trimmed_mean").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val kept = r.getLong(r.fieldIndex("n_kept"))
      // kept = hi - lo = floor(.95n) - floor(.05n)
      assert(kept == n * 95 / 100 - n * 5 / 100)
      // a 5% symmetric trim moves the mean less than the trim mass could
      assert(math.abs(r.getLong(r.fieldIndex("trimmed_mean_micro")) -
        r.getLong(r.fieldIndex("mean_micro"))) <
        r.getLong(r.fieldIndex("mean_micro")))
    }
  }

  test("post_stratified equals the hand-computed reweighting") {
    val r = q("post_stratified").collect()(0)
    val strata = graft.queries.Tables.t(spark, sf, "orders")
      .join(graft.queries.Tables.t(spark, sf, "customer"),
        F.col("o_custkey") === F.col("c_custkey"))
      .select(F.col("c_mktsegment"), F.col("o_orderkey"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .collect().groupBy(_.getString(0))
    val parts = strata.toSeq.map { case (_, rs) =>
      val nPop = rs.length.toLong
      val samp = rs.filter(_.getLong(1) % 7 == 0)
      (nPop, samp.length.toLong, samp.map(_.getLong(2)).sum)
    }
    val nPop = parts.map(_._1).sum
    val want = parts.map { case (nh, nsh, ssh) =>
      BigInt(nh) * (BigInt(ssh) * 1000000 / nsh) }.sum / nPop
    assert(r.getLong(r.fieldIndex("mean_ps_micro")) == want.toLong)
    assert(r.getLong(r.fieldIndex("n_pop")) == nPop)
  }

  test("dedup_minhash_batch is the new-vs-old restriction of full pairs") {
    val batch = q("dedup_minhash_batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = q("dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = full.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => (a, b)
      case (a, b) if b % 10 == 0 && a % 10 != 0 => (b, a)
    }.toSet
    assert(batch == expected,
      s"batch pairs ${batch.size} != restricted full pairs ${expected.size}")
  }

  test("embed_ivf_recall is bounded and consistent with its parts") {
    val rows = q("embed_ivf_recall").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val hits = r.getLong(r.fieldIndex("n_hits"))
      assert(hits >= 0 && hits <= 5)
      assert(r.getDouble(r.fieldIndex("recall")) == hits / 5.0)
    }
  }

  test("stream_balance matches a driver-side ordered replay") {
    val rows = q("stream_balance").collect()
    assert(rows.nonEmpty)
    val ev = graft.queries.Tables.t(spark, sf, "events")
      .select(F.col("user_id"), F.unix_micros(F.col("ts")).as("us"),
        F.col("event_id"),
        F.expr("CASE WHEN event_type = 'purchase' THEN " +
          "CAST(floor(value * 1e6) AS BIGINT) ELSE " +
          "-CAST(floor(value * 1e6) AS BIGINT) END").as("dm"))
      .collect().groupBy(_.getLong(0))
    rows.foreach { r =>
      val uid = r.getLong(0)
      val evs = ev(uid).sortBy(x => (x.getLong(1), x.getLong(2)))
      var bal = 0L; var mn = 0L; var dips = 0L; var prev = 0L
      evs.foreach { e =>
        prev = bal; bal += e.getLong(3)
        if (bal < mn) mn = bal
        if (bal < 0 && prev >= 0) dips += 1
      }
      assert(r.getLong(r.fieldIndex("n_events")) == evs.length.toLong)
      assert(r.getLong(r.fieldIndex("final_micro")) == bal)
      assert(r.getLong(r.fieldIndex("min_micro")) == mn)
      assert(r.getLong(r.fieldIndex("n_dips")) == dips)
    }
  }

  test("sink_roundtrip's table survives a dpp_join run before it is read") {
    // the two queries once shared one scratch root, and dpp_join's
    // overwrite of it deleted sink_roundtrip's committed table
    val roundtrip = q("sink_roundtrip")
    q("dpp_join").collect()
    assert(roundtrip.count() ==
      graft.queries.Tables.t(spark, sf, "supplier").count())
    graft.operators.CacheScope.release(spark)
  }
}
