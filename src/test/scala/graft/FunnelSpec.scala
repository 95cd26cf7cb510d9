package graft

import org.apache.spark.sql.{functions => F}

/** Wave-20 invariants: pipeline funnel accounting, duplicate-family
  * size conservation, and the DPP physical-plan claim. */
class FunnelSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("pipeline_funnel stages chain and conserve counts") {
    val rows = q("pipeline_funnel").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_out <= n_in")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
    // consecutive stages chain: next n_in == previous n_out
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) == a.getLong(2))
    }
    val docs = graft.queries.Tables.t(spark, sf, "documents")
    assert(rows.head.getLong(1) == docs.count())
    val distinctTexts =
      docs.select(F.md5(F.col("text"))).distinct().count()
    assert(rows.head.getLong(2) == distinctTexts, "dedup survivors")
  }

  test("dedup_cluster_sizes conserves the labelled population") {
    val sizes = q("dedup_cluster_sizes").collect()
    assert(sizes.nonEmpty)
    sizes.foreach(r => assert(r.getLong(0) >= 2L, "families have >= 2 docs"))
    val labelled = q("dedup_clusters").count()
    assert(sizes.map(r => r.getLong(0) * r.getLong(1)).sum == labelled)
  }

  test("dpp_join's fact scan carries a dynamic pruning filter") {
    val df = q("dpp_join")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a DPP subquery in the fact scan:\n${plan.take(2000)}")
    // and the result is the static-filter answer
    val viaStatic = graft.queries.Tables.t(spark, sf, "orders")
      .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderstatus").agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == viaStatic)
  }

  test("funnel_window semantics on crafted journeys") {
    // the synthetic events table can't guarantee every edge case, so
    // pin the window/order semantics on hand-built journeys:
    //  u1: view -> click(+10m) -> purchase(+20m)      => stage 3
    //  u2: view -> click(+2h)                          => stage 1 (click outside window)
    //  u3: view -> purchase(+5m) -> click(+10m)        => stage 2 (purchase BEFORE click doesn't count)
    //  u4: click -> purchase (no view)                 => stage 0
    //  u5: view only                                   => stage 1
    //  u6: view -> click(+30m) -> purchase(+65m)       => stage 2 (purchase outside 1h-of-view window)
    import spark.implicits._
    val rows = Seq(
      (1L, "view", "2024-01-01 10:00:00"), (1L, "click", "2024-01-01 10:10:00"),
      (1L, "purchase", "2024-01-01 10:20:00"),
      (2L, "view", "2024-01-01 10:00:00"), (2L, "click", "2024-01-01 12:00:00"),
      (3L, "view", "2024-01-01 10:00:00"), (3L, "purchase", "2024-01-01 10:05:00"),
      (3L, "click", "2024-01-01 10:10:00"),
      (4L, "click", "2024-01-01 10:00:00"), (4L, "purchase", "2024-01-01 10:05:00"),
      (5L, "view", "2024-01-01 10:00:00"),
      (6L, "view", "2024-01-01 10:00:00"), (6L, "click", "2024-01-01 10:30:00"),
      (6L, "purchase", "2024-01-01 11:05:00"))
      .toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    val dir = SparkSpec.tempDir("funnel").toString
    // the query reads the standard events table layout; stage a minimal one
    rows.withColumn("event_id", F.monotonically_increasing_id())
      .withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("funnel_window")(spark, dir)
      .select("user_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 0L, 5L -> 1L, 6L -> 2L))
  }
}
