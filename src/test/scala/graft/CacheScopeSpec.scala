package graft

import graft.operators.CacheScope
import org.apache.spark.sql.{functions => F}

/** CacheScope registry hygiene: per-job release that works even after
  * GC (frames are held strongly until release — a weak handle would
  * silently no-op the unpersist while the CacheManager kept the blocks
  * pinned). The registry is a plain strong map: release() is the only
  * exit, and an unreleased session stays pinned by contract. */
class CacheScopeSpec extends SparkSpec {

  test("release unpersists and drops the session entry") {
    val base = CacheScope.trackedSessions
    val df = CacheScope.persist(spark.range(100).toDF("id"))
    assert(df.count() == 100)
    assert(CacheScope.trackedFrames(spark) >= 1)
    CacheScope.release(spark)
    assert(CacheScope.trackedFrames(spark) == 0)
    assert(CacheScope.trackedSessions <= base)
  }

  test("release is safe to call twice / with nothing tracked") {
    CacheScope.release(spark)
    CacheScope.release(spark)
  }

  test("release still unpersists after the caller dropped its reference + GC") {
    // the regression scenario: the operator's local Dataset variable is
    // the only strong reference; a GC mid-job must NOT cost us the
    // unpersist handle (the CacheManager pins the blocks regardless)
    var df = CacheScope.persist(
      spark.range(50).select(F.col("id"), (F.col("id") * 2).as("v")))
    assert(df.count() == 50)
    assert(CacheScope.trackedFrames(spark) >= 1)
    df = null // drop the only caller-side strong reference
    System.gc()
    Thread.sleep(100)
    assert(CacheScope.trackedFrames(spark) >= 1,
      "registry must keep the unpersist handle alive until release")
    CacheScope.release(spark)
    assert(CacheScope.trackedFrames(spark) == 0)
  }

  test("iterative checkpoint blocks are freed — superseded mid-loop, rest at release") {
    // the r8 leak: localCheckpoint pins RDD-level blocks that
    // Dataset.unpersist / the old frame registry never touched, so every
    // query running AFTER an iterative graph op inherited its blocks.
    // localCheckpoint registers its RDD in sc.getPersistentRDDs, which
    // makes both halves of CacheScope.iterate's policy observable, for
    // every operator on it: fixed-count and `changed`-column loops (both
    // CC variants, forced distributed).
    import graft.operators.{Dedup, Graph}
    val sc = spark.sparkContext
    val ring = spark.range(40).selectExpr("id AS a", "(id + 1) % 40 AS b")
    val path = spark.range(12).selectExpr("id AS a", "id + 1 AS b")
    val seeds = spark.range(3).toDF("v")
    // (operator, run to completion → row count, expected rows, frames the
    // operator itself persists)
    val cases: Seq[(String, () => Long, Long, Int)] = Seq(
      ("pageRank", () => Graph.pageRank(ring, "a", "b", iters = 5).count(),
        40L, 2), // edges, degrees
      ("personalizedPageRank", () => Graph.personalizedPageRank(
        ring, "a", "b", seeds, iters = 4).count(), 40L, 3), // + seed spine
      ("labelPropagation", () => Graph.labelPropagation(ring, "a", "b", 4)
        .count(), 40L, 1), // edges
      ("hits", () => {
        val (scores, resid) = Graph.hits(ring, "a", "b", iters = 3)
        assert(resid.collect().length == 1)
        scores.count()
      }, 40L, 2 + 2 * 3), // edges, nodes, one raw frame per half-rung
      ("connectedComponents", () => Dedup.connectedComponents(
        path, "a", "b", localThreshold = 0L).count(), 13L, 2), // edges, round 0
      ("connectedComponentsStarContract", () =>
        Dedup.connectedComponentsStarContract(
          path, "a", "b", localThreshold = 0L).count(), 13L, 2),
      ("randomWalks", () => Graph.randomWalks(ring, "a", "b", seeds, "v",
        steps = 4).count(), 15L, 1), // ranked adjacency
      ("kCore", () => Graph.kCore(ring, "a", "b", 2L, 3).count(),
        40L, 1)) // base edges
    for ((name, run, rows, persisted) <- cases) {
      CacheScope.release(spark)
      val before = sc.getPersistentRDDs.keySet
      assert(run() == rows, name)
      val during = sc.getPersistentRDDs.keySet -- before
      // every round but the last is freed as soon as its successor
      // materializes — without the mid-loop free this set holds every
      // round's checkpoint
      assert(during.size <= persisted + 1,
        s"$name: expected at most $persisted persisted inputs + the final " +
          s"round's checkpoint, got $during")
      CacheScope.release(spark)
      val after = sc.getPersistentRDDs.keySet -- before
      assert(after.isEmpty,
        s"$name: release() must clear checkpoint RDD registrations, got $after")
    }
  }

  test("iterate returns each round's row count") {
    // 8 ids halve per round: 4, 2, 1
    val (last, converged, rows) = CacheScope.iterate(
      spark.range(8).toDF("id"), 3)(_.selectExpr("id div 2 AS id").distinct())
    assert(rows == Seq(4L, 2L, 1L))
    assert(converged && last.count() == 1L)
    CacheScope.release(spark)
  }

  test("both CC variants throw when a component outlasts maxRounds") {
    // a 30-hop path: propagation needs ~30 rounds, pointer jumping ~5 —
    // two (+ one confirming) is too few for either
    import graft.operators.Dedup
    val path = spark.range(30).selectExpr("id AS a", "id + 1 AS b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, "a", "b", maxRounds = 2,
        localThreshold = 0L)
    }
    intercept[IllegalStateException] {
      Dedup.connectedComponentsStarContract(path, "a", "b", maxRounds = 2,
        localThreshold = 0L)
    }
    CacheScope.release(spark)
  }

  test("a derived session's caches release independently") {
    val s2 = spark.newSession()
    val d1 = CacheScope.persist(spark.range(10).toDF("a"))
    val d2 = CacheScope.persist(s2.range(20).toDF("b"))
    assert(d1.count() == 10 && d2.count() == 20)
    CacheScope.release(s2)
    assert(CacheScope.trackedFrames(s2) == 0)
    assert(CacheScope.trackedFrames(spark) >= 1, "sibling session untouched")
    CacheScope.release(spark)
  }
}
