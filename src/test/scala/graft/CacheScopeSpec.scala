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
        40L, 0)) // reads its edges, persists nothing
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

  test("iterate runs one job of its own per round, and its rows and converged flag match a plain replay") {
    // A round's jobs are the step's own stage jobs (AQE runs them while
    // the checkpoint is planned) plus the loop's. The step's share is
    // measured by planning the same round's lazy checkpoint outside the
    // loop; the loop's share must then be exactly one job per round.
    // Edges are plain frames, not persisted: a cache's first
    // materialization would add jobs to one side only.
    import graft.operators.{Dedup, Graph}
    import org.apache.spark.sql.DataFrame
    val path = spark.range(9).selectExpr("id AS a", "id + 1 AS b")
    val edges = path.selectExpr("a AS src", "b AS dst")
      .union(path.selectExpr("b AS src", "a AS dst"))
    val init = edges.select(F.col("src").as("v")).distinct()
      .select(F.col("v"), F.col("v").as("lbl"))
    val cases: Seq[(String, DataFrame => DataFrame, Int, Option[String])] = Seq(
      ("labelPropagation", Graph.lpaRound(edges), 4, None),
      ("connectedComponents", Dedup.ccRound(edges), 20, Some("_changed")),
      ("connectedComponentsStarContract", Dedup.ccStarRound(edges), 20,
        Some("_changed")))
    org.apache.spark.TestListenerBus.countingJobs(spark.sparkContext) { jobsNow =>
      for ((name, step, maxRounds, changed) <- cases) {
        // the loop: a round's jobs start after its step is called
        val marks = scala.collection.mutable.ArrayBuffer.empty[Int]
        val (last, converged, rows) = CacheScope.iterate(init, maxRounds)(
          { s => marks += jobsNow(); step(s) }, changed)
        marks += jobsNow()
        val loopJobs = marks.sliding(2).map(m => m(1) - m(0)).toSeq
        assert(last.count() == 10L, name)
        // the step alone: the same rounds' lazy checkpoints, planned
        var prev = init
        val stepJobs = rows.indices.map { _ =>
          val j0 = jobsNow()
          val cp = step(prev).localCheckpoint(eager = false)
          val j = jobsNow() - j0
          cp.queryExecution.toRdd.count()
          prev = cp
          j
        }
        assert(loopJobs == stepJobs.map(_ + 1),
          s"$name: jobs per round $loopJobs, the step's own $stepJobs")
        // a plain replay: each round collected into a local frame
        var state = init
        val replayRows = Seq.newBuilder[Long]
        var replayConverged = changed.isEmpty
        var r = 0
        while (r < maxRounds && !(changed.isDefined && replayConverged)) {
          val next = step(state)
          val out = next.collect()
          replayRows += out.length.toLong
          replayConverged = changed.forall(c => !out.exists(row =>
            !row.isNullAt(row.fieldIndex(c)) && row.getBoolean(row.fieldIndex(c))))
          state = spark.createDataFrame(java.util.Arrays.asList(out: _*),
            next.schema).select("v", "lbl")
          r += 1
        }
        assert(rows == replayRows.result(), name)
        assert(converged == replayConverged, name)
        CacheScope.release(spark)
      }
    }
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

  test("Harness.scratch gives each call its own dir, and release deletes both") {
    val a = java.nio.file.Paths.get(graft.queries.Harness.scratch(spark, "twin"))
    val b = java.nio.file.Paths.get(graft.queries.Harness.scratch(spark, "twin"))
    assert(a != b)
    assert(java.nio.file.Files.isDirectory(a) && java.nio.file.Files.isDirectory(b))
    CacheScope.release(spark)
    assert(!java.nio.file.Files.exists(a) && !java.nio.file.Files.exists(b))
  }

  test("the exit hook's delete removes both roots and is quiet once they are gone") {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val roots = Seq("data_root", "tmpfs_root").map { k =>
      val r = SparkSpec.tempDir(k)
      java.nio.file.Files.writeString(
        java.nio.file.Files.createDirectories(r.resolve("a/b")).resolve("f"), "x")
      r
    }
    val warns = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val capture = new AbstractAppender("scratch-warns", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(graft.sources.GraftSink.getClass).asInstanceOf[Logger]
    logger.addAppender(capture)
    try {
      // the capture sees the WARN a failed cleanup logs
      graft.sources.GraftSink.quietly("probe")(throw new RuntimeException("x"))
      assert(warns.size == 1, warns)
      warns.clear()
      roots.foreach(graft.queries.Harness.deleteTree)
      assert(roots.forall(r => !java.nio.file.Files.exists(r)))
      roots.foreach(graft.queries.Harness.deleteTree) // already gone
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(warns.isEmpty, warns)
  }
}
