package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-session registry of the intermediates graft operators persist
  * (banded minhash signatures, simhash frames, shingle indexes, IVF
  * centroids, set-op inputs, …) OR checkpoint (the per-round frames of
  * the iterative graph operators), so callers get a per-job release
  * handle instead of the session-wide `spark.catalog.clearCache()`.
  *
  * Operators call [[persist]] / [[iterate]], and the query harness
  * [[track]]s its scratch dirs and memory-sink views; a pipeline driver
  * calls [[release]] after the consuming action (Verify/Bench do, per
  * query).
  *
  * Checkpoints need their own tracking because `Dataset.unpersist` only
  * covers CacheManager entries: a `localCheckpoint` pins its blocks at
  * the RDD level (the `LogicalRDD` the checkpointed Dataset wraps), so
  * a registry of Datasets alone leaks every iterative operator's
  * per-round blocks past release() — measured in the r8 bench as a
  * regression of every query that RAN AFTER the LPA pair while their
  * plans were unchanged. [[release]] therefore runs arbitrary
  * release thunks, and [[checkpoint]] registers one that unpersists the
  * checkpoint's underlying RDD.
  *
  * Reference discipline: frames are held STRONGLY between persist and
  * release — deliberately. GC'ing the Dataset wrapper does NOT free
  * its cached blocks (the CacheManager lives in SharedState for the
  * SparkContext lifetime and holds the cached plan itself), so a weak
  * reference here would only lose the unpersist handle: after any GC,
  * release() would silently no-op and the MEMORY_AND_DISK blocks would
  * stay pinned forever — worst exactly under memory pressure, which is
  * what triggers GC.
  *
  * The map is therefore a PLAIN HashMap, keyed by session: a tracked
  * DataFrame strongly references its session (`df.sparkSession`), so a
  * WeakHashMap entry would pin its own key anyway and provide no
  * protection — the previous weak keying was decorative, not
  * functional. The contract is explicit instead: a caller that
  * persists and never calls release() pins its session AND its cached
  * blocks, exactly as if it had called `.persist` directly; release()
  * is the only exit.
  */
object CacheScope {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val tracked =
    new java.util.HashMap[SparkSession, java.util.ArrayList[() => Unit]]()

  /** Run `thunk` at the next [[release]] of `spark` — how frames,
    * checkpoints, scratch dirs ([[graft.queries.Harness.scratch]]) and
    * memory-sink views end their life. */
  private[graft] def track(spark: SparkSession, thunk: () => Unit): Unit =
    tracked.synchronized {
      tracked.computeIfAbsent(spark,
        _ => new java.util.ArrayList[() => Unit]()).add(thunk)
    }

  /** Persist MEMORY_AND_DISK and track for later [[release]]. */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    track(df.sparkSession, () => p.unpersist(blocking = false))
    p
  }

  /** Persist MEMORY_AND_DISK_SER (compact serialized in-memory image)
    * and track for later [[release]] — for CORPUS-PROPORTIONAL
    * intermediates (labeled edge lists, banded signatures): the
    * deserialized default's row objects are what evict into GC storms
    * under co-located memory pressure (the r9 driver-bench pollution
    * window); the serialized image trades a decode per read for a
    * several-fold smaller, GC-inert footprint. Node-/community-sized
    * frames keep the deserialized [[persist]]. */
  private[graft] def persistSer(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK_SER)
    track(df.sparkSession, () => p.unpersist(blocking = false))
    p
  }

  /** The per-round policy of every iterative operator: run `step` from
    * `init` for at most `maxRounds` rounds, cutting lineage every round
    * (iterative self-joins otherwise grow the logical plan linearly in
    * rounds — analysis cost, and an eviction would recompute the whole
    * history) and freeing the superseded round — its cache entry AND its
    * checkpoint blocks, so a persisted round-0 frame goes too — as soon
    * as its successor has materialized. In-flight state is therefore two
    * rounds, never rounds × frame; the final round stays tracked for
    * [[release]].
    *
    * Each round is a LAZY checkpoint plus ONE aggregate — `count(*)`,
    * and `max(changed)` when `changed` names a boolean column of the
    * step's output — that materializes it (an eager checkpoint next to
    * the convergence aggregate was two jobs per round: measured 3×
    * slower end to end at the 10× probe).
    * Materializing round r is what makes round r−1 safe to free. With
    * `changed` the loop stops at the first round with no change.
    *
    * Returns the final round, whether it converged (always true without
    * `changed`: a fixed count has nothing to converge) and each round's
    * row count, in round order. Callers must not read a round the loop
    * superseded — its blocks are gone. */
  private[graft] def iterate(init: DataFrame, maxRounds: Int)(
      step: DataFrame => DataFrame,
      changed: Option[String] = None): (DataFrame, Boolean, Seq[Long]) = {
    val aggs = F.count(F.lit(1)) +:
      changed.map(c => F.coalesce(F.max(F.col(c)), F.lit(false))).toSeq
    var state = init
    val rows = Seq.newBuilder[Long]
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val next = checkpoint(step(state))
      val r = next.agg(aggs.head, aggs.tail: _*).head()
      rows += r.getLong(0)
      converged = changed.isDefined && !r.getBoolean(1)
      state.unpersist(blocking = false)
      unpersistCheckpoint(state)
      state = next
      rounds += 1
    }
    (state, changed.isEmpty || converged, rows.result())
  }

  /** Lazy checkpoint (reliable when the context has a checkpoint dir,
    * local otherwise), tracking the checkpoint's RDD blocks for
    * [[release]]. */
  private def checkpoint(df: DataFrame): DataFrame = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    track(df.sparkSession, () => unpersistCheckpoint(cp))
    cp
  }

  /** The block-holding RDD of a checkpointed Dataset: its plan is the
    * `LogicalRDD` leaf Spark's checkpoint wraps around the materialized
    * rows. (For a RELIABLE checkpoint the RDD was never persisted —
    * unpersist is then a no-op and the files age out with the context.) */
  private def checkpointRdd(cp: DataFrame): Option[RDD[_]] =
    cp.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Free a checkpointed Dataset's blocks (non-blocking, idempotent; a
    * no-op on a frame that is not a checkpoint). Only for checkpoints
    * whose successor has already MATERIALIZED — an un-materialized
    * dependent plan would recompute from a truncated lineage and fail. */
  private def unpersistCheckpoint(cp: DataFrame): Unit =
    checkpointRdd(cp).foreach { r =>
      try r.unpersist(blocking = false) catch {
        case NonFatal(e) => log.warn("CacheScope: checkpoint unpersist failed", e)
      }
    }

  /** Number of sessions currently tracked (test observability). */
  private[graft] def trackedSessions: Int =
    tracked.synchronized(tracked.size())

  /** Number of frames tracked on a session (test observability). */
  private[graft] def trackedFrames(spark: SparkSession): Int =
    tracked.synchronized {
      val list = tracked.get(spark)
      if (list == null) 0 else list.size()
    }

  /** Unpersist (non-blocking) everything tracked on this session since
    * the last release — persisted frames, checkpoint blocks, scratch
    * dirs and memory-sink views. For
    * PERSISTED frames this is safe at any time (a later action
    * recomputes from lineage). CHECKPOINTED frames have no lineage to
    * recompute from, nor have frames read from a scratch dir —
    * release() is the END OF THEIR LIFE: a read after release fails
    * with a missing-block or missing-file error instead of recomputing.
    * Callers therefore release only after the consuming action (the
    * Verify/Bench per-query discipline). A failing release step is
    * logged and the remaining steps still run. */
  def release(spark: SparkSession): Unit = {
    val list = tracked.synchronized(tracked.remove(spark))
    if (list != null) list.forEach { thunk =>
      try thunk() catch {
        case NonFatal(e) => log.warn("CacheScope: release step failed", e)
      }
    }
  }
}
