package graft.tools

import org.json4s._

/** Machine check over the per-query sweep telemetry Bench records to
  * `bench_diag.json` (r14, the r13 verdict's item 6: the r12 "+13 %
  * diffuse inflation" and its r13 root-causing were arbitrated by
  * HUMANS reading two JSON files — this turns the two signatures that
  * episode produced into a pass/fail gate evaluated by Bench itself
  * and re-checkable offline via `tools/diagcheck.py`).
  *
  * The two failure signatures, with thresholds sized from the healthy
  * r13 record (404 queries: early/late GC quartile means 16/17 ms,
  * max post-release storage 98 MB) and documented in SURVEY §6:
  *
  *  - **Cleaner debt** (the r12 signature): GC time accumulating as
  *    the sweep progresses — late-sweep queries pay collection work
  *    earlier queries deferred. Gate: mean per-query GC delta over the
  *    LAST quartile of the sweep must not exceed
  *    [[GC_LATE_FACTOR]] × the FIRST quartile's mean +
  *    [[GC_LATE_SLACK_MS]] ms (the slack keeps near-zero early means
  *    from making the ratio a coin flip).
  *  - **Leaked persist**: storage memory that survives the
  *    per-query `CacheScope.release` — any single query leaving more
  *    than [[STORAGE_MAX_MB]] MB resident fails (healthy queries
  *    leave ≤ ~100 MB of shared-session residue; a leaked
  *    corpus-scale frame is GBs).
  *  - **Failed queries**: a query that threw is not timed (Bench lists
  *    it under `failed`), and any entry there fails the check — a
  *    crash must never pass as a fast sweep.
  */
object DiagCheck {

  val STORAGE_MAX_MB = 512L
  val GC_LATE_FACTOR = 3.0
  val GC_LATE_SLACK_MS = 200.0
  /** r15 (the r14 verdict's item 3): the round-over-round shared-query
    * subtotal, NORMALIZED by the canary's machine factor, must not
    * inflate beyond this — the gate that replaces the prose canary
    * arbitration §6 ran every round (r14's +20%-looking idle total was
    * a ×1.2 machine baseline; normalized it was ~1.04). */
  val NORM_RATIO_MAX = 1.15
  /** r15 (item 5's documented bound): post-release block-manager DISK
    * residency per query. The r15 A/B measured the suite's known max —
    * ktruss_peel leaves ~930 MB of local-checkpoint blocks that the
    * ContextCleaner drains within a few queries (930→913→…→10 MB by
    * sweep end in the community-first run) — so the bound is ~2× that
    * known residue: a query leaving more has leaked an UNBOUNDED
    * checkpoint chain, not the documented peel rounds. */
  val DISK_MAX_MB = 2048L

  /** One sweep row: (query, gcDeltaMs, heapMb, storageMb). */
  type Row = (String, Long, Long, Long)

  final case class Verdict(pass: Boolean, gcEarlyMs: Double,
      gcLateMs: Double, storageMaxMb: Long,
      storageOffenders: Seq[(String, Long)],
      normalizedRatio: Option[Double] = None,
      diskOffenders: Seq[(String, Long)] = Nil,
      failed: Seq[String] = Nil) {
    def toJson: JObject = {
      def offs(o: Seq[(String, Long)]) =
        Json.strings(o.map { case (q, m) => s"$q:${m}mb" })
      JObject(
        "pass" -> JInt(if (pass) 1 else 0),
        "gc_early_ms" -> Json.fixed3(gcEarlyMs),
        "gc_late_ms" -> Json.fixed3(gcLateMs),
        "storage_max_mb" -> JLong(storageMaxMb),
        "normalized_ratio" -> normalizedRatio.map(Json.fixed3).getOrElse(JNull),
        "disk_offenders" -> offs(diskOffenders),
        "storage_offenders" -> offs(storageOffenders),
        "failed" -> Json.strings(failed))
    }
    def json: String = Json.compact(toJson)
  }

  def evaluate(diag: Seq[Row],
      normalizedRatio: Option[Double] = None,
      diskMb: Seq[(String, Long)] = Nil,
      failed: Seq[String] = Nil): Verdict = {
    val q = math.max(1, diag.size / 4)
    val early = diag.take(q).map(_._2.toDouble)
    val late = diag.takeRight(q).map(_._2.toDouble)
    val earlyMean = if (early.isEmpty) 0.0 else early.sum / early.size
    val lateMean = if (late.isEmpty) 0.0 else late.sum / late.size
    val gcOk = diag.size < 8 || // a profiling subset has no "sweep arc"
      lateMean <= GC_LATE_FACTOR * earlyMean + GC_LATE_SLACK_MS
    val offenders = diag.collect {
      case (n, _, _, st) if st > STORAGE_MAX_MB => (n, st)
    }
    val storageMax = if (diag.isEmpty) 0L else diag.map(_._4).max
    val normOk = normalizedRatio.forall(_ <= NORM_RATIO_MAX)
    val diskOffenders = diskMb.collect {
      case (n, mb) if mb > DISK_MAX_MB => (n, mb)
    }
    Verdict(gcOk && offenders.isEmpty && normOk && diskOffenders.isEmpty &&
      failed.isEmpty, earlyMean, lateMean, storageMax, offenders,
      normalizedRatio, diskOffenders, failed)
  }
}
