package graft

import graft.tools.DiagCheck

/** The bench-health gate must recognize exactly the two drift
  * signatures the r12/r13 arbitration produced — late-sweep GC
  * accumulation (cleaner debt) and post-release storage residency (a
  * leaked persist) — and pass the healthy r13-shaped sweep. */
class DiagCheckSpec extends SparkSpec {

  private def rows(gc: Seq[Long], storage: Long = 10L): Seq[DiagCheck.Row] =
    gc.zipWithIndex.map { case (g, i) => (s"q$i", g, 2000L, storage) }

  test("the healthy r13 shape passes: flat GC, bounded storage") {
    val v = DiagCheck.evaluate(rows(Seq.fill(400)(16L)))
    assert(v.pass)
    assert(math.abs(v.gcEarlyMs - 16.0) < 1e-9)
    assert(math.abs(v.gcLateMs - 16.0) < 1e-9)
    assert(v.storageOffenders.isEmpty)
  }

  test("the r12 cleaner-debt signature fails: GC accumulating late in " +
    "the sweep") {
    // early quartile ~15 ms, last quartile ~900 ms — the observed shape
    val gc = Seq.fill(300)(15L) ++ Seq.fill(100)(900L)
    val v = DiagCheck.evaluate(rows(gc))
    assert(!v.pass)
    assert(v.gcLateMs > DiagCheck.GC_LATE_FACTOR * v.gcEarlyMs +
      DiagCheck.GC_LATE_SLACK_MS)
    assert(v.storageOffenders.isEmpty) // it is the GC gate that fires
  }

  test("near-zero early GC does not make the ratio a coin flip (slack)") {
    // early mean 0, late mean 150 ms: ratio is infinite but absolute
    // debt is small — the 200 ms slack keeps this a PASS
    val gc = Seq.fill(300)(0L) ++ Seq.fill(100)(150L)
    assert(DiagCheck.evaluate(rows(gc)).pass)
  }

  test("a leaked persist fails: any query leaving > STORAGE_MAX_MB " +
    "resident") {
    val base = rows(Seq.fill(100)(16L))
    val leaked = base.updated(50, ("leaky_q", 16L, 2000L, 4096L))
    val v = DiagCheck.evaluate(leaked)
    assert(!v.pass)
    assert(v.storageOffenders == Seq(("leaky_q", 4096L)))
    assert(v.storageMaxMb == 4096L)
  }

  test("profiling subsets (< 8 rows) skip the sweep-arc GC gate but " +
    "keep the storage gate") {
    assert(DiagCheck.evaluate(rows(Seq(0L, 0L, 5000L))).pass)
    assert(!DiagCheck.evaluate(
      rows(Seq(0L, 0L, 0L), storage = 9999L)).pass)
  }

  test("the canary-normalized round-over-round gate fails above " +
    "NORM_RATIO_MAX, passes below, and is skipped when absent") {
    val healthy = rows(Seq.fill(100)(16L))
    // a 20% machine factor fully absorbed: ratio ~1.0 passes
    assert(DiagCheck.evaluate(healthy, Some(1.004)).pass)
    // boundary: exactly the max passes, just above fails
    assert(DiagCheck.evaluate(healthy, Some(DiagCheck.NORM_RATIO_MAX)).pass)
    val v = DiagCheck.evaluate(healthy, Some(1.151))
    assert(!v.pass)
    assert(v.storageOffenders.isEmpty &&
      v.gcLateMs <= DiagCheck.GC_LATE_FACTOR * v.gcEarlyMs +
        DiagCheck.GC_LATE_SLACK_MS,
      "it must be the normalized gate that fired")
    assert(v.json.contains("\"normalized_ratio\":1.151"))
    // no prior record -> the gate is skipped, json says null
    val skipped = DiagCheck.evaluate(healthy, None)
    assert(skipped.pass)
    assert(skipped.json.contains("\"normalized_ratio\":null"))
  }

  test("the disk-residency bound passes ktruss's documented 930 MB " +
    "and fails an unbounded checkpoint chain") {
    val healthy = rows(Seq.fill(100)(16L))
    assert(DiagCheck.evaluate(healthy,
      diskMb = Seq(("ktruss_peel", 930L), ("agg_q1", 5L))).pass)
    val v = DiagCheck.evaluate(healthy,
      diskMb = Seq(("leaky_chain", 3000L)))
    assert(!v.pass)
    assert(v.diskOffenders == Seq(("leaky_chain", 3000L)))
    assert(v.json.contains("\"leaky_chain:3000mb\""))
  }

  test("a query that failed in the sweep fails the check") {
    val healthy = rows(Seq.fill(100)(16L))
    assert(DiagCheck.evaluate(healthy, failed = Nil).pass)
    val v = DiagCheck.evaluate(healthy, failed = Seq("boom_q"))
    assert(!v.pass)
    assert(v.storageOffenders.isEmpty && v.diskOffenders.isEmpty,
      "it must be the failed-query gate that fired")
    assert(v.json.contains("\"failed\":[\"boom_q\"]"))
  }

  test("bench JSON: fixed 3-decimal numbers; a previous record's maps " +
    "read back") {
    import graft.tools.Json
    assert(Json.compact(Json.secs(Seq("b" -> 1.23, "a" -> 0.0004,
      "c" -> 12.3456))) == """{"b":1.230,"a":0.000,"c":12.346}""")
    assert(Json.compact(Json.fixed3(Double.NaN)) == "null")
    val prev = Json.parse(
      """{"canary":{"start":1.396,"mid":2,"drift":1.060},"queries":{"q":0.5}}""")
    assert(Json.numbers(prev \ "canary") ==
      Map("start" -> 1.396, "mid" -> 2.0, "drift" -> 1.06))
    assert(Json.numbers(prev \ "queries") == Map("q" -> 0.5))
    assert(Json.numbers(prev \ "absent").isEmpty)
  }

  test("verdict json is well-formed and carries the gate numbers") {
    val v = DiagCheck.evaluate(
      rows(Seq.fill(100)(16L)).updated(3, ("bad", 16L, 0L, 600L)))
    assert(v.json.contains("\"pass\":0"))
    assert(v.json.contains("\"bad:600mb\""))
    // parses as one JSON object (the bench_out embedding contract)
    assert(v.json.startsWith("{") && v.json.endsWith("}"))
  }
}
