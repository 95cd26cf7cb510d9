package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.json4s._
import graft.tools.Json
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      graft.queries.Harness.tmpfsRoot.resolve("spark_local").toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // without this, a plan referencing a persisted frame recompiles
      // the CACHED subtree with AQE off — static 32-partition SMJs and
      // no runtime broadcast conversion; profiled 30–50% slower on the
      // multi-consumer persist patterns (r10)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // r13 (the r12 +13% shared-query inflation): ContextCleaner frees
      // broadcast/shuffle/RDD state only when the DRIVER GC collects
      // the weak references — and a 128 GiB heap almost never GCs on
      // its own, so cleanup debt (and with it block-manager entries and
      // /tmp shuffle files) accumulates across a ~390-query sweep. The
      // periodic-GC interval (default 30 min) is tightened so the
      // cleaner drains a few times per sweep even without the fence.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "5min"))
      .config("spark.ui.enabled", "false")
      // dedicated local dir so the shuffle-file telemetry counts THIS
      // JVM's blockmgr state, not a neighbor run's (r15, item 5).
      // r15 OPT (§2.1/§6): prefer tmpfs (/dev/shm) for shuffle/spill
      // files — the same bounded-harness rationale as the streaming
      // checkpoints (r9), and under the same run root
      // (Harness.tmpfsRoot, /tmp without a writable /dev/shm): the
      // sweep's peak on-disk blockmgr footprint is ~0.5 GB at sf0.1
      // against a 128 GiB sandbox, and the disk-backed default charged
      // the heavy graph queries (ktruss wedge shuffle) real
      // fsync/page-cache cost. Production sizes real local SSDs for
      // shuffle (a deployment choice, like the streaming checkpoint
      // location); SPARK_GRAFT_LOCAL_DIR overrides.
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside the timed region (otherwise the first
    // query absorbs ~5 s of JIT + classloading unrelated to its plan)
    try {
      spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000)
        .groupBy("l_returnflag").count().count()
      graft.queries.StreamingQueries.prewarm(spark, sfDir)
      graft.queries.Staged.prewarm(spark, sfDir)
    } catch { case NonFatal(e) => System.err.println(s"[bench] warmup failed: $e") }
    // Median of 3 runs in sorted name order: a single timing in one JVM
    // moves 5-7x between rounds from run-order/GC noise (observed r2->r3),
    // which makes per-query regressions unjudgeable. The fixed order
    // removes the order component; the median removes one-off GC/IO
    // stalls. (Plan construction + caching state resets between runs via
    // CacheScope.release, outside the timed region.)
    // optional: args restrict the run to named queries (local profiling);
    // the driver passes no args → full suite
    val only = args.toSet
    // Timed action: a noop-sink WRITE, not count() — count() lets
    // Catalyst prune every column and drop final sorts, so narrow
    // projection queries (pii_redact, text_normalize) were timed as
    // near-raw scans (r9 verdict's honesty item). The noop v2 sink
    // executes the FULL plan — projections, sorts, everything — and
    // discards rows at the sink. The r10 totals therefore step UP vs
    // r9 by design; SURVEY §6 documents the change.
    // A run that throws is NOT timed: it returns None, logs to stderr
    // and lands in `failed` — a crash must never read as a fast query.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def run(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val dt =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          None
        }
      // released OUTSIDE the timed region: cache cleanup between runs
      // is harness hygiene, not part of the query's cost
      graft.operators.CacheScope.release(spark)
      dt
    }
    // median of 3 runs; the first failure ends the query (None)
    def median3(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Option[Double] = {
      val ts = Iterator.continually(run(name, fn)).take(3)
        .takeWhile(_.isDefined).flatten.toSeq
      if (ts.size == 3) Some(ts.sorted.apply(1)) else None
    }
    // --- r13 sweep-health telemetry (the r12 verdict's item 1: +13%
    // idle-to-idle inflation on untouched queries). Per query we record
    // the GC-time delta and heap/storage occupancy so a future drift is
    // attributable from bench_diag.json instead of re-arbitrated.
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    def heapMb(): Long = {
      val r = Runtime.getRuntime
      (r.totalMemory - r.freeMemory) / (1024 * 1024)
    }
    def storageMb(): Long =
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, rem) => max - rem }.sum / (1024 * 1024)
    // r15 (verdict item 5): the extended per-query telemetry the
    // community-family A/B needs — JIT code-cache occupancy (a filled
    // cache deoptimizes/flushes hot methods) and the block-manager
    // disk store (leaked shuffle/RDD files cost page cache + seeks).
    def codeCacheMb(): Long = {
      var t = 0L
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .forEach { p =>
          if (p.getName.contains("CodeHeap") ||
            p.getName.contains("Code Cache"))
            t += p.getUsage.getUsed
        }
      t / (1024 * 1024)
    }
    def diskStats(): (Long, Long) = { // (files, MB) under this JVM's local dir
      val root = new java.io.File(localDir)
      var n = 0L; var bytes = 0L
      def walk(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach { k =>
          if (k.isDirectory) walk(k)
          else { n += 1; bytes += k.length() }
        }
      }
      if (root.exists()) walk(root)
      (n, bytes / (1024 * 1024))
    }
    val diag = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)] // name, gc delta ms, heap, storage
    val diagExt = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)] // code cache MB, disk files, disk MB
    // GC fence: an explicit full GC every `fence` queries, OUTSIDE the
    // timed regions — System.gc() is what processes the cleaner's weak
    // references, so this converts unbounded cleanup debt into a
    // bounded, untimed cost. SPARK_GRAFT_GC_FENCE=0 disables (A/B).
    val fence = sys.env.getOrElse("SPARK_GRAFT_GC_FENCE", "25").toInt
    var sinceFence = 0
    def maybeFence(): Unit = if (fence > 0) {
      sinceFence += 1
      if (sinceFence >= fence) { sinceFence = 0; System.gc() }
    }
    // Bench canary (r11, from the r9/r10 driver-vs-builder arbitration
    // both needing a human to read two JSON files): ONE fixed reference
    // query timed median-of-3 at sweep START, MIDDLE and END. If the
    // three agree, the machine was steady for the whole sweep and the
    // suite numbers are trustworthy; a rising canary = co-located load
    // or heap debt arriving mid-sweep, and `canary.drift` (max/min)
    // makes that a single published number instead of an arbitration.
    // agg_q1 is the canary: moderate cost (~0.4 s), one scan + one
    // map-side-combined aggregate, no staged artifacts, no cache state.
    val canaryName = "agg_q1"
    def canaryShot(): Double = // a failed canary is 0 and listed in `failed`
      median3(canaryName, SparkEntry.queries(canaryName)).getOrElse(0.0)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val canaryStart = if (only.isEmpty) canaryShot() else 0.0
    val (firstHalf, secondHalf) = ordered.splitAt(ordered.size / 2)
    def sweep(qs: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]) =
      qs.flatMap { case (name, fn) =>
        val gc0 = gcMs()
        val med = median3(name, fn)
        diag += ((name, gcMs() - gc0, heapMb(), storageMb()))
        val (dn, dmb) = diskStats()
        diagExt += ((codeCacheMb(), dn, dmb))
        maybeFence()
        med.map(name -> _)
      }
    val r1 = sweep(firstHalf)
    val canaryMid = if (only.isEmpty) canaryShot() else 0.0
    val r2 = sweep(secondHalf)
    val canaryEnd = if (only.isEmpty) canaryShot() else 0.0
    val swept = r1 ++ r2
    // drift is DIRECTIONAL: pressure arriving mid-sweep shows as a
    // RISING canary (max of the later points over the start), while a
    // canary that only speeds up (JIT/page-cache warming — observed
    // 1.07/1.28/0.85 on an idle machine) is not a degraded run and
    // must not trip the rule. drift < 1 = the machine warmed up.
    val canary = Seq("start" -> canaryStart, "mid" -> canaryMid,
      "end" -> canaryEnd,
      "drift" -> (if (canaryStart > 0)
        math.max(canaryMid, canaryEnd) / canaryStart
      else 0.0))
    // Self-consistency guard (r10, from the r9 driver-vs-builder 287 vs
    // 175 s divergence no in-repo check could see): re-run the 5
    // slowest queries ISOLATED after the full sweep and publish both
    // numbers. A big suite-vs-isolated gap on a query = cache/memory
    // pollution from its neighbors, not its own plan.
    // GC hint first, and median-of-3 like the suite numbers: a single
    // shot at end-of-JVM measured the 354-query run's heap debt, not
    // the plan (winsorize 9.5 s here vs 2.6 s in a fresh JVM)
    System.gc()
    val isolated = swept.sortBy(-_._2).take(5)
      .flatMap { case (name, _) =>
        median3(name, SparkEntry.queries(name)).map(name -> _)
      }
    // a query that failed in ANY run (sweep or isolated) is left out of
    // the timings and the total, and listed under `failed`
    val results = swept.filterNot { case (n, _) => failed(n) }
    // --- r15 (verdict item 3): canary-NORMALIZED round-over-round
    // comparison, replacing the prose arbitration §6 ran every round.
    // bench_prev.json is the PREVIOUS round's committed record (the
    // round workflow snapshots bench_out.json -> bench_prev.json at
    // round start; Bench never writes it). The machine factor is the
    // canary-mean ratio; the gate is the shared-query subtotal ratio
    // DIVIDED by that factor (<= NORM_RATIO_MAX in DiagCheck) — a
    // slower sandbox no longer reads as a regression, and a real plan
    // regression can no longer hide behind "the machine was slow".
    val canaryMean = (canaryStart + canaryMid + canaryEnd) / 3
    val sharedBlock: Option[(Int, Double, Double, Double)] =
      if (only.nonEmpty) None
      else try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("/root/repo/bench_prev.json"))
        val prev = Json.parse(txt)
        val pq = Json.numbers(prev \ "queries")
        val pc = Json.numbers(prev \ "canary")
        val prevCanary = Seq("start", "mid", "end").flatMap(pc.get)
        val shared = results.filter { case (n, _) => pq.contains(n) }
        if (shared.isEmpty || prevCanary.size != 3) None
        else {
          val sub = shared.map(_._2).sum
          val psub = shared.map { case (n, _) => pq(n) }.sum
          val pcm = prevCanary.sum / 3
          if (psub <= 0 || pcm <= 0 || canaryMean <= 0) None
          else Some((shared.size, sub, psub, pcm))
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] no previous record: $e")
        None
      }
    val normalizedRatio = sharedBlock.map { case (_, sub, psub, pcm) =>
      (sub / psub) / (canaryMean / pcm)
    }
    // r14 (verdict item 6): DiagCheck evaluates the two r12/r13 drift
    // signatures (late-sweep GC accumulation, post-release storage
    // residency) against documented thresholds and the verdict ships
    // in bench_out.json. The in-JVM check is ADVISORY (stderr +
    // diag_pass=0; the JVM still exits 0 so the driver's JSON capture
    // survives a failed gate) — `tools/diagcheck.py` is the ENFORCING
    // gate: it re-applies the same thresholds offline and exits
    // nonzero, and the round's iron rule is that a committed bench
    // must pass it.
    val diagVerdict = graft.tools.DiagCheck.evaluate(diag.toSeq,
      normalizedRatio,
      diag.zip(diagExt).map { case ((n, _, _, _), (_, _, dmb)) => (n, dmb) }
        .toSeq, failed.toSeq)
    if (only.isEmpty && !diagVerdict.pass)
      System.err.println(s"[bench] DIAG CHECK FAILED: ${diagVerdict.json}")
    def jsonLine(rs: Seq[(String, Double)], total: Double,
        meta: List[JField]): String =
      Json.compact(JObject(List[JField]("metric" -> JString("total"),
        "value" -> Json.fixed3(total), "unit" -> JString("sec"),
        "sf" -> JString(sfDir)) ++ meta ++ List[JField](
        "failed" -> Json.strings(failed.toSeq), "queries" -> Json.secs(rs))))
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // last line as JSON — a 200-query map is ~6 KB, so its head gets cut
    // and every round's bench came back `parsed: null` (r1–r5). The
    // stdout line therefore carries a DOCUMENTED compact view: the
    // suite total plus the 20 slowest queries, with explicit
    // query_count / queries_in_map fields so nothing is silently
    // dropped; the FULL per-query map is persisted to bench_out.json.
    var top = results.sortBy(-_._2).take(20)
    def meta(n: Int): List[JField] = List(
      "query_count" -> JInt(results.size), "queries_in_map" -> JInt(n),
      "diag_pass" -> JInt(if (diagVerdict.pass) 1 else 0),
      "queries_full" -> JString("bench_out.json"),
      "note" -> JString(s"queries = $n slowest"))
    while (top.nonEmpty &&
      jsonLine(top.sortBy(_._1), total, meta(top.size)).length > 1600)
      top = top.dropRight(1)
    def write(path: java.nio.file.Path, body: String): Unit =
      try java.nio.file.Files.writeString(path, body)
      catch { case NonFatal(e) => System.err.println(s"[bench] cannot write $path: $e") }
    // Persisted only for FULL runs: an args-restricted profiling run
    // must not clobber the committed full-suite record. `isolated`
    // carries the guard numbers (suite-median vs isolated single-shot
    // for the 5 slowest — SURVEY §6 documents the acceptable delta).
    if (only.isEmpty)
      write(
        java.nio.file.Paths.get("/root/repo/bench_out.json"),
        Json.compact(JObject(
          "metric" -> JString("total"), "value" -> Json.fixed3(total),
          "unit" -> JString("sec"), "sf" -> JString(sfDir),
          "action" -> JString("noop_write"), "gc_fence" -> JInt(fence),
          "canary" -> Json.secs(canary),
          "shared" -> sharedBlock.map { case (n, sub, psub, pcm) =>
            JObject("n" -> JInt(n), "subtotal" -> Json.fixed3(sub),
              "prev_subtotal" -> Json.fixed3(psub),
              "canary_mean" -> Json.fixed3(canaryMean),
              "prev_canary_mean" -> Json.fixed3(pcm),
              "normalized_ratio" -> Json.fixed3(normalizedRatio.get))
          }.getOrElse(JNull),
          "diag_check" -> diagVerdict.toJson,
          "isolated" -> Json.secs(isolated),
          "failed" -> Json.strings(failed.toSeq),
          "queries" -> Json.secs(results))) + "\n")
    // full per-query sweep telemetry (r13): one line per query in sweep
    // order — gc_ms is the GC time that fired DURING the query's three
    // runs; heap/storage are post-query occupancy. The file is how a
    // future round attributes a diffuse drift (rising gc_ms = heap
    // debt; rising storage_mb = a leaked persist) without re-running.
    if (only.isEmpty)
      write(
        java.nio.file.Paths.get("bench_diag.json"),
        diag.zip(diagExt).map { case ((n, g, h, st), (cc, dn, dmb)) =>
          Json.compact(JObject("q" -> JString(n), "gc_ms" -> JLong(g),
            "heap_mb" -> JLong(h), "storage_mb" -> JLong(st),
            "code_cache_mb" -> JLong(cc), "disk_files" -> JLong(dn),
            "disk_mb" -> JLong(dmb)))
        }.mkString("[\n", ",\n", "\n]") + "\n")
    println(jsonLine(top.sortBy(_._1), total, meta(top.size)))
    spark.stop()
  }
}
