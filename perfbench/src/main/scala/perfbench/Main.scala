package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s.JValue

/** Runs one workload for a measured window and writes the raw record
  * (every op sample, set-up timings, checks, and in a traced run the
  * spans and per-op engine events) as JSON. `run.py` builds, generates
  * the inputs, starts this, compares catalog outputs with their oracle
  * and derives the metrics.
  *
  * Load is closed-loop: this one driver thread submits the next op only
  * when the previous one has completed. */
object Main {
  /** An op still running after this long is cancelled and counted as
    * failed; it keeps a run inside its time limit. */
  val OpTimeoutS = 40L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    // one copy of the generated inputs per set-up round; each round sets
    // up from scratch, and `setup_s` takes their median
    val inputs = args("inputs").split(",").toSeq
    val work = args("work")
    val selfCheck = args.get("selfcheck").contains("1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val jvmSessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext

    val tracer = new Tracer
    val ctx = new Ctx(spark, tracer, work)
    val catalogRows = args.get("rows").map(_.toLong).getOrElse(0L)
    val wl: Workload = workload match {
      case "ingest" => new IngestWorkload(ctx, inputs)
      case "analytics" =>
        new CatalogWorkload(ctx, inputs, s"$work/outputs", Catalog.analytics, selfCheck,
          catalogRows)
    }
    val recorder = new Recorder
    val timer = Executors.newSingleThreadScheduledExecutor()
    val storage = new StorageSampler(sc)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
    def gcMs(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }

    /** The listener events queued so far, once the bus has delivered
      * them (traced run only). */
    def engineEvents(): Option[OpEvents] =
      if (!tracer.enabled) None
      else {
        PerfbenchBus.drain(sc)
        Some(recorder.take())
      }

    def runOp(op: Op, pass: Int, verify: Boolean): JValue = {
      val facts = mutable.LinkedHashMap.empty[String, Any]
      @volatile var timedOut = false
      tracer.span(op.name, "op") {
        val opSpan = tracer.currentId
        val group = s"op-$pass-${op.name}"
        sc.setJobGroup(group, op.name, interruptOnCancel = true)
        val cancel = timer.schedule(new Runnable {
          def run(): Unit = { timedOut = true; sc.cancelJobGroupAndFutureJobs(group) }
        }, OpTimeoutS, TimeUnit.SECONDS)
        val t0 = System.nanoTime()
        val result =
          try Right(op.run(pass, verify, facts))
          catch { case e: Throwable if NonFatal(e) || e.isInstanceOf[InterruptedException] => Left(e) }
        val secs = (System.nanoTime() - t0) / 1e9
        cancel.cancel(false)
        sc.clearJobGroup()
        val events = engineEvents()
        events.foreach { ev =>
          val jobSpan = ev.jobTimes.map { case (id, start, end) =>
            val parent = tracer.innermost(opSpan, start * 1000000L - tracer.epochOffsetNs)
            id -> tracer.add(s"job $id", "spark.job", parent, opSpan, start, math.max(start, end))
          }.toMap
          ev.stageTimes.foreach { case (id, job, start, end) =>
            tracer.add(s"stage $id", "spark.stage", jobSpan.getOrElse(job, opSpan), opSpan,
              start, math.max(start, end))
          }
        }
        val error = result match {
          case Left(e) =>
            Some(if (timedOut) s"timeout after ${OpTimeoutS}s"
            else s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
          case Right(check) =>
            tracer.span("verify", "verify") {
              try check()
              catch { case NonFatal(e) => Some(s"check failed: ${e.getClass.getName}: ${e.getMessage}") }
            }
        }
        val r0 = System.nanoTime()
        tracer.span("release", "graft.operators")(graft.operators.CacheScope.release(spark))
        val releaseMs = (System.nanoTime() - r0) / 1e6
        engineEvents() // the checks' own jobs belong to no op
        Json.obj("op" -> op.name, "kind" -> op.kind, "pass" -> pass, "span" -> opSpan,
          "s" -> secs, "ok" -> error.isEmpty, "error" -> error, "release_ms" -> releaseMs,
          "facts" -> facts, "events" -> events.map(ev => Json.obj(
            "jobs" -> ev.jobs, "stages" -> ev.stages, "tasks" -> ev.tasks,
            "task_ms" -> ev.taskMs, "busy_ms" -> ev.busyMs,
            "shuffle_write_bytes" -> ev.shuffleWriteBytes,
            "shuffle_read_bytes" -> ev.shuffleReadBytes,
            "spill_bytes" -> ev.spillBytes,
            "last_job_end_epoch_ms" -> ev.jobTimes.map(_._3).maxOption.getOrElse(-1L),
            "analysis_ms" -> ev.analysisMs,
            "optimizer_ms" -> ev.optimizerMs, "planning_ms" -> ev.planningMs,
            "exchanges" -> ev.exchanges, "max_join_rows" -> ev.maxJoinRows,
            "output_rows" -> ev.outputRows, "functions_ms" -> ev.functionsMs,
            "rewrites" -> ev.rewrites.toSeq.sorted,
            "storage_peak_bytes" -> ev.storagePeakBytes,
            "stream_progress" -> ev.streamProgress.toSeq)))
      }
    }

    /** Runs the ops of one pass in order, stopping early once the clock
      * passes `until`. */
    def runPass(pass: Int, verify: Boolean, until: Option[Long] = None): JValue =
      tracer.span(s"pass $pass", "pass") {
        wl.startPass()
        // a full collection between passes, outside the timed region,
        // keeps collector pauses from landing in one op or another by
        // chance, and lets Spark's cleaner free the previous pass's state
        System.gc()
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        val samples = wl.ops.iterator
          .takeWhile(_ => until.forall(System.nanoTime() < _))
          .map(runOp(_, pass, verify)).toList
        Json.obj("pass" -> pass, "complete" -> (samples.size == wl.ops.size),
          "wall_s" -> (System.nanoTime() - t0) / 1e9, "gc_ms" -> (gcMs() - gc0),
          "samples" -> samples)
      }

    /** One whole pass, then further ops in pass order until `seconds`
      * have gone by: every op has a sample and the window overruns the
      * time by at most one op. */
    def window(name: String, firstPass: Int, seconds: Double): (JValue, Int) = {
      storage.reset()
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[JValue]
      var pass = firstPass
      def elapsed = (System.nanoTime() - t0) / 1e9
      tracer.span(name, "workload") {
        while (passes.isEmpty || elapsed < seconds) {
          passes += runPass(pass, verify = false, until = if (passes.isEmpty) None
            else Some(t0 + (seconds * 1e9).toLong))
          pass += 1
        }
      }
      (Json.obj("name" -> name, "wall_s" -> elapsed,
        "peak_storage_bytes" -> storage.peak, "passes" -> passes.toSeq), pass)
    }

    try {
      val setupRounds = (1 to inputs.size).map { r =>
        val t0 = System.nanoTime()
        val parts = wl.setup(r)
        ((System.nanoTime() - t0) / 1e9, parts)
      }
      val roundS = setupRounds.map(_._1).sorted
      val v0 = System.nanoTime()
      val verifyPass = runPass(0, verify = true)
      val verifyS = (System.nanoTime() - v0) / 1e9
      val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      storage.start()
      val windows = mutable.ArrayBuffer.empty[JValue]
      // The traced window comes first, so its first pass starts from the
      // same state in every run at a seed and its counts repeat exactly;
      // the untraced window after it gives the tracing overhead.
      var next = 1
      if (traced) {
        sc.addSparkListener(recorder.spark)
        spark.listenerManager.register(recorder.queries)
        spark.streams.addListener(recorder.streams)
        PerfbenchBus.drain(sc)
        recorder.take()
        tracer.enabled = true
        val (w, n) = window("traced", next, seconds)
        tracer.enabled = false
        windows += w
        next = n
      }
      windows += window("untraced", next, seconds)._1
      storage.stop()
      val checks = wl.finalChecks()
      val extra: Seq[(String, Any)] = wl match {
        case i: IngestWorkload => Seq("table_bytes_per_input_byte" -> i.tableBytesPerInputByte)
        case c: CatalogWorkload => Seq("oracle" -> c.oracle)
        case _ => Nil
      }
      val storageMaxMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
      Json.write(args("out"), Json.obj(
        Seq(
          "workload" -> workload,
          "provenance" -> Json.obj(
            "cpus" -> cpus, "master" -> sc.master,
            "spark_local_dir" -> sc.getConf.get("spark.local.dir"),
            "spark_version" -> spark.version,
            "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
            "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
            "storage_memory_mb" -> storageMaxMb,
            "graft_run_id" -> graft.queries.Harness.runId),
          "input_rows" -> wl.inputRows,
          "op_timeout_s" -> OpTimeoutS,
          "setup" -> Json.obj("jvm_session_s" -> jvmSessionS, "session_s" -> sessionS,
            "workload_setup_s" -> roundS(roundS.size / 2), "rounds" -> setupRounds.map { case (t, parts) => Json.obj(("s" -> t) +: parts: _*) },
            "verify_pass_s" -> verifyS, "jvm_to_first_op_s" -> firstOpS),
          "verify_pass" -> verifyPass,
          "windows" -> windows.toSeq,
          "checks" -> checks.map { case (n, e) => Json.obj("name" -> n, "ok" -> e.isEmpty, "error" -> e) },
          "spans" -> tracer.spans.toSeq.map(s => Json.obj("id" -> s.id, "trace" -> s.trace,
            "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
            "start_ns" -> s.start, "end_ns" -> s.end)),
          "self_time_s" -> tracer.selfTimeByLayer) ++ extra: _*))
    } finally {
      storage.stop()
      timer.shutdownNow()
      try graft.operators.CacheScope.release(spark) catch { case NonFatal(_) => () }
      spark.stop()
      Scratch.removeGraftScratch()
    }
  }
}

/** Polls the storage held by persisted and checkpointed RDDs (memory
  * plus disk) and keeps the peak; no listener is involved, so the
  * untraced run can report it. */
final class StorageSampler(sc: org.apache.spark.SparkContext) {
  @volatile private var running = false
  @volatile var peak = 0L
  private var thread: Thread = _

  def reset(): Unit = peak = 0L

  def start(): Unit = {
    running = true
    thread = new Thread(() => {
      while (running) {
        try {
          val used = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
          if (used > peak) peak = used
        } catch { case NonFatal(_) => () }
        Thread.sleep(50)
      }
    }, "perfbench-storage")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) { thread.join(); thread = null }
  }
}

/** graft's catalog queries keep scratch data under the system temp
  * directory, named with the JVM's run id; it is removed at exit. */
object Scratch {
  def removeGraftScratch(): Unit = {
    val id = graft.queries.Harness.runId
    Seq(System.getProperty("java.io.tmpdir"), "/tmp", "/dev/shm").distinct.map(new java.io.File(_))
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(id))
      .foreach(delete)
  }

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
