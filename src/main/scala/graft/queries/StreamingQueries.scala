package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{functions => F}
import graft.operators.CacheScope
import Tables.t

/** Streaming-executed inventory entries (G): each query REALLY runs
  * Structured Streaming — file source → stream transforms → memory sink
  * (Trigger.AvailableNow drains the backlog then stops) — and its result
  * is checked against the same DuckDB oracle as the batch twin. This is
  * the strongest form of the "streaming == batch semantics" claim.
  *
  * Scale notes: the file source is the bounded stand-in for Kafka; all
  * plans here are the incremental-execution versions (stateful agg /
  * dedup state in the state store, watermark-driven eviction covered in
  * StreamingSpec with late data).
  */
object StreamingQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def pd(c: Column): Column = c.cast("string").cast("double")

  private val nameCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Stage a driver table as a parquet DIRECTORY (the file streaming
    * source wants a directory it can list) with converted timestamps.
    * Written once per (sf, table) per JVM through [[Staged.stagedDir]]
    * — several streaming queries share the same staged input, and a
    * failed write marks nothing. */
  private def stage(s: SparkSession, d: String, table: String): String =
    Staged.stagedDir(
      Harness.staged(s"stream_${new java.io.File(d).getName}/$table")) {
      // 8 files, matching the state-partition cap: the driver tables
      // read as ONE input partition at these sizes, and a one-file dir
      // gives every micro-batch a SINGLE-TASK scan — the file source
      // parallelizes by file, so the staged layout sets the batch's
      // scan parallelism (at production scale the source is Kafka/many
      // files and this is moot)
      t(s, d, table).repartition(8)
    }

  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** File-stream source over a staged dir with the schema inferred ONCE
    * per (JVM, dir): the previous per-call `s.read.parquet(dir).schema`
    * re-listed the directory and re-read footers on EVERY query call —
    * with 3 timed bench runs across 30 G-queries, ~100 schema-infer
    * passes of pure scaffolding. The staged dirs are written once per
    * JVM and never mutated, so the cache cannot go stale. */
  private def stagedStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(
      schemaCache.computeIfAbsent(dir, _ => s.read.parquet(dir).schema))
      .parquet(dir)

  /** Pre-stage the streaming inputs (used by Bench's untimed warmup so
    * the timed region measures the stream execution, not scaffolding). */
  def prewarm(s: SparkSession, d: String): Unit = {
    stage(s, d, "events"); stage(s, d, "lineitem"); stage(s, d, "documents")
    stage(s, d, "orders")
    // Throwaway micro-drains over a 4-row frame: the FIRST streaming
    // query of a JVM pays ~2-4 s of classloading/JIT for the whole
    // micro-batch machinery (StreamExecution, state store providers,
    // flatMapGroupsWithState exec, RocksDB native lib for state v2) —
    // measured r10: an isolated G-suite run put that cost on whichever
    // queries sorted first (stream_anomaly 2.2 → 4.8 s, stream_asof
    // 1.8 → 7.0 s). One warmup per shape moves it to the untimed region.
    graft.sources.GraftSink.quietly("streaming prewarm") {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types._
      val sch = StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("event_id", LongType)))
      val rows = (1 to 4).map(i => Row(i.toLong % 2,
        java.sql.Timestamp.valueOf(s"2024-01-01 00:0$i:00"), i.toLong))
      val dir = Harness.scratch(s, "stream_warm")
      s.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), sch)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val src = stagedStream(s, dir)
      drain(src.where(F.col("event_id") > 0), "append")
      drain(src.withWatermark("ts", "1 minute")
        .groupBy(F.window(F.col("ts"), "1 minute")).count(), "complete")
      import s.implicits._
      drain(graft.streaming.StreamOps.sessionizeStream(
        src.select(F.col("user_id"), F.col("ts"))
          .as[graft.streaming.StreamOps.SessionInput],
        60000L, "1 minute").toDF(), "append")
      withConf(s, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        drain(graft.streaming.StreamOps.balanceStream(
          src.select(F.col("user_id"), F.col("ts"), F.col("event_id"),
            F.col("event_id").as("deltaMicro"))
            .as[graft.streaming.StreamOps.BalIn],
          60000L, "1 minute").toDF(), "append")
      }
    }
  }

  /** Stateful-query partition sizing (the G8 lesson, measured 8.2 s →
    * ~3 s at sf0.1): a streaming aggregate creates a state store PER
    * shuffle partition PER drain, and that per-store overhead dominates
    * when state is modest — size partitions to the state volume, not to
    * the session's scan parallelism. Restores the previous setting
    * after the body (the override binds at each query's START, so it
    * only affects streams launched inside). */
  private def withStatePartitions[T](
      s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Scoped session-conf override (binds at stream START, like
    * [[withStatePartitions]]). */
  private def withConf[T](s: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Per-drain state-store hygiene confs (r10, A/B'd with
    * `runMain graft.Bench <names>`): a 1–2 micro-batch AvailableNow drain never
    * benefits from the defaults tuned for long-lived streams —
    * maintenance (snapshot compaction) firing mid-drain contends with
    * the batch itself, and retaining 100 checkpoint versions is dead
    * weight for a checkpoint deleted milliseconds after the drain.
    * Deployment-scope settings, not semantics. */
  private def withDrainConfs[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.maintenanceInterval",
      "600s") {
      withConf(s, "spark.sql.streaming.minBatchesToRetain", "2")(body)
    }

  /** Drain a bounded stream (Trigger.AvailableNow) into the sink that
    * `sink` sets on `df`'s writer.
    *
    * Suite-wide state-partition cap (r8, from the r7 verdict's bench
    * cost item): the partition count binds at stream START, and every
    * extra shuffle partition is an extra state store instantiated,
    * checkpointed and committed PER micro-batch — profiled at sf0.1
    * a stateful drain drops ~0.3–0.9 s going 32 → 8 partitions with
    * identical results (re-measure per query with
    * `runMain graft.Bench <names>`). Queries that already
    * picked a tighter value via [[withStatePartitions]] keep it (the
    * cap takes the MIN with the surrounding setting); at production
    * scale state-partition count is a deployment choice, not a plan
    * property.
    *
    * The checkpoint is a fresh tmpfs scratch dir (r9): the offset/commit
    * WAL and state-store files fsync per micro-batch — ~100 ms/batch of
    * pure log IO on a disk-backed dir (`perfbench/run.py --trace 1`).
    * Nothing reads it after the drain, so it is freed here, also on
    * failure, or a query the bench retries would pile state-store files
    * up in RAM. Production points checkpointLocation at durable shared
    * storage — tmpfs only binds this bounded local harness. */
  private def runToEnd(df: DataFrame, mode: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val s = df.sparkSession
    val ckpt = Harness.scratch(s, "ckpt", tmpfs = true)
    // COMPLETE-mode drains skip the trailing no-data micro-batch: in
    // complete mode the sink always holds the last FULL result and the
    // watermark never evicts state, so an empty wrap-up batch re-emits
    // the same table at ~0.5-0.8 s of state-store/plan overhead
    // (measured per batch at sf0.1). APPEND-mode stateful queries KEEP it — it is what
    // emits their watermark-finalized rows.
    val noData = if (mode == "complete") "false" else "true"
    // suite cap 8 → 4 (r10): each shuffle partition is a state store
    // instantiated + committed per micro-batch, and no G-query's state
    // needs more than a handful of stores at bench SF — A/B'd with
    // `runMain graft.Bench` (tumbling 1.8 → 1.3 s, pii 1.15 → 0.6 s, suite
    // −15–25%). Production sizes this to state volume via deployment
    // conf, exactly like the previous 8.
    val q = withStatePartitions(s,
      math.min(s.conf.get("spark.sql.shuffle.partitions").toInt, 4)) {
      withDrainConfs(s) {
        withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", noData) {
          sink(df.writeStream.outputMode(mode)
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)).start()
        }
      }
    }
    try q.awaitTermination()
    finally Harness.deleteTree(java.nio.file.Paths.get(ckpt))
  }

  /** Run a bounded stream into a memory sink and return its content.
    * The memory sink registers the result as a temp view named after
    * the query, so the view is dropped at `CacheScope.release` — it
    * would otherwise hold every drained result in driver memory for the
    * life of the JVM. */
  private def drain(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_sink_${nameCounter.incrementAndGet()}"
    CacheScope.track(s, () => s.catalog.dropTempView(name))
    runToEnd(df, mode)(_.format("memory").queryName(name))
    s.table(name)
  }

  /** Drain a LARGE-output append stream through the parquet FILE sink
    * instead of the memory sink: the memory sink collects every result
    * row into driver memory single-threaded (profiled ~1 s of the
    * stream_validate floor at sf0.1 — 600 k validated rows), while the
    * file sink writes partitions in parallel and the result reads back
    * columnar. Append-mode only (the file sink's contract); also the
    * production shape — a validation stream lands on storage, not in a
    * driver table. */
  private def drainFiles(df: DataFrame): DataFrame = {
    val out = Harness.scratch(df.sparkSession, "stream_out")
    runToEnd(df, "append")(_.format("parquet").option("path", out))
    df.sparkSession.read.parquet(out)
  }

  // ------------------------------------------------------------------ G2
  /** Tumbling-window aggregate executed AS A STREAM (the batch
    * window_tumbling twin; same oracle). */
  private val streamTumbling = QueryDef(
    "stream_tumbling",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(
          F.count(F.lit(1)).as("n"),
          pd(F.sum(dec(F.col("value")))).as("sum_value"))
        .select(F.col("window.start").as("win_start"), F.col("event_type"),
          F.col("n"), F.col("sum_value"))
      drain(agg, "complete").orderBy("win_start", "event_type")
    },
    Some("""
      SELECT date_trunc('hour', ts) AS win_start, event_type,
             count(*) AS n,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  // ------------------------------------------------------------------ G1
  /** Filter-mode schema validation of a stream: the SAME declarative
    * validator plan as batch (stateless narrow transforms → append
    * mode), drained and compared to the batch oracle. */
  private val streamValidate = QueryDef(
    "stream_validate",
    (s, d) => {
      val dir = stage(s, d, "lineitem")
      val stream = stagedStream(s, dir)
      val valid = graft.streaming.StreamOps.validateStream(stream, Schemas.lineitem)
      // TOTAL order: (l_orderkey, l_linenumber) is NOT unique in the
      // synthetic lineitem (up to 4 rows per pair), and the driver's
      // compare is positional — before r10 the tie order held only
      // because both engines scanned the same single file in the same
      // order; the parallel staging/file-sink path surfaces ties, so
      // the sort key is the full remaining column list, identically in
      // the oracle
      drainFiles(valid).orderBy("l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
    },
    Some("""
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             l_shipdate
      FROM lineitem
      WHERE l_orderkey >= 0 AND l_quantity >= 1 AND l_quantity <= 45
        AND l_extendedprice > 0 AND l_discount >= 0 AND l_discount <= 0.05
        AND l_tax >= 0
        AND length(l_returnflag) BETWEEN 1 AND 1
        AND regexp_matches(l_returnflag, '^[ANR]$')
        AND l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        AND l_extendedprice / l_quantity <= 2000.0
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
               l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate"""))

  // ------------------------------------------------------------------ G3
  /** Stateful streaming exact-dedup: dropDuplicates state persists
    * across micro-batches, so the drained sink holds exactly one row per
    * (event_type, user_id); a batch count over it is order-independent
    * and equals DISTINCT on the source. (Bounded-backfill shape; the
    * watermark-bounded variant is exercised in StreamingSpec.) */
  private val streamDedup = QueryDef(
    "stream_dedup",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val first = stream.dropDuplicates(Seq("event_type", "user_id"))
      drain(first, "append")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n_users"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ------------------------------------------------------------------ G4
  /** Custom-state gap sessionization EXECUTED as a stream
    * (flatMapGroupsWithState + EventTimeTimeout) vs the batch
    * lag/cumsum sessionizer as the oracle.
    *
    * Only CLOSED sessions are emitted: a session closes when a later
    * event of the same user exceeds the 30-min gap, or when the final
    * watermark (max ts − 10 min) passes lastSeen + gap. Every session
    * ending > 45 min before max(ts) is therefore guaranteed emitted
    * (45 > 10 + 30 absorbs the ms-floor of the timeout clock), so BOTH
    * sides filter to that prefix — micro-exact, no boundary races. */
  private val streamSession = QueryDef(
    "stream_session",
    (s, d) => {
      import s.implicits._
      val dir = stage(s, d, "events")
      val batch = s.read.parquet(dir)
      val maxUs = batch.agg(F.max(F.unix_micros(F.col("ts")))).head().getLong(0)
      val cutoffUs = maxUs - 2700L * 1000000L // max(ts) − 45 min
      val stream = s.readStream.schema(batch.schema).parquet(dir)
      val in = stream.select(F.col("user_id").as("userId"), F.col("ts"))
        .as[graft.streaming.StreamOps.SessionInput]
      val sessions = graft.streaming.StreamOps
        .sessionizeStream(in, gapMs = 1800L * 1000, watermarkDelay = "10 minutes")
      drain(sessions.toDF(), "append")
        .filter(F.unix_micros(F.col("sessionEnd")) < cutoffUs)
        .select(F.col("userId").as("user_id"),
          F.col("sessionStart").as("session_start"),
          F.col("sessionEnd").as("session_end"),
          F.col("nEvents").as("n_events"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sid
      HAVING date_diff('microsecond', max(ts), (SELECT max(ts) FROM events))
             > 2700000000
      ORDER BY user_id, session_start"""))

  // ------------------------------------------------------------------ G5
  /** The corpus quality gate EXECUTED as a stream: [[graft.operators
    * .Curation.qualityRules]] is a pure narrow map, so the identical
    * declarative plan runs incrementally (append mode, no state) — new
    * crawl shards stream through the same gate batch uses, checked
    * against the same oracle. */
  private val streamQuality = QueryDef(
    "stream_quality",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val gated = graft.operators.Curation.qualityRules(stream, "doc_id", "text")
      drain(gated, "append").orderBy("doc_id")
    },
    Some(CurationQueries.qualityRulesSql))

  // ------------------------------------------------------------------ G6
  /** The PII scrub EXECUTED as a stream: [[graft.operators.Privacy
    * .redactPii]] is stateless and narrow, so the identical plan runs
    * incrementally over streamed shards (append mode) against the batch
    * twin's oracle — the shape of a scrub-on-ingest pipeline stage. */
  private val streamPii = QueryDef(
    "stream_pii",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val scrubbed = graft.operators.Privacy.redactPii(
        stream.select(F.col("doc_id"), PrepQueries.augText.as("text")),
        "doc_id", "text")
      drain(scrubbed, "append").orderBy("doc_id")
    },
    Some(PrepQueries.piiRedactSql))

  // ------------------------------------------------------------------ G7
  /** Dedup-on-ingest EXECUTED as a stream-static anti-join: streamed
    * document shards drop everything whose fingerprint already exists
    * in a STATIC store frame (the hash60(id)%10!=0 slice, as in the
    * batch `dedup_incremental`). Stateless per micro-batch — the store
    * side is a static relation the planner broadcasts or rebuilds per
    * batch; no stream state grows. Emits the store-absent docs
    * (within-batch winners and their duplicates alike — the stateful
    * winner election is `stream_dedup`'s dropDuplicates territory). */
  private val streamDedupIncr = QueryDef(
    "stream_dedup_incremental",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val static = s.read.parquet(dir)
      val isBatch = F.pmod(graft.operators.Hashing.hash60(
        F.col("doc_id").cast("string")), F.lit(10L)) === 0L
      val store = static.where(!isBatch)
        .select(graft.operators.Dedup.fingerprint(F.col("text")).as("fingerprint"))
        .distinct()
      val stream = s.readStream.schema(static.schema).parquet(dir)
      val incoming = stream.where(isBatch)
        .select(F.col("doc_id"),
          graft.operators.Dedup.fingerprint(F.col("text")).as("fingerprint"))
      val fresh = incoming.join(store, Seq("fingerprint"), "left_anti")
      drain(fresh, "append")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                 regexp_split_to_array(lower(text), ' +'))), ' ')) AS fingerprint,
               ${graft.operators.Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")}
                 % 10 = 0 AS is_batch
        FROM documents)
      SELECT doc_id, fingerprint FROM f
      WHERE is_batch AND fingerprint NOT IN (
        SELECT fingerprint FROM f WHERE NOT is_batch)
      ORDER BY doc_id"""))

  // ------------------------------------------------------------------ G8
  /** Stream-STREAM inner join with an event-time range condition: the
    * click stream joins the purchase stream on user within a 30-minute
    * attribution window. Both sides are watermarked, so Spark's
    * stream-stream join STATE IS BOUNDED — buffered rows are evicted
    * once the watermark passes the range condition's reach (without the
    * range bound + watermarks, each side's state grows forever). The
    * batch oracle is the same interval join over the static table. */
  private val streamJoin = QueryDef(
    "stream_join",
    (s, d) => {
      val dir = stage(s, d, "events")
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      // A stream-stream join maintains FOUR state stores per partition;
      // state partitioning is fixed at the query's first run, and the
      // per-partition store overhead dominates when state is modest —
      // size it to the state volume, not the session's scan parallelism
      // (measured 8.2 s → ~3 s at sf0.1 going 32 → 8 with
      // `runMain graft.Bench`). Restored after the drain.
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val clicks = s.readStream.schema(schema).parquet(dir)
          .where(F.col("event_type") === "click")
          .select(F.col("event_id").as("click_id"), F.col("user_id"),
            F.col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = s.readStream.schema(schema).parquet(dir)
          .where(F.col("event_type") === "purchase")
          .select(F.col("event_id").as("purchase_id"),
            F.col("user_id").as("_p_user"), F.col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          F.col("user_id") === F.col("_p_user") &&
            F.col("purchase_ts") >= F.col("click_ts") &&
            F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
        drain(joined, "append")
          .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
          .orderBy("user_id", "click_id", "purchase_id")
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    },
    Some("""
      SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY c.user_id, click_id, purchase_id"""))

  // ------------------------------------------------------------------ G9
  /** Stream-stream LEFT OUTER join: unmatched clicks emit their null
    * row only when the watermark passes the point where a purchase
    * could still arrive — the state-EVICTION semantics inner joins
    * never exercise (the AvailableNow finalizing batch emits them).
    *
    * Null emission near the stream's end depends on where the final
    * watermark stops — and with two watermarked sources that is the
    * MIN of the per-source watermarks (multipleWatermarkPolicy=min):
    * min(max click_ts, max purchase_ts) − 1 h. Both sides therefore
    * filter to clicks > 2 h before that min-max (1 h delay + 30 min
    * window + margin — the same micro-exactness discipline as
    * `stream_session`): every retained click's eviction point is
    * safely behind the final watermark, making the stream == the batch
    * LEFT JOIN exactly. */
  private val streamJoinOuter = QueryDef(
    "stream_join_outer",
    (s, d) => {
      val dir = stage(s, d, "events")
      val batch = s.read.parquet(dir)
      // one max per side; if EITHER side is absent the global watermark
      // never advances (no eviction, no null rows), so both engines must
      // emit zero rows — cutoff below every timestamp here, NULL cutoff
      // in the oracle (comparison with NULL selects nothing)
      val maxRows = batch
        .where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(F.max(F.unix_micros(F.col("ts"))).as("m"))
        .collect()
      val cutoffUs =
        if (maxRows.length < 2) Long.MinValue
        else maxRows.map(_.getLong(1)).min - 7200L * 1000000L // min-max − 2 h
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8") // see stream_join
      try {
        val clicks = s.readStream.schema(batch.schema).parquet(dir)
          .where(F.col("event_type") === "click")
          .select(F.col("event_id").as("click_id"), F.col("user_id"),
            F.col("ts").as("click_ts"))
          .withWatermark("click_ts", "1 hour")
        val purchases = s.readStream.schema(batch.schema).parquet(dir)
          .where(F.col("event_type") === "purchase")
          .select(F.col("event_id").as("purchase_id"),
            F.col("user_id").as("_p_user"), F.col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "1 hour")
        val joined = clicks.join(purchases,
          F.col("user_id") === F.col("_p_user") &&
            F.col("purchase_ts") >= F.col("click_ts") &&
            F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"),
          "left_outer")
        drain(joined, "append")
          .where(F.unix_micros(F.col("click_ts")) < cutoffUs)
          .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
          .orderBy("user_id", "click_id", "purchase_id")
      } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    },
    Some("""
      SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
             p.event_id AS purchase_id, p.ts AS purchase_ts
      FROM events c LEFT JOIN events p
        ON c.user_id = p.user_id AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click'
        AND c.ts < (SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
                                ELSE least(mc, mp) END
                    FROM (SELECT
                      (SELECT max(ts) FROM events
                       WHERE event_type = 'click') AS mc,
                      (SELECT max(ts) FROM events
                       WHERE event_type = 'purchase') AS mp))
            - INTERVAL 2 HOUR
      ORDER BY c.user_id, click_id, purchase_id NULLS FIRST"""))

  // ----------------------------------------------------------------- G10
  /** Incremental store maintenance via foreachBatch — the upsert-sink
    * pattern (vanilla Spark has no MERGE-capable sink; foreachBatch IS
    * the production answer): each micro-batch's per-user partial
    * aggregate merges into a versioned parquet store, so the store
    * always holds exact running totals + the latest event per user.
    * `maxFilesPerTrigger` forces SEVERAL micro-batches over the staged
    * input — the merge really runs incrementally, not as one batch in
    * disguise. Running sums stay exact DECIMAL across merges (double
    * accumulation would drift with batch boundaries); the final
    * store == the batch aggregate, hash-checked. */
  private val streamUpsert = QueryDef(
    "stream_upsert",
    (s, d) => {
      val store = Harness.scratch(s, "upsert")
      // dedicated MULTI-FILE staging (the shared staged dir is one file,
      // which collapses AvailableNow into a single batch): 12 files at
      // 3 per trigger → 4 real micro-batches, 3 real merges
      val dir = Staged.stagedDir(
        Harness.staged(s"upsert_${new java.io.File(d).getName}")) {
        t(s, d, "events").repartition(12)
      }
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "3").parquet(dir)
      var prev: Option[String] = None
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val agg = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).as("n_events"),
            F.sum(dec(F.col("value"))).as("sum_value"),
            F.max(F.struct(F.col("ts"), F.col("event_id"))).as("_last"))
          val merged = prev match {
            case Some(p) =>
              batch.sparkSession.read.parquet(p).unionByName(agg)
                .groupBy("user_id").agg(
                  F.sum("n_events").as("n_events"),
                  F.sum("sum_value").as("sum_value"),
                  F.max("_last").as("_last"))
            case None => agg
          }
          val out = s"$store/v$id"
          merged.write.mode("overwrite").parquet(out)
          prev = Some(out)
      }.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(prev.get)
        .select(F.col("user_id"), F.col("n_events"),
          pd(F.col("sum_value")).as("sum_value"),
          F.col("_last.event_id").as("last_event_id"),
          F.col("_last.ts").as("last_ts"))
        .orderBy("user_id")
    },
    Some("""
      WITH agg AS (
        SELECT user_id, count(*) AS n_events,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                    AS DOUBLE) AS sum_value
        FROM events GROUP BY 1),
      l AS (
        SELECT user_id, event_id AS last_event_id, ts AS last_ts FROM (
          SELECT user_id, event_id, ts,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1)
      SELECT user_id, n_events, sum_value, last_event_id, last_ts
      FROM agg JOIN l USING (user_id) ORDER BY user_id"""))

  // ----------------------------------------------------------------- G11
  /** Watermark-BOUNDED streaming dedup: `dropDuplicatesWithinWatermark`
    * holds each key only until the watermark passes its event time +
    * delay — the production shape for infinite streams, where G3's
    * plain dropDuplicates state grows forever. Keys project AFTER the
    * dedup (the emitted row is the first arrival, whose non-key columns
    * are order-dependent; the key set is not). The 30-day delay exceeds
    * the bounded test span so no state evicts mid-drain and the result
    * is exactly DISTINCT; the eviction path (re-emission of a key whose
    * state aged out) is exercised in `StreamingSpec2`. */
  private val streamDedupWatermark = QueryDef(
    "stream_dedup_watermark",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val dd = stream
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
      drain(dd, "append").orderBy("user_id", "event_type")
    },
    Some("""
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type"""))

  // ----------------------------------------------------------------- G12
  /** Count-min sketch built AS A STREAM: CMS cells are plain sums, so
    * the sketch is mergeable across micro-batches for free — one
    * streaming groupBy over exploded (row, bucket) cells equals the
    * batch sketch exactly (complete mode; cell count is bounded at
    * depth×width, so the state is O(sketch), never O(stream)). The
    * streaming face of E37: a live heavy-hitters sketch over an
    * ingest firehose with 1024 longs of state. */
  private val streamCms = QueryDef(
    "stream_cms",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val cells = stream
        .select(F.explode(graft.operators.TextOps.tokens(F.col("text")))
          .as("word"))
        .where(F.length(F.col("word")) > 0)
        .select(F.explode(F.array((0 until 4).map(i =>
          F.struct(F.lit(i).as("r"),
            graft.operators.Sketch.cmsBucket(F.col("word"), i, 256).as("b"))): _*))
          .as("_c"))
        .groupBy(F.col("_c.r").as("hrow"), F.col("_c.b").as("bucket"))
        .agg(F.count(F.lit(1)).as("total"))
      drain(cells, "complete").orderBy("hrow", "bucket")
    },
    Some(s"""
      WITH tk AS (SELECT regexp_split_to_array(lower(text), ' +') AS t
                  FROM documents),
      w AS (SELECT unnest(t) AS word FROM tk),
      cells AS (SELECT r,
                       ${graft.operators.Hashing.hash60Sql(
                         "'cms' || CAST(r AS VARCHAR) || ':' || word")} % 256
                         AS b
                FROM w, unnest([0, 1, 2, 3]) AS u(r)
                WHERE length(word) > 0)
      SELECT r AS hrow, b AS bucket, CAST(count(*) AS BIGINT) AS total
      FROM cells GROUP BY 1, 2 ORDER BY hrow, bucket"""))

  // ----------------------------------------------------------------- G13
  /** Live heavy-hitters dashboard: streaming word counts with a sorted
    * top-20 INSIDE the streaming query (complete mode supports sort +
    * limit — each micro-batch re-emits the current leaderboard, the
    * live complement of G12's raw sketch). Deterministic (freq DESC,
    * word ASC) tie-break, same as the batch vocab ordering. */
  private val streamTopk = QueryDef(
    "stream_topk",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val top = stream
        .select(F.explode(graft.operators.TextOps.tokens(F.col("text")))
          .as("word"))
        .where(F.length(F.col("word")) > 0)
        .groupBy("word").agg(F.count(F.lit(1)).as("freq"))
        .orderBy(F.desc("freq"), F.asc("word")).limit(20)
      drain(top, "complete").orderBy(F.desc("freq"), F.asc("word"))
    },
    Some("""
      WITH tk AS (SELECT regexp_split_to_array(lower(text), ' +') AS t
                  FROM documents),
      w AS (SELECT unnest(t) AS word FROM tk)
      SELECT word, count(*) AS freq FROM w WHERE length(word) > 0
      GROUP BY 1 ORDER BY freq DESC, word LIMIT 20"""))

  // ----------------------------------------------------------------- G14
  /** Streaming robust-anomaly gate: per-segment (median, MAD)
    * thresholds computed BATCH-side ([[graft.operators.Warehouse
    * .madThresholds]]) and broadcast as a static frame; the order
    * stream joins them statelessly and flags |price − med| > 2·MAD in
    * append mode (k=2 because the uniform-ish synthetic price
    * distribution has short tails — 3·MAD flags nothing at any SF) —
    * the production shape (thresholds refreshed
    * periodically, the stream scored against the last snapshot) and
    * the streaming twin of C37 `anomaly_mad`'s per-row flags. */
  private val streamAnomaly = QueryDef(
    "stream_anomaly",
    (s, d) => {
      val dir = stage(s, d, "orders")
      val cust = t(s, d, "customer")
      val batch = s.read.parquet(dir)
      val joined = batch
        .join(F.broadcast(cust), F.col("o_custkey") === F.col("c_custkey"))
        .select(F.col("c_mktsegment").as("segment"),
          F.col("o_totalprice").as("price"))
      val th = graft.operators.Warehouse.madThresholds(
        joined, "segment", "price")
      val stream = s.readStream.schema(batch.schema).parquet(dir)
      val scored = stream
        .join(F.broadcast(cust), F.col("o_custkey") === F.col("c_custkey"))
        .select(F.col("o_orderkey"), F.col("c_mktsegment").as("segment"),
          F.col("o_totalprice").as("price"))
        .join(F.broadcast(th), Seq("segment"))
        .withColumn("adev", F.abs(F.col("price") - F.col("_med")))
        .where(F.col("adev") > F.lit(2.0) * F.col("_mad"))
        .select(F.col("o_orderkey"), F.col("segment"), F.col("price"),
          F.round(F.col("adev"), 6).as("adev"))
      drain(scored, "append").orderBy("o_orderkey")
    },
    Some("""
      WITH j AS (SELECT o_orderkey, c_mktsegment AS segment,
                        o_totalprice AS price
                 FROM orders JOIN customer ON o_custkey = c_custkey),
      med AS (SELECT segment, quantile_cont(price, 0.5) AS m
              FROM j GROUP BY 1),
      dev AS (SELECT o_orderkey, j.segment, price, m,
                     abs(price - m) AS adev
              FROM j JOIN med USING (segment)),
      mad AS (SELECT segment, quantile_cont(adev, 0.5) AS dd
              FROM dev GROUP BY 1)
      SELECT o_orderkey, dev.segment, price, round(adev, 6) AS adev
      FROM dev JOIN mad USING (segment)
      WHERE adev > 2.0 * dd
      ORDER BY o_orderkey"""))

  // ----------------------------------------------------------------- G15
  /** Ordered-replay transition counts from the event stream
    * ([[graft.streaming.StreamOps.transitionsStream]]): per-user events
    * buffer under flatMapGroupsWithState until the key's flush timeout
    * (last event + 30 min) passes the watermark, then replay in exact
    * (ts, tie) order and emit consecutive (src → dst) pairs — the
    * arrival order the file source provides is NOT event order, which
    * is the whole point. Determinism discipline = stream_session's:
    * keep only users whose last event is ≥ 45 min before the stream's
    * end (strictly inside the 40-min flush horizon, so they have
    * certainly flushed in full); the oracle applies the identical
    * cutoff to the batch lead() formulation (C38's shape). */
  private val streamTransitions = QueryDef(
    "stream_transitions",
    (s, d) => {
      import s.implicits._
      val dir = stage(s, d, "events")
      val batch = s.read.parquet(dir)
      val maxUs = batch.agg(F.max(F.unix_micros(F.col("ts")))).head().getLong(0)
      val cutoffUs = maxUs - 2700L * 1000000L // max(ts) − 45 min
      val flushed = batch.groupBy("user_id")
        .agg(F.max(F.unix_micros(F.col("ts"))).as("umax"))
        .where(F.col("umax") < cutoffUs).select("user_id")
      val stream = s.readStream.schema(batch.schema).parquet(dir)
      val in = stream.select(F.col("user_id").as("userId"), F.col("ts"),
        F.col("event_id").as("eventId"), F.col("event_type").as("eventType"))
        .as[graft.streaming.StreamOps.TransIn]
      val out = graft.streaming.StreamOps
        .transitionsStream(in, flushDelayMs = 1800L * 1000)
      drain(out.toDF(), "append")
        .withColumnRenamed("userId", "user_id")
        .join(F.broadcast(flushed), Seq("user_id"))
        .groupBy("src", "dst").agg(F.count(F.lit(1)).as("n"))
        .orderBy("src", "dst")
    },
    Some("""
      WITH g AS (SELECT max(ts) AS gmax FROM events),
      f AS (SELECT user_id FROM events, g GROUP BY user_id, gmax
            HAVING max(ts) < gmax - INTERVAL 45 MINUTE),
      p AS (SELECT e.user_id, e.event_type AS a,
                   lead(e.event_type) OVER (PARTITION BY e.user_id
                                            ORDER BY e.ts, e.event_id) AS b
            FROM events e JOIN f USING (user_id))
      SELECT a AS src, b AS dst, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE b IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ----------------------------------------------------------------- G2c
  /** Hopping-window aggregate executed AS A STREAM (the batch
    * window_hopping twin; same oracle): each event lands in two
    * overlapping 1-hour windows sliding by 30 minutes. Complete mode —
    * the watermark bounds state for the real continuous case, the
    * AvailableNow drain makes the result comparable to batch. */
  private val streamHopping = QueryDef(
    "stream_hopping",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes"), F.col("event_type"))
        .agg(
          F.count(F.lit(1)).as("n"),
          pd(F.sum(dec(F.col("value")))).as("sum_value"))
        .select(F.col("window.start").as("win_start"), F.col("event_type"),
          F.col("n"), F.col("sum_value"))
      drain(agg, "complete").orderBy("win_start", "event_type")
    },
    Some("""
      SELECT ws AS win_start, event_type, count(*) AS n,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM (SELECT event_type, value,
              unnest([time_bucket(INTERVAL '30 minutes', ts),
                      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
            FROM events)
      GROUP BY ws, event_type ORDER BY win_start, event_type"""))

  // ----------------------------------------------------------------- G17
  /** EWMA smoothing with the HEAVY stage streamed: the corpus → day-grid
    * collapse (the only data-sized aggregation) executes as a
    * watermarked tumbling-window stream; the metadata-sized ordered
    * fold then runs on the drained grid via the SAME
    * [[graft.operators.SeriesOps.ewmaFold]] as the batch twin (E51) —
    * the right split for an inherently ordered recursion: the stream
    * aggregates, the fold runs where order is total. In a real
    * continuous deployment the fold re-runs per trigger on the updated
    * (calendar-bounded) grid — the fold input never scales with the
    * stream, only with days. Same oracle as `ewma_smooth`. */
  private val streamEwma = QueryDef(
    "stream_ewma",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(F.window(F.col("ts"), "1 day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("cnt"))
        .select(F.col("event_type"),
          F.to_date(F.col("window.start")).as("day"), F.col("cnt"))
      val grid = drain(agg, "complete")
      graft.operators.SeriesOps.ewmaFold(grid, "event_type", "day", "cnt")
        .orderBy("event_type", "day")
    },
    Some("""
      WITH RECURSIVE dc AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, day, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM dc),
      r AS (
        SELECT event_type, rn, day, cnt, cnt AS ewma
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.event_type, s.rn, s.day, s.cnt,
               CAST((3 * r.ewma + s.cnt) // 4 AS BIGINT)
        FROM r JOIN seq s
          ON s.event_type = r.event_type AND s.rn = r.rn + 1)
      SELECT event_type, day, cnt, CAST(ewma AS BIGINT) AS ewma
      FROM r ORDER BY event_type, day"""))

  // ----------------------------------------------------------------- G18
  /** The E53 curation funnel AS A STREAM: stage flags (language,
    * quality) are pure per-row functions of the text, and identical
    * texts have IDENTICAL flags — so streaming `dropDuplicates` on
    * md5(text) yields the same stage counts as batch's min-doc-id
    * winner even though WHICH duplicate survives is arrival-dependent
    * (the survivor-invariance that makes this twin exact). Two drains:
    * a total-count aggregate and the dedup'd flag-count aggregate; the
    * 3 funnel rows assemble from 2 one-row results. Same oracle as
    * `pipeline_funnel`. */
  private val streamFunnel = QueryDef(
    "stream_funnel",
    (s, d) => withStatePartitions(s, 4) {
      val dir = stage(s, d, "documents")
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      val cols = graft.operators.TextOps.qualityColumns(F.col("text")).toMap
      val total = drain(
        s.readStream.schema(schema).parquet(dir)
          .groupBy().agg(F.count(F.lit(1)).as("c0")), "complete")
      val flags = drain(
        s.readStream.schema(schema).parquet(dir)
          .withColumn("_th", F.md5(F.col("text")))
          .dropDuplicates("_th")
          .select(
            F.when(graft.operators.TextOps.langId(F.col("text")) === "en", 1L)
              .otherwise(0L).as("lang_ok"),
            F.when(cols("quality") >= 0.2, 1L).otherwise(0L).as("q_ok"))
          .groupBy().agg(
            F.count(F.lit(1)).as("c1"),
            F.sum("lang_ok").as("c2"),
            F.sum(F.expr("lang_ok * q_ok")).as("c3")), "complete")
      total.crossJoin(flags)
        .selectExpr(
          """stack(3,
               'a_dedup_exact', c0, c1,
               'b_lang_en',     c1, c2,
               'c_quality_02',  c2, c3) AS (stage, n_in, n_out)""")
        .withColumn("n_dropped", F.expr("n_in - n_out"))
        .orderBy("stage")
    },
    Some(PipelineQueries.pipelineFunnelOracleSql))

  // ----------------------------------------------------------------- G19
  /** The C57 time-bounded ordered funnel AS A STREAM, by SEQUENTIAL
    * REFINEMENT: each stage's timestamps drain as a complete-mode
    * streaming aggregate, then become the STATIC side of the next
    * stage's stream-static join — the production "periodically
    * refreshed thresholds" shape (G14's discipline applied to a
    * sequential dependency). Every stage is a min over a filtered set,
    * so the result is arrival-order-independent and hash-matches the
    * batch twin exactly. State per drain is one timestamp per user.
    * Same oracle as `funnel_window`. */
  private val streamFunnelWindow = QueryDef(
    "stream_funnel_window",
    (s, d) => withStatePartitions(s, 8) {
      val dir = stage(s, d, "events")
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      def ev() = s.readStream.schema(schema).parquet(dir)
      val hour = F.expr("INTERVAL 1 HOUR")
      // one drain doubles as the user spine AND stage 1: the per-user
      // min is conditional, so non-viewers surface with a null t_view
      // (a separate spine drain measured +1.5 s of pure restart cost)
      val t1 = drain(ev().groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") === "view", F.col("ts")))
          .as("t_view")), "complete")
      val t2 = drain(ev().where(F.col("event_type") === "click")
        .join(t1.where(F.col("t_view").isNotNull), "user_id")
        .where(F.col("ts") > F.col("t_view") &&
          F.col("ts") <= F.col("t_view") + hour)
        .groupBy("user_id")
        .agg(F.min("ts").as("t_click"), F.min("t_view").as("_tv")),
        "complete")
      val t3 = drain(ev().where(F.col("event_type") === "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t_click") &&
          F.col("ts") <= F.col("_tv") + hour)
        .groupBy("user_id").agg(F.min("ts").as("t_purchase")), "complete")
      t1
        .join(t2.select("user_id", "t_click"), Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .withColumn("stage", F.expr(
          """CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                       WHEN t_click IS NOT NULL THEN 2
                       WHEN t_view IS NOT NULL THEN 1
                       ELSE 0 END AS BIGINT)"""))
        .orderBy("user_id")
    },
    Some(TrendQueries.funnelWindowOracleSql))

  // ----------------------------------------------------------------- G20
  /** The C58 bitmap retention AS A STREAM: the per-user packed activity
    * mask is a `bit_or` — commutative and idempotent, so the
    * complete-mode streaming aggregate lands on the SAME mask whatever
    * the arrival order (the strongest survivor-invariance in the G
    * family: not just order-independent counts, order-independent
    * STATE). Two drains by sequential refinement (G19's shape): the
    * per-user first day drains first, then anchors the stream-static
    * join that offsets each event into its mask bit. One BIGINT of
    * state per user in the store; the 63-row curve assembles batch-side
    * from the drained masks. Same oracle as `bitmap_retention`. */
  private val streamRetention = QueryDef(
    "stream_retention",
    (s, d) => withStatePartitions(s, 8) {
      val dir = stage(s, d, "events")
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      def ev() = s.readStream.schema(schema).parquet(dir)
        .select(F.col("user_id"), F.to_date(F.col("ts")).as("day"))
      val first = drain(
        ev().groupBy("user_id").agg(F.min("day").as("d0")), "complete")
      val masks = drain(
        ev().join(first, "user_id")
          .select(F.col("user_id"),
            F.datediff(F.col("day"), F.col("d0")).as("off"))
          .where(F.col("off") < 63)
          .select(F.col("user_id"),
            F.expr("shiftleft(1L, CAST(off AS INT))").as("bit"))
          .groupBy("user_id").agg(F.expr("bit_or(bit)").as("mask")),
        "complete")
      RetentionQueries.retentionFromMasks(s, masks)
    },
    Some(RetentionQueries.bitmapRetentionOracleSql))

  // ----------------------------------------------------------------- G21
  /** The E14 benchmark-contamination screen AS A STREAM — the shape a
    * live ingest pipeline actually runs: the benchmark's distinct
    * shingle set is STATIC (eval suites are MBs against a corpus of
    * TBs) and broadcast into a stream-static left join, while corpus
    * docs shingle statelessly as they arrive ([[graft.operators.TextOps
    * .shingleDocs]] is narrow: array_distinct before explode, no
    * shuffle). Per-doc hit counts are a complete-mode aggregate keyed
    * on doc_id — order-independent because every shingle row of a doc
    * carries the same flags wherever it lands. Same oracle as
    * `contamination`. */
  private val streamContamination = QueryDef(
    "stream_contamination",
    (s, d) => withStatePartitions(s, 8) {
      val dir = stage(s, d, "documents")
      val schema = schemaCache.computeIfAbsent(dir,
        _ => s.read.parquet(dir).schema)
      val bench = graft.operators.TextOps.shingleDocs(
        s.read.parquet(dir).where(F.col("source") === "src0"),
        "doc_id", "text", 3)
        .select("shingle").distinct().withColumn("_hit", F.lit(1L))
      val grams = graft.operators.TextOps.shingleDocs(
        s.readStream.schema(schema).parquet(dir)
          .where(F.col("source") =!= "src0"),
        "doc_id", "text", 3)
      val agg = grams.join(F.broadcast(bench), Seq("shingle"), "left")
        .groupBy("doc_id").agg(
          F.count(F.lit(1)).as("n_grams"),
          F.sum(F.coalesce(F.col("_hit"), F.lit(0L))).as("n_hit"))
      drain(agg, "complete")
        .select(F.col("doc_id"), F.col("n_grams"), F.col("n_hit"),
          F.round(F.col("n_hit").cast("double") / F.col("n_grams"), 6)
            .as("contam_frac"),
          F.when(F.col("n_hit").cast("double") / F.col("n_grams") >= 0.5, 1L)
            .otherwise(0L).as("contaminated"))
        .orderBy("doc_id")
    },
    Some(CurationQueries.contaminationOracleSql))

  // ----------------------------------------------------------------- G21
  /** Deterministic hash sampling ON INGEST — E6's md5-bucket sample as
    * a stateless streamed filter (the shape every 100 TB ingest uses to
    * peel off a fixed, reproducible fraction for eval/monitoring while
    * the full stream flows on). Stateless append mode: no watermark, no
    * state store — the bucket decision is a pure per-row expression, so
    * the sample is IDENTICAL whatever the micro-batch boundaries, which
    * is the whole point of hashing instead of rand(). Same oracle shape
    * as the batch sample_hash. */
  private val streamSample = QueryDef(
    "stream_sample",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val h = graft.operators.Hashing.hash60(F.col("doc_id").cast("string"))
      val sampled = stream
        .select(F.col("doc_id"), F.col("lang"), F.col("source"),
          (h % 20).as("bucket"))
        .where(F.col("bucket") === 0)
      drain(sampled, "append").orderBy("doc_id")
    },
    Some {
      val h = graft.operators.Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, source, CAST($h % 20 AS BIGINT) AS bucket
         |FROM documents WHERE $h % 20 = 0 ORDER BY doc_id""".stripMargin
    })

  // ----------------------------------------------------------------- G23
  /** Streaming PSI drift monitor — the C45 (drift_psi) production twin:
    * reference decile bounds are computed BATCH-side from the reference
    * cohort (even event_ids — the frozen "training" distribution; in
    * production this 9-number artifact ships with the model), then the
    * LIVE cohort (odd event_ids) streams through a stateless bin lookup
    * (a 9-element broadcast literal — no shuffle before the 10-group
    * count), and the PSI terms close over the ≤10-row drained frame.
    * Same integer-share + single-log-per-bin discipline as C45. */
  private val streamPsi = QueryDef(
    "stream_psi",
    (s, d) => {
      val dir = stage(s, d, "events")
      val ref = s.read.parquet(dir).where(F.expr("event_id % 2 = 0"))
        .select(F.col("value"), F.col("event_id"))
      // the 9 bound values are a model artifact: computed once, tiny
      // (the collect is 9 doubles) — ranked over the REFERENCE cohort
      // by the DISTRIBUTED exact rank, same discipline as C45; no
      // single-partition window even on the batch side
      val nRef = ref.count()
      val bounds = graft.operators.DistRank
        .globalRowNumber(ref, "rn", F.col("value"), F.col("event_id"))
        .where(F.expr(s"array_contains(transform(sequence(1, 9), " +
          s"k -> (${nRef}L * k) div 10), rn)"))
        .select("value")
        .orderBy("value").collect().map(_.getDouble(0))
      val boundsCol = F.array(bounds.map(F.lit(_)): _*)
      val stream = stagedStream(s, dir)
      val liveCounts = stream
        .where(F.expr("event_id % 2 = 1"))
        .select(F.expr("size(filter(" +
          s"array(${bounds.mkString(",")}), b -> value > b))")
          .cast("long").as("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).as("n_live"))
      val live = drain(liveCounts, "complete")
      val refCounts = ref
        .select(F.expr("size(filter(" +
          s"array(${bounds.mkString(",")}), b -> value > b))")
          .cast("long").as("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).as("n_ref"))
      val joined = refCounts.join(live, Seq("bin"), "full_outer")
        .select(F.col("bin"),
          F.coalesce(F.col("n_ref"), F.lit(0L)).as("n_ref"),
          F.coalesce(F.col("n_live"), F.lit(0L)).as("n_live"))
      val totals = joined.agg(F.sum("n_ref").cast("long").as("ta"),
        F.sum("n_live").cast("long").as("tb"))
      joined.crossJoin(F.broadcast(totals))
        .select(F.col("bin"), F.col("n_ref"), F.col("n_live"),
          F.expr("n_ref * 1000000L div ta").as("share_ref_micro"),
          F.expr("n_live * 1000000L div tb").as("share_live_micro"),
          F.when(F.col("n_ref") > 0 && F.col("n_live") > 0,
            F.round((F.col("n_ref").cast("double") / F.col("ta") -
                F.col("n_live").cast("double") / F.col("tb")) *
              F.log(F.col("n_ref").cast("double") * F.col("tb") /
                (F.col("n_live").cast("double") * F.col("ta"))), 6))
            .as("psi_term"))
        .orderBy("bin")
    },
    Some("""
      WITH ref AS (SELECT value, event_id FROM events
                   WHERE event_id % 2 = 0),
      na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ref),
      r AS (SELECT value,
                   row_number() OVER (ORDER BY value, event_id) AS rn
            FROM ref),
      b AS (SELECT list_sort(list(value)) AS bounds FROM r, na
            WHERE list_contains(
              list_transform(range(1, 10), k -> (n * k) // 10), rn)),
      binned AS (
        SELECT event_id % 2 = 0 AS is_ref,
               CAST(len(list_filter(bounds, x -> value > x)) AS BIGINT)
                 AS bin
        FROM events, b),
      c AS (SELECT bin,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_ref,
                   CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_live
            FROM binned GROUP BY bin),
      tt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS ta,
                    CAST(sum(n_live) AS BIGINT) AS tb FROM c)
      SELECT bin, n_ref, n_live,
             CAST(n_ref * 1000000 // ta AS BIGINT) AS share_ref_micro,
             CAST(n_live * 1000000 // tb AS BIGINT) AS share_live_micro,
             CASE WHEN n_ref > 0 AND n_live > 0 THEN
               round((CAST(n_ref AS DOUBLE) / ta -
                      CAST(n_live AS DOUBLE) / tb) *
                     ln(CAST(n_ref AS DOUBLE) * tb /
                        (CAST(n_live AS DOUBLE) * ta)), 6)
             END AS psi_term
      FROM c, tt ORDER BY bin"""))

  // ----------------------------------------------------------------- G24
  /** Ordered running-balance replay via Spark 4's transformWithState
    * (arbitrary state v2 on RocksDB): purchases credit, every other
    * event type debits (the signed projection is stateless, applied
    * BEFORE the stateful operator); per-user events buffer in a
    * ListState until the event-time timer (last event + 30 min) passes
    * the watermark, then replay in exact (ts, event_id) order → final
    * balance, minimum prefix, dips below zero. Same flush-horizon
    * oracle discipline as G15: users whose last event is inside
    * max(ts) − 45 min stay open and are excluded on both sides. */
  private val streamBalance = QueryDef(
    "stream_balance",
    (s, d) => {
      import s.implicits._
      val dir = stage(s, d, "events")
      val batch = s.read.parquet(dir)
      val maxUs = batch.agg(F.max(F.unix_micros(F.col("ts")))).head().getLong(0)
      val cutoffUs = maxUs - 2700L * 1000000L
      val flushed = batch.groupBy("user_id")
        .agg(F.max(F.unix_micros(F.col("ts"))).as("umax"))
        .where(F.col("umax") < cutoffUs).select("user_id")
      val stream = s.readStream.schema(batch.schema).parquet(dir)
      val in = stream.select(F.col("user_id").as("userId"), F.col("ts"),
        F.col("event_id").as("eventId"),
        F.expr("CASE WHEN event_type = 'purchase' THEN " +
          "CAST(floor(value * 1e6) AS BIGINT) ELSE " +
          "-CAST(floor(value * 1e6) AS BIGINT) END").as("deltaMicro"))
        .as[graft.streaming.StreamOps.BalIn]
      // state v2 runs only on the RocksDB provider; scope the conf to
      // this query's start (read at start, so resetting after drain
      // does not affect the running query)
      val prevProvider = s.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out =
        try drain(graft.streaming.StreamOps
          .balanceStream(in, flushDelayMs = 1800L * 1000).toDF(), "append")
        finally prevProvider match {
          case Some(p) => s.conf.set(
            "spark.sql.streaming.stateStore.providerClass", p)
          case None => s.conf.unset(
            "spark.sql.streaming.stateStore.providerClass")
        }
      // emissions are CUMULATIVE ([[StreamOps.BalCarry]]); a key that
      // flushed twice (events straddling a batch boundary with a
      // >30-min gap) emits a superseded row then the full one — keep
      // the max-nEvents emission (nEvents strictly grows per key)
      out.withColumnRenamed("userId", "user_id")
        .groupBy("user_id")
        .agg(F.max_by(
          F.struct(F.col("nEvents"), F.col("finalMicro"),
            F.col("minMicro"), F.col("nDips")),
          F.col("nEvents")).as("sm"))
        .join(F.broadcast(flushed), Seq("user_id"))
        .select(F.col("user_id"), F.col("sm.nEvents").as("n_events"),
          F.col("sm.finalMicro").as("final_micro"),
          F.col("sm.minMicro").as("min_micro"),
          F.col("sm.nDips").as("n_dips"))
        .orderBy("user_id")
    },
    Some("""
      WITH g AS (SELECT max(ts) AS gmax FROM events),
      f AS (SELECT user_id FROM events, g GROUP BY user_id, gmax
            HAVING max(ts) < gmax - INTERVAL 45 MINUTE),
      e2 AS (SELECT e.user_id, ts, event_id,
                    CASE WHEN event_type = 'purchase'
                         THEN CAST(floor(value * 1e6) AS BIGINT)
                         ELSE -CAST(floor(value * 1e6) AS BIGINT)
                    END AS dm
             FROM events e JOIN f USING (user_id)),
      p AS (SELECT user_id, ts, event_id, dm,
                   sum(dm) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS bal
            FROM e2),
      q AS (SELECT user_id, dm, bal,
                   lag(bal, 1, CAST(0 AS BIGINT)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM p)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dm) AS BIGINT) AS final_micro,
             CAST(least(0, min(bal)) AS BIGINT) AS min_micro,
             CAST(sum(CASE WHEN bal < 0 AND prev >= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dips
      FROM q GROUP BY user_id ORDER BY user_id"""))

  // ----------------------------------------------------------------- G25
  /** New-customers-per-month as a STREAM — the C79 "new" half executed
    * with a stateful streaming MIN per customer (complete mode,
    * customer-count-bounded state): min is arrival-order INDEPENDENT,
    * which is the whole point — a dropDuplicates first-arrival would
    * bind the answer to file order. The drained per-customer minimum
    * frame then batch-aggregates to the monthly first-seen counts
    * (chained stateful aggregations are unsupported in a single
    * streaming query; the drain IS the production two-stage shape). */
  private val streamFirstSeen = QueryDef(
    "stream_first_seen",
    (s, d) => {
      val dir = stage(s, d, "orders")
      val stream = stagedStream(s, dir)
      val mins = stream
        .select(F.col("o_custkey").as("ck"),
          F.expr("CAST((year(o_orderdate) - 1992) * 12 + " +
            "month(o_orderdate) - 1 AS BIGINT)").as("m"))
        .groupBy("ck").agg(F.min("m").as("fm"))
      withStatePartitions(s, 8) {
        drain(mins, "complete")
      }
        .groupBy("fm").agg(F.count(F.lit(1)).as("new_customers"))
        .orderBy("fm")
    },
    Some("""
      WITH f AS (
        SELECT o_custkey,
               min(CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12 +
                        month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT))
                 AS fm
        FROM orders GROUP BY o_custkey)
      SELECT fm, CAST(count(*) AS BIGINT) AS new_customers
      FROM f GROUP BY fm ORDER BY fm"""))

  // ----------------------------------------------------------------- G26
  /** Streaming URL-exact dedup — E67's production twin: documents
    * stream through the E66 canonicalizer (pure narrow regexp maps,
    * fully streamable), then a stateful per-canonical-URL aggregate
    * keeps the min doc id and arrival count. MIN, not first-arrival
    * dropDuplicates: the survivor is arrival-order INDEPENDENT, so the
    * drained frame hash-matches the batch oracle whatever the file
    * split order. State is URL-space bounded (the dedup key set), the
    * same bound as the batch aggregate's shuffle. The drained per-URL
    * frame then batch-regroups per host — the two-stage shape chained
    * stateful streaming aggregations require. */
  private val streamUrlDedup = QueryDef(
    "stream_url_dedup",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val per = graft.operators.UrlOps.withNormalizedUrl(
        graft.operators.UrlOps.withSyntheticUrl(
          stream.select("doc_id", "source")), "raw_url")
        .groupBy("u_host", "norm_url")
        .agg(F.min("doc_id").as("keep_doc"),
          F.count(F.lit(1)).as("n"))
      withStatePartitions(s, 8) { drain(per, "complete") }
        .groupBy("u_host")
        .agg(F.count(F.lit(1)).as("n_urls"),
          F.sum("n").as("n_docs"),
          F.min("keep_doc").as("first_doc"))
        .orderBy("u_host")
    },
    Some(s"""
      WITH base AS (SELECT doc_id, source FROM documents),
      ${graft.operators.UrlOps.syntheticUrlCtes("base")},
      ${graft.operators.UrlOps.normalizeUrlCtes("su", "raw_url")},
      per AS (
        SELECT u_host, norm_url,
               CAST(min(doc_id) AS BIGINT) AS keep_doc,
               CAST(count(*) AS BIGINT) AS n
        FROM un GROUP BY 1, 2)
      SELECT u_host, CAST(count(*) AS BIGINT) AS n_urls,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(min(keep_doc) AS BIGINT) AS first_doc
      FROM per GROUP BY u_host ORDER BY u_host"""))

  // ----------------------------------------------------------------- G27
  /** The M21 sample-ratio-mismatch guardrail EXECUTED on live traffic:
    * streamed order shards hash into folds through the identical
    * portable-hash projection, per-fold counts accumulate as streaming
    * state (complete mode — pure counts, arrival-order independent by
    * construction), and the drained 5-row frame flows through the SAME
    * chi-square assembly (`ClusterEvalQueries.srmAssemble`) against the
    * SAME oracle. State is 5 rows regardless of traffic volume. */
  private val streamSrm = QueryDef(
    "stream_srm",
    (s, d) => {
      val dir = stage(s, d, "orders")
      val stream = stagedStream(s, dir)
      val folds = stream
        .select(F.pmod(graft.operators.Hashing.hash60(
          F.col("o_orderkey").cast("string")), F.lit(5))
          .cast("long").as("fold"))
        .groupBy("fold").agg(F.count(F.lit(1)).as("n_fold"))
      val drained = withStatePartitions(s, 5) { drain(folds, "complete") }
      ClusterEvalQueries.srmAssemble(drained)
    },
    Some(ClusterEvalQueries.srmOracleSql))

  // ----------------------------------------------------------------- G28
  /** Point-in-time dimension enrichment ON INGEST: streamed purchase
    * events pick up the user's SCD2 state (C34's table, built batch-
    * side from the staged corpus) valid AT EVENT TIME via a stream-
    * static interval join — the join is STATELESS (static side
    * broadcast per micro-batch, segments partition time so exactly one
    * row matches), which is why dimension enrichment belongs on ingest
    * while stream-stream state belongs to G8/G9. Same C41 as-of
    * semantics: valid_from ≤ ts < valid_to, open rows included. */
  private val streamAsof = QueryDef(
    "stream_asof",
    (s, d) => {
      val dir = stage(s, d, "events")
      val batch = s.read.parquet(dir)
      val dim = graft.operators.Warehouse.scd2Build(
        batch, "user_id", "ts", "event_id", "event_type")
        .select(F.col("user_id").as("du"), F.col("attr"),
          F.col("valid_from"), F.col("valid_to"), F.col("version"))
      val stream = s.readStream.schema(batch.schema).parquet(dir)
        .where(F.expr("event_type = 'purchase'"))
        .select(F.col("event_id"), F.col("user_id"), F.col("ts"))
      val joined = stream.join(F.broadcast(dim), F.expr(
        "user_id = du AND ts >= valid_from AND " +
          "(valid_to IS NULL OR ts < valid_to)"))
        .select("event_id", "user_id", "attr", "version")
      drain(joined, "append").orderBy("event_id")
    },
    Some("""
      WITH o AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
      ch AS (SELECT user_id, ts, event_id, event_type FROM o
             WHERE prev IS NULL OR prev <> event_type),
      scd AS (
        SELECT user_id AS du, event_type AS attr, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version
        FROM ch
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      p AS (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, s.attr, s.version
      FROM p JOIN scd s ON p.user_id = s.du
           AND p.ts >= s.valid_from
           AND (s.valid_to IS NULL OR p.ts < s.valid_to)
      ORDER BY p.event_id"""))

  // ----------------------------------------------------------------- G29
  /** The M23 split-conformal guardrail ON LIVE TRAFFIC: streamed
    * documents project to (calibration?, nonconformity) — a stateless
    * narrow map — and accumulate as grouped counts (state ≤ 2·1002
    * rows regardless of volume, complete mode, arrival-order
    * independent); the drained frame flows through the SAME threshold +
    * held-out-coverage assembly (`EvalQueries.conformalAssemble`)
    * against the SAME oracle. The online shape of "is the deployed
    * threshold still covering ≈90%". */
  private val streamConformal = QueryDef(
    "stream_conformal",
    (s, d) => {
      val dir = stage(s, d, "documents")
      val stream = stagedStream(s, dir)
      val stop = "('the','and','of','to','in','a','is')"
      val toks = "filter(split(lower(text), ' +'), x -> length(x) > 0)"
      val in = stream.select(
        F.pmod(graft.operators.Hashing.hash60(
          F.col("doc_id").cast("string")), F.lit(5)).===(0).as("cal"),
        F.expr(
          s"abs(1000L * size(filter($toks, x -> x IN $stop)) div " +
            s"greatest(size($toks), 1) - 1000 * " +
            s"CASE WHEN lang = 'en' THEN 1L ELSE 0L END)").as("nc"))
      val grouped = in.groupBy("cal", "nc")
        .agg(F.count(F.lit(1)).as("c"))
      val drained = withStatePartitions(s, 5) { drain(grouped, "complete") }
      EvalQueries.conformalAssemble(drained)
    },
    Some(EvalQueries.conformalOracleSql))

  // ----------------------------------------------------------------- G30
  /** M25's off-policy value ON LIVE TRAFFIC: streamed events accumulate
    * per-action (count, reward-sum) as 5 rows of streaming state
    * (complete mode, arrival-order independent — pure sums), and the
    * drained frame flows through the SAME IPS assembly
    * (`EvalQueries.ipsAssemble`) against the SAME oracle — the online
    * "what would the uniform policy be earning right now" read. */
  private val streamIps = QueryDef(
    "stream_ips",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val per = stream.select(F.col("event_type").as("action"),
        F.expr("CAST(floor(value * 1e6) AS BIGINT)").as("r_micro"))
        .groupBy("action")
        .agg(F.count(F.lit(1)).as("n_a"), F.sum("r_micro").as("sr"))
      val drained = withStatePartitions(s, 5) { drain(per, "complete") }
      EvalQueries.ipsAssemble(drained)
    },
    Some(EvalQueries.ipsOracleSql))

  // ----------------------------------------------------------------- G31
  /** Wald's SPRT ON INGEST (r13) — the sequential test IS a streaming
    * monitor by nature, so M48's fixed-corpus replay gets its live
    * twin (the stream_srm sharing pattern: the per-day integer-micro
    * LLR aggregate runs as a REAL streaming aggregation — state
    * calendar-bounded at ~365 day rows — and the drained frame feeds
    * the SAME batch assembly `RetentionQueries.sprtAssemble`, one
    * DistRank cumsum + boundary pick). Per-order increments quantized
    * to the M48 compile-time literals (no runtime log()); complete
    * output mode because every micro-batch revises its day's x/n.
    * Oracle = M48's verbatim (`sprtOracleSql`) — stream drain must
    * equal the batch aggregate exactly. */
  private val streamSprt = QueryDef(
    "stream_sprt",
    (s, d) => {
      val dir = stage(s, d, "orders")
      val daily = stagedStream(s, dir)
        .where(F.expr("year(CAST(o_orderdate AS DATE)) = 1995 AND " +
          "o_orderpriority IN ('1-URGENT', '2-HIGH')"))
        .groupBy(F.datediff(F.to_date(F.col("o_orderdate")),
          F.lit("1995-01-01")).cast("long").as("day"))
        .agg(F.expr("sum(CASE WHEN o_orderpriority = '1-URGENT' " +
          "THEN 1L ELSE 0L END)").as("x"),
          F.count(F.lit(1)).as("n"))
      val drained = withStatePartitions(s, 5) { drain(daily, "complete") }
      RetentionQueries.sprtAssemble(
        drained.select(F.col("day"),
          F.expr("(2 * x - n) * 200671L").as("step")))
    },
    Some(RetentionQueries.sprtOracleSql))

  // ----------------------------------------------------------------- G32
  /** M64's Holt-Winters AS A STREAM (the stream_ewma twin pattern one
    * model up): the daily cents grid is computed by a REAL watermarked
    * 1-day-window streaming aggregation over the staged orders
    * (complete mode — the grid is calendar-bounded state), drained,
    * and folded through the SAME all-integer level/trend/season
    * recursion as the batch query — so the live capacity forecast and
    * the batch backfill hash-match one oracle. o_orderdate stages as
    * NTZ micros; the cast to TIMESTAMP reinterprets in the UTC session
    * (the Tables.t events convention), which is exactly batch's
    * CAST(o_orderdate AS DATE) day. */
  private val streamHoltWinters = QueryDef(
    "stream_holt_winters",
    (s, d) => withStatePartitions(s, 4) {
      val dir = stage(s, d, "orders")
      val stream = stagedStream(s, dir)
      val agg = stream
        .select(F.col("o_orderdate").cast("timestamp").as("ots"),
          F.col("o_totalprice"))
        .withWatermark("ots", "1 day")
        .groupBy(F.window(F.col("ots"), "1 day"))
        .agg(F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .select(F.to_date(F.col("window.start")).as("day"),
          F.col("cents"))
      val grid = drain(agg, "complete")
      graft.operators.SeriesOps.holtWintersFold(grid, "day", "cents")
        .orderBy("day")
    },
    Some(SeriesQueries.hwOracleSql))

  // ----------------------------------------------------------------- G32
  /** Streaming write into the transactional DSv2 sink (r15): the
    * filtered event stream drains THROUGH [[graft.sources.GraftSink]]'s
    * StreamingWrite surface — one manifest commit per epoch carrying an
    * `#epoch` idempotence marker (a replayed epoch after driver
    * recovery is detected against the latest manifest and dropped —
    * exactly-once, proven directly in GraftSinkSpec) — and the graded
    * read is the committed snapshot read back through the same
    * provider's batch scan. Stateless append stream (timestamps land
    * as integer micros — the sink's int/long/double/string surface),
    * so the whole query is write-path proof: staging per epoch, atomic
    * manifest chain, epoch markers, parquet decode. At 100 TB this is
    * the continuous-ingest half of the sink: micro-batches append
    * snapshots, batch readers time-travel over them. */
  private val streamSinkExactlyOnce = QueryDef(
    "stream_sink_exactly_once",
    (s, d) => {
      val dir = stage(s, d, "events")
      val stream = stagedStream(s, dir)
      val out = stream
        .where(F.col("event_type").isin("view", "purchase"))
        .select(F.col("event_id"), F.col("user_id"), F.col("event_type"),
          F.unix_micros(F.col("ts")).as("ts_us"))
      val sinkPath = s"${Harness.scratch(s, "gsink")}/t"
      runToEnd(out, "append")(
        _.format("graft.sources.GraftAtomicSinkProvider")
          .option("path", sinkPath))
      s.read.format("graft.sources.GraftAtomicSinkProvider")
        .option("path", sinkPath).load()
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type IN ('view', 'purchase')
      ORDER BY event_id"""))

  // ----------------------------------------------------------------- G34
  /** The transactional sink consumed AS A STREAM (r15, the read twin
    * of G33): two batch commits build a 2-version snapshot chain, and
    * `readStream.format(provider)` drives GraftSink's MicroBatchStream
    * — offsets are manifest VERSIONS, each micro-batch the file delta
    * a version range added (the Delta "table as a stream" pattern on
    * the sink's own chain; GraftSinkSpec proves the incremental case —
    * a restarted stream consumes only versions committed since its
    * checkpoint, re-reading nothing). The drained streaming aggregate
    * over the full chain must equal the batch oracle over the source
    * rows — proving version-delta planning loses and duplicates
    * nothing. */
  private val streamSinkSource = QueryDef(
    "stream_sink_source",
    (s, d) => {
      val fmt = "graft.sources.GraftAtomicSinkProvider"
      val sup = t(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
      val sinkPath = s"${Harness.scratch(s, "gsrc")}/t"
      sup.where(F.col("s_suppkey") % 2 === 0)
        .write.format(fmt).option("path", sinkPath)
        .mode("overwrite").save()
      sup.where(F.col("s_suppkey") % 2 =!= 0)
        .write.format(fmt).option("path", sinkPath)
        .mode("append").save()
      val stream = s.readStream.format(fmt).option("path", sinkPath).load()
      drain(stream
        .groupBy((F.col("s_suppkey") % 10).as("bucket"))
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("s_acctbal").cast(
            org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("string").as("total_bal")), "complete")
        .orderBy("bucket")
    },
    Some("""
      SELECT s_suppkey % 10 AS bucket, count(*) AS n,
             CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR)
               AS total_bal
      FROM supplier GROUP BY 1 ORDER BY bucket"""))

  val all: Seq[QueryDef] = Seq(streamTumbling, streamValidate, streamDedup,
    streamSession, streamQuality, streamPii, streamDedupIncr, streamJoin,
    streamJoinOuter, streamUpsert, streamDedupWatermark, streamCms,
    streamTopk, streamAnomaly, streamTransitions, streamHopping, streamEwma,
    streamFunnel, streamFunnelWindow, streamRetention, streamContamination,
    streamSample, streamPsi, streamBalance, streamFirstSeen, streamUrlDedup,
    streamSrm, streamAsof, streamConformal, streamIps, streamSprt,
    streamHoltWinters, streamSinkExactlyOnce, streamSinkSource)
}
