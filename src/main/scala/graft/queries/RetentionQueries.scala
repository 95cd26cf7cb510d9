package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import Tables.t

/** Wave-20 inventory (r6): audience/engagement analytics and
  * pre-flight planning audits — bitmap (roaring-style) retention,
  * time-weighted averages, histogram-based join-size estimation,
  * k-core graph peeling, and funnel time-to-convert distributions.
  *
  * House rules as everywhere: integer arithmetic end to end (bitmasks
  * in one BIGINT, durations in micros, money in cents, DECIMAL(38,0)
  * dot products), aggregate-first shapes so nothing ordered ever runs
  * over raw facts, and oracles formulated independently of the Spark
  * plan. */
object RetentionQueries {

  // ---------------------------------------------------------------- C58
  /** Rolling N-day retention from ONE packed bitmask per user — the
    * roaring-bitmap audience pattern: a user's 63-day activity history
    * is `bit_or(1 << datediff(day, first_day))`, one BIGINT of state
    * per user regardless of event volume (bits 0..62; bit 63 would
    * overflow a signed shift on either engine). Day-N retention then
    * reads the mask — no per-(user, day) matrix is ever materialized,
    * which is what makes audience retention tractable at 100 TB: the
    * event stream collapses map-side to ≤ one long per user, and the
    * retention curve is users × 63 bit tests over a BROADCAST offset
    * spine. Offset 0 equals the user count by construction (every
    * user is active on their own first day) — a built-in sanity row.
    * The bitmask state is also order-independent (OR is commutative),
    * which is why G20 can run the identical aggregate as a stream. */
  private val bitmapRetention = QueryDef(
    "bitmap_retention",
    (s, d) => retentionFromMasks(s, userMasks(s, d)),
    Some(bitmapRetentionOracleSql))

  /** The per-user packed activity mask (C58's state; shared with G20's
    * streaming twin, whose complete-mode aggregate produces the SAME
    * frame because bit_or is arrival-order-independent). */
  private[queries] def userMasks(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = t(s, d, "events")
      .select(F.col("user_id"), F.to_date(F.col("ts")).as("day"))
    val first = ev.groupBy("user_id").agg(F.min("day").as("d0"))
    ev.join(first, "user_id")
      .select(F.col("user_id"), F.datediff(F.col("day"), F.col("d0")).as("off"))
      .where(F.col("off") < 63)
      .select(F.col("user_id"),
        F.expr("shiftleft(1L, CAST(off AS INT))").as("bit"))
      .groupBy("user_id").agg(F.expr("bit_or(bit)").as("mask"))
  }

  /** Masks → the 63-row retention curve (shared C58/G20 tail). */
  private[queries] def retentionFromMasks(
      s: org.apache.spark.sql.SparkSession,
      masks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val offsets = s.range(0, 63).select(F.col("id").as("off"))
    masks.crossJoin(F.broadcast(offsets))
      .groupBy("off").agg(
        F.sum(F.expr("CAST(shiftright(mask, CAST(off AS INT)) & 1 AS BIGINT)"))
          .as("n_retained"))
      .orderBy("off")
  }

  // def, not val: referenced by a QueryDef defined ABOVE it — a val
  // would still be null during object initialization
  private[queries] def bitmapRetentionOracleSql: String = """
      WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      fst AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1),
      offs AS (
        SELECT ev.user_id, datediff('day', d0, day) AS off
        FROM ev JOIN fst ON ev.user_id = fst.user_id),
      masks AS (
        SELECT user_id, bit_or(1::BIGINT << CAST(off AS INT)) AS mask
        FROM offs WHERE off < 63 GROUP BY 1)
      SELECT CAST(o.off AS BIGINT) AS off,
             CAST(sum((mask >> CAST(o.off AS INT)) & 1) AS BIGINT)
               AS n_retained
      FROM masks, range(0, 63) o(off)
      GROUP BY 1 ORDER BY off"""

  // ---------------------------------------------------------------- C59
  /** Time-weighted average (TWAP) of the event value per (type, day):
    * each reading is weighted by the micros until the NEXT reading of
    * the same series (classic piecewise-constant integration; the last
    * reading of a day carries no interval and drops out). All exact:
    * values in cents (floor ×100 — the same IEEE double on both
    * engines), durations in integer micros, the cents·micros products
    * summed as DECIMAL(38,0) (a day of micros × cents overflows BIGINT
    * at warehouse volumes), quotient via integral division. Scale
    * shape: the lead() window partitions by (type, day) — thousands of
    * independent partitions, never a global sort — and the aggregate
    * combines map-side. */
  private val twap = QueryDef(
    "twap",
    (s, d) => {
      val ev = t(s, d, "events").select(
        F.col("event_type"), F.to_date(F.col("ts")).as("day"),
        F.col("ts"), F.col("event_id"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
      val withDur = ev
        .withColumn("dur",
          F.unix_micros(F.lead("ts", 1).over(w)) - F.unix_micros(F.col("ts")))
        .where(F.col("dur").isNotNull)
      withDur.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).as("n_intervals"),
        F.sum("dur").as("span_micros"),
        F.sum(F.expr("CAST(cents * dur AS DECIMAL(38,0))")).as("_num"))
        .select(F.col("event_type"), F.col("day"), F.col("n_intervals"),
          F.col("span_micros"),
          F.expr("CAST(_num div span_micros AS BIGINT)").as("twap_cents"))
        .orderBy("event_type", "day")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events),
      dur AS (
        SELECT event_type, day, cents,
               epoch_us(lead(ts) OVER (PARTITION BY event_type, day
                 ORDER BY ts, event_id)) - epoch_us(ts) AS dur
        FROM ev)
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(sum(dur) AS BIGINT) AS span_micros,
             CAST(sum(CAST(cents AS HUGEINT) * dur) // sum(dur) AS BIGINT)
               AS twap_cents
      FROM dur WHERE dur IS NOT NULL
      GROUP BY 1, 2 ORDER BY event_type, day"""))

  // ---------------------------------------------------------------- C60
  /** Join-size estimation from per-key histograms — the pre-flight
    * audit run BEFORE committing a 100 TB join: per brand, the exact
    * output cardinality of part⋈lineitem predicted purely from the
    * fact side's per-key counts (Σ over the brand's parts of that
    * part's lineitem count) plus the skew diagnostics that decide the
    * strategy (max single-key fan-out → salting?, matched-key share →
    * semi-join prefilter?). The fact table aggregates map-side to one
    * row per key; the dim side is broadcast; the JOIN ITSELF NEVER
    * RUNS — that is the point. For an equi-join this accounting is
    * exact, so the oracle doubles as proof the estimate closes. */
  private val joinCardAudit = QueryDef(
    "join_card_audit",
    (s, d) => {
      val perKey = t(s, d, "lineitem")
        .groupBy(F.col("l_partkey").as("pk"))
        .agg(F.count(F.lit(1)).as("fanout"))
      t(s, d, "part").select(F.col("p_partkey"), F.col("p_brand"))
        .join(F.broadcast(perKey), F.col("p_partkey") === F.col("pk"), "left")
        .groupBy("p_brand").agg(
          F.count(F.lit(1)).as("n_parts"),
          F.sum(F.expr("CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END"))
            .as("n_matched"),
          F.sum(F.coalesce(F.col("fanout"), F.lit(0L))).as("pred_rows"),
          F.max(F.coalesce(F.col("fanout"), F.lit(0L))).as("max_fanout"))
        .orderBy("p_brand")
    },
    Some("""
      WITH pk AS (
        SELECT l_partkey AS pk, count(*) AS fanout
        FROM lineitem GROUP BY 1)
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             CAST(sum(coalesce(fanout, 0)) AS BIGINT) AS pred_rows,
             CAST(max(coalesce(fanout, 0)) AS BIGINT) AS max_fanout
      FROM part LEFT JOIN pk ON p_partkey = pk
      GROUP BY 1 ORDER BY p_brand"""))

  // ---------------------------------------------------------------- D29
  /** k-core peeling (k = 2, three fixed rounds) of the co-purchase
    * graph — the standard "trim the tendrils" preconditioning before
    * community detection or triangle counting: each round drops nodes
    * with degree < k, then re-derives degrees on the surviving edge
    * set. Fixed round count (like D15 PageRank) keeps the result
    * deterministic whether or not the peel has converged, so the
    * unrolled oracle replays the identical three rounds. Scale shape
    * ([[graft.operators.Graph.kCore]]): each round is one map-side-
    * combined degree aggregate plus two SEMI joins of the base edge list
    * against the surviving-node list — shuffles stay keyed on node id,
    * state is one degree per node, and every round re-reads the edge
    * list from the SHARED staged build ([[Staged.coPurchaseEdges]]),
    * which is its materialization: nothing is persisted. */
  private val kcore = QueryDef(
    "kcore",
    (s, d) => graft.operators.Graph.kCore(Staged.coPurchaseEdges(s, d),
      "pa", "pb", k = 2L, rounds = 3).orderBy("node"),
    Some("""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      d1 AS (SELECT node, count(*) AS deg FROM (
               SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0) GROUP BY 1),
      n1 AS (SELECT node FROM d1 WHERE deg >= 2),
      e1 AS (SELECT pa, pb FROM e0
             WHERE pa IN (SELECT node FROM n1) AND pb IN (SELECT node FROM n1)),
      d2 AS (SELECT node, count(*) AS deg FROM (
               SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1) GROUP BY 1),
      n2 AS (SELECT node FROM d2 WHERE deg >= 2),
      e2 AS (SELECT pa, pb FROM e1
             WHERE pa IN (SELECT node FROM n2) AND pb IN (SELECT node FROM n2)),
      d3 AS (SELECT node, count(*) AS deg FROM (
               SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2) GROUP BY 1),
      n3 AS (SELECT node FROM d3 WHERE deg >= 2),
      e3 AS (SELECT pa, pb FROM e2
             WHERE pa IN (SELECT node FROM n3) AND pb IN (SELECT node FROM n3))
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT pa AS node FROM e3 UNION ALL SELECT pb FROM e3)
      GROUP BY 1 ORDER BY node"""))

  // ---------------------------------------------------------------- C61
  /** Funnel time-to-convert distribution — the attribution follow-up
    * to C57: among users who reached each later stage, how long after
    * the first view did they get there. Deltas in exact integer
    * micros; the distribution is discrete percentiles via the C56
    * cumulative-count formulation (min value whose cumulative count
    * covers the rank), so every output is a value that actually
    * occurred — hash-exact on both engines. Stage frames come from
    * the SHARED [[TrendQueries.funnelStageTimes]] so this audits the
    * same funnel C57 reports. Scale: the window runs per stage over
    * already-converted users (a small fraction of events), and
    * percentile extraction aggregates map-side. */
  private val funnelTimeStats = QueryDef(
    "funnel_time_stats",
    (s, d) => {
      val (_, t2, t3) = TrendQueries.funnelStageTimes(s, d)
      val deltas = t2.select(F.lit("click").as("stage"),
          (F.unix_micros(F.col("t_click")) - F.unix_micros(F.col("_tv")))
            .as("dt"))
        .unionAll(t3.join(t2, "user_id")
          .select(F.lit("purchase").as("stage"),
            (F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("_tv")))
              .as("dt")))
      val cum = Window.partitionBy("stage").orderBy("dt")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val c = deltas
        .withColumn("cum_n", F.count(F.lit(1)).over(cum))
        .withColumn("tot_n",
          F.count(F.lit(1)).over(Window.partitionBy("stage")))
      c.groupBy("stage").agg(
        F.max("tot_n").as("n_users"),
        F.min("dt").as("min_micros"),
        F.min(F.when(F.expr("2 * cum_n >= tot_n"), F.col("dt")))
          .as("p50_micros"),
        F.min(F.when(F.expr("10 * cum_n >= 9 * tot_n"), F.col("dt")))
          .as("p90_micros"),
        F.max("dt").as("max_micros"))
        .orderBy("stage")
    },
    Some("""
      WITH t1 AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1),
      t2 AS (
        SELECT e.user_id, min(e.ts) AS t_click, min(t1.t_view) AS t_view
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = 'click' AND e.ts > t1.t_view
          AND e.ts <= t1.t_view + INTERVAL 1 HOUR
        GROUP BY 1),
      t3 AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
          AND e.ts <= t2.t_view + INTERVAL 1 HOUR
        GROUP BY 1),
      deltas AS (
        SELECT 'click' AS stage,
               epoch_us(t_click) - epoch_us(t_view) AS dt FROM t2
        UNION ALL
        SELECT 'purchase',
               epoch_us(t3.t_purchase) - epoch_us(t2.t_view)
        FROM t3 JOIN t2 ON t3.user_id = t2.user_id),
      c AS (
        SELECT stage, dt,
               count(*) OVER (PARTITION BY stage ORDER BY dt
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
               count(*) OVER (PARTITION BY stage) AS tot_n
        FROM deltas)
      SELECT stage, CAST(max(tot_n) AS BIGINT) AS n_users,
             min(dt) AS min_micros,
             min(CASE WHEN 2 * cum_n >= tot_n THEN dt END) AS p50_micros,
             min(CASE WHEN 10 * cum_n >= 9 * tot_n THEN dt END) AS p90_micros,
             max(dt) AS max_micros
      FROM c GROUP BY 1 ORDER BY stage"""))

  // ---------------------------------------------------------------- C62
  /** Two-sigma Wilson confidence bounds on the daily error rate, exact
    * to the last bit on both engines: with z = 2 the Wilson interval is
    * (n(s+2) ± 2·√(n(s(n−s)+n))) / (n(n+4)) — ONE sqrt call on an
    * exact integer (IEEE 754 requires sqrt be correctly rounded, so
    * floor(sqrt(bigint)) is bit-portable wherever the radicand fits a
    * double's 2^53 mantissa; here it is ≤ n³/4, safe to n ≈ 3 M per
    * group), then integer division throughout. The monitoring question
    * this answers — "is today's error rate distinguishable from
    * yesterday's, given today's volume?" — needs the interval, not the
    * point rate; naive ±1.96√(pq/n) in floats would hash-differ in the
    * last ulp. Scale shape: one map-side-combined aggregate to (day,
    * n, s), then pure projection on the day grid. */
  private val abWilson = QueryDef(
    "ab_wilson",
    (s, d) => {
      t(s, d, "events")
        .groupBy(F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"))
            .as("s"))
        .select(F.col("day"), F.col("n"), F.col("s"),
          F.expr("1000000 * s div n").as("rate_micros"),
          F.expr("""1000000 * (n * (s + 2) -
              2 * CAST(floor(sqrt(CAST(n * (s * (n - s) + n) AS DOUBLE))) AS BIGINT))
              div (n * (n + 4))""").as("lo_micros"),
          F.expr("""1000000 * (n * (s + 2) +
              2 * CAST(floor(sqrt(CAST(n * (s * (n - s) + n) AS DOUBLE))) AS BIGINT))
              div (n * (n + 4))""").as("hi_micros"))
        .orderBy("day")
    },
    Some("""
      WITH g AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS s
        FROM events GROUP BY 1)
      SELECT day, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
             CAST(1000000 * s // n AS BIGINT) AS rate_micros,
             CAST(1000000 * (n * (s + 2) -
               2 * CAST(floor(sqrt(CAST(n * (s * (n - s) + n) AS DOUBLE))) AS BIGINT))
               // (n * (n + 4)) AS BIGINT) AS lo_micros,
             CAST(1000000 * (n * (s + 2) +
               2 * CAST(floor(sqrt(CAST(n * (s * (n - s) + n) AS DOUBLE))) AS BIGINT))
               // (n * (n + 4)) AS BIGINT) AS hi_micros
      FROM g ORDER BY day"""))

  // ---------------------------------------------------------------- C63
  /** Top-k-with-OTHERS — the BI staple that caps dashboard cardinality:
    * per market segment, the 3 nations with most customers keep their
    * name; the remainder collapses into one 'OTHER' row so the output
    * is bounded at (k+1)·segments whatever the dimension's cardinality.
    * Rank runs over the (segment, nation) AGGREGATE (metadata-sized —
    * never the fact table), deterministic tie-break by name; the
    * regroup is a second metadata-sized aggregate. */
  private val topkOthers = QueryDef(
    "topk_others",
    (s, d) => {
      val counts = t(s, d, "customer")
        .join(F.broadcast(t(s, d, "nation")),
          F.col("c_nationkey") === F.col("n_nationkey"))
        .groupBy(F.col("c_mktsegment").as("segment"), F.col("n_name"))
        .agg(F.count(F.lit(1)).as("n_cust"))
      val ranked = counts.withColumn("rk",
        F.row_number().over(Window.partitionBy("segment")
          .orderBy(F.col("n_cust").desc, F.col("n_name"))))
      ranked
        .withColumn("bucket",
          F.when(F.col("rk") <= 3, F.col("n_name")).otherwise("OTHER"))
        .groupBy("segment", "bucket")
        .agg(F.sum("n_cust").as("n_cust"),
          F.count(F.lit(1)).as("n_nations"))
        .orderBy(F.col("segment"), F.col("n_cust").desc, F.col("bucket"))
    },
    Some("""
      WITH counts AS (
        SELECT c_mktsegment AS segment, n_name, count(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT segment, n_name, n_cust,
               row_number() OVER (PARTITION BY segment
                 ORDER BY n_cust DESC, n_name) AS rk
        FROM counts)
      SELECT segment,
             CASE WHEN rk <= 3 THEN n_name ELSE 'OTHER' END AS bucket,
             CAST(sum(n_cust) AS BIGINT) AS n_cust,
             CAST(count(*) AS BIGINT) AS n_nations
      FROM ranked GROUP BY 1, 2
      ORDER BY segment, n_cust DESC, bucket"""))

  // ---------------------------------------------------------------- D30
  /** Embedding-distribution drift between two deterministic cohorts
    * (vec_id parity — the stand-in for "this crawl's vectors vs last
    * crawl's"): per label, the squared L2 distance between cohort
    * centroids, computed EXACTLY — elements scaled to integer micros
    * (float→double is exact, the ×1e6 multiply is the same IEEE double
    * on both engines, floor is portable), per-(label, dim) sums in
    * BIGINT, and the centroid difference cross-multiplied instead of
    * divided: Σ_dim (s0·n1 − s1·n0)² / (n0·n1)², with the squares in
    * DECIMAL(38,0)/HUGEINT (the diff is ~1e12; its square overflows
    * BIGINT) and ONE integral division after the dim sum. This is the
    * re-embed/re-crawl gate: centroid drift above threshold means the
    * ANN index and the dedup thresholds need recalibrating. Scale
    * shape: one explode + two map-side-combined aggregates, output one
    * row per label. */
  private val embedDrift = QueryDef(
    "embed_drift",
    (s, d) => {
      val e = t(s, d, "embeddings").select(
        F.col("label"), F.expr("vec_id % 2").as("cohort"),
        F.posexplode(F.col("embedding")).as(Seq("dim", "x")))
        .select(F.col("label"), F.col("cohort"), F.col("dim"),
          F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")
            .as("xm"))
      val byDim = e.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("cohort") === 0, F.col("xm"))).as("s0"),
        F.sum(F.when(F.col("cohort") === 1, F.col("xm"))).as("s1"),
        F.count(F.when(F.col("cohort") === 0, F.lit(1))).as("n0"),
        F.count(F.when(F.col("cohort") === 1, F.lit(1))).as("n1"))
      byDim.groupBy("label").agg(
        F.max("n0").as("n0"), F.max("n1").as("n1"),
        F.sum(F.expr(
          "CAST(s0*n1 - s1*n0 AS DECIMAL(38,0)) * CAST(s0*n1 - s1*n0 AS DECIMAL(38,0))"))
          .as("_num"))
        .where(F.expr("n0 > 0 AND n1 > 0"))
        .select(F.col("label"), F.col("n0"), F.col("n1"),
          F.expr("CAST(_num div CAST(n0*n1*n0*n1 AS DECIMAL(38,0)) AS BIGINT)")
            .as("drift_micros2"))
        .orderBy("label")
    },
    Some("""
      WITH e AS (
        SELECT label, vec_id % 2 AS cohort, i - 1 AS dim,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
                 AS xm
        FROM embeddings, generate_series(1, 64) AS t(i)),
      bd AS (
        SELECT label, dim,
               sum(CASE WHEN cohort = 0 THEN xm END) AS s0,
               sum(CASE WHEN cohort = 1 THEN xm END) AS s1,
               count(CASE WHEN cohort = 0 THEN 1 END) AS n0,
               count(CASE WHEN cohort = 1 THEN 1 END) AS n1
        FROM e GROUP BY 1, 2),
      agg AS (
        SELECT label, max(n0) AS n0, max(n1) AS n1,
               sum(CAST(s0*n1 - s1*n0 AS HUGEINT)
                   * CAST(s0*n1 - s1*n0 AS HUGEINT)) AS num
        FROM bd GROUP BY 1)
      SELECT label, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             CAST(num // CAST(n0*n1*n0*n1 AS HUGEINT) AS BIGINT)
               AS drift_micros2
      FROM agg WHERE n0 > 0 AND n1 > 0 ORDER BY label"""))

  // ---------------------------------------------------------------- D48
  /** Newman modularity of the BRAND partition over the co-purchase
    * graph ("do customers co-purchase within brands?"): per community c,
    * Q_c = e_c/m − (d_c/2m)² computed EXACTLY as (4m·e_c − d_c²)·10⁶
    * div (4m²) through DECIMAL(38,0)/HUGEINT (d_c² ·10⁶ exceeds int64),
    * each term truncated to micros independently (both engines' integer
    * division truncates toward zero, so negative terms agree too;
    * near-zero terms are the expected answer on uniform synthetic
    * baskets — the honesty discipline). Communities come from the part
    * DIMENSION (broadcast), never a corpus clustering pass; edges are
    * the staged deduped co-purchase graph (one shuffle, shared with
    * D23/D29/D31). */
  private val graphModularity = QueryDef(
    "graph_modularity",
    (s, d) => {
      val edges = Staged.coPurchaseEdges(s, d)
      val brand = t(s, d, "part")
        .select(F.col("p_partkey").as("node"), F.col("p_brand"))
      val lbl = edges
        .join(F.broadcast(brand.select(F.col("node").as("pa"),
          F.col("p_brand").as("ba"))), "pa")
        .join(F.broadcast(brand.select(F.col("node").as("pb"),
          F.col("p_brand").as("bb"))), "pb")
      val m = lbl.agg(F.count(F.lit(1)).as("m"))
      val eIn = lbl.where(F.col("ba") === F.col("bb"))
        .groupBy(F.col("ba").as("brand"))
        .agg(F.count(F.lit(1)).as("e_in"))
      val deg = lbl.select(F.col("pa").as("node"), F.col("ba").as("brand"))
        .unionAll(lbl.select(F.col("pb").as("node"),
          F.col("bb").as("brand")))
        .groupBy("brand").agg(F.count(F.lit(1)).as("d_c"),
          F.countDistinct("node").as("n_nodes"))
      deg.join(eIn, Seq("brand"), "left").na.fill(0L, Seq("e_in"))
        .crossJoin(F.broadcast(m))
        .select(F.col("brand"), F.col("n_nodes"), F.col("e_in"),
          F.col("d_c"),
          F.expr("CAST((4 * CAST(m AS DECIMAL(38,0)) * e_in - " +
            "CAST(d_c AS DECIMAL(38,0)) * d_c) * 1000000 div " +
            "(4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)")
            .as("q_term_micro"))
        .orderBy("brand")
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      lbl AS (
        SELECT e.pa, e.pb, x.p_brand AS ba, y.p_brand AS bb
        FROM e0 e JOIN part x ON x.p_partkey = e.pa
             JOIN part y ON y.p_partkey = e.pb),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lbl),
      ein AS (SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_in
              FROM lbl WHERE ba = bb GROUP BY 1),
      deg AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS d_c,
               CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
        FROM (SELECT pa AS node, ba AS brand FROM lbl
              UNION ALL SELECT pb, bb FROM lbl)
        GROUP BY 1)
      SELECT d.brand, d.n_nodes, coalesce(e.e_in, 0) AS e_in, d.d_c,
             CAST((4 * CAST(m AS HUGEINT) * coalesce(e.e_in, 0)
                   - CAST(d.d_c AS HUGEINT) * d.d_c) * 1000000
                  // (4 * CAST(m AS HUGEINT) * m) AS BIGINT)
               AS q_term_micro
      FROM deg d LEFT JOIN ein e ON d.brand = e.brand, mm
      ORDER BY d.brand"""))

  // ---------------------------------------------------------------- M48
  /** Sequential probability ratio test (Wald's SPRT) on the urgent-vs-
    * high order mix — the SEQUENTIAL companion to C62's fixed-horizon
    * Wilson interval (a monitored experiment wants to STOP the day the
    * evidence suffices, not at a preplanned n): H₀ p = 0.45 vs
    * H₁ p = 0.55 on the share of URGENT among urgent+high orders,
    * log-likelihood increments quantized ONCE to exact integer micros
    * (symmetric hypotheses ⇒ per-order increment ±ln(11/9) ⇒ the daily
    * step is (2x_t − n_t)·200671 — a scaled walk of successes minus
    * failures), cumulated over 1995's days via one DistRank range
    * cumsum (no global row window), first boundary crossing at
    * ±ln(19)·10⁶ (α = β = 0.05) read off with a min-day pick. The log
    * constants are compile-time literals — no runtime log() whose ULPs
    * could differ cross-engine (the js_divergence discipline taken all
    * the way). One row: n_days, final llr_micro, crossing day (−1 =
    * never), decision. */
  private val abSprt = QueryDef(
    "ab_sprt",
    (s, d) => {
      // round(ln(11/9)*1e6) = 200671; round(ln(19)*1e6) = 2944439
      val daily = t(s, d, "orders")
        .where(F.year(F.col("o_orderdate")) === 1995 &&
          F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(F.datediff(F.to_date(F.col("o_orderdate")),
          F.lit("1995-01-01")).cast("long").as("day"))
        .agg(F.expr("sum(CASE WHEN o_orderpriority = '1-URGENT' " +
          "THEN 1L ELSE 0L END)").as("x"),
          F.count(F.lit(1)).as("n"))
        .select(F.col("day"),
          F.expr("(2 * x - n) * 200671L").as("step"))
      sprtAssemble(daily)
    },
    Some(sprtOracleSql))

  /** Closing SPRT assembly over a (day, step) integer-micro LLR frame
    * — shared by M48 `ab_sprt` (batch daily aggregate) and G30
    * `stream_sprt` (the SAME aggregate computed as a real streaming
    * aggregation, then assembled batch-side on the drained
    * calendar-bounded frame — the stream_srm sharing pattern): one
    * DistRank range cumsum, first ±ln(19)·10⁶ boundary crossing via a
    * min-day struct pick. */
  private[queries] def sprtAssemble(
      daily: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cum = graft.operators.DistRank.globalCumSum(
      daily, "step", "llr", F.col("day").asc)
    cum.agg(
        F.count(F.lit(1)).as("n_days"),
        F.sum("step").as("llr_micro"),
        F.min(F.when(F.expr("abs(llr) >= 2944439L"), F.col("day")))
          .as("_cross"),
        F.min(F.when(F.expr("abs(llr) >= 2944439L"),
          F.struct(F.col("day"), F.col("llr")))).as("_cs"))
      .select(F.col("n_days"), F.col("llr_micro"),
        F.coalesce(F.col("_cross"), F.lit(-1L)).as("crossing_day"),
        F.expr("""CASE WHEN _cs IS NULL THEN 'continue'
          |WHEN _cs.llr > 0 THEN 'accept_h1'
          |ELSE 'accept_h0' END""".stripMargin).as("decision"))
      .orderBy("n_days")
  }

  // a def, not a val: abSprt above captures it during object init — a
  // val would still be null at that point (forward reference)
  private[queries] def sprtOracleSql: String = ("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS day,
               CAST((2 * sum(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) - count(*)) * 200671
                    AS BIGINT) AS step
        FROM orders
        WHERE year(CAST(o_orderdate AS DATE)) = 1995
          AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY 1),
      c AS (SELECT day, step,
                   CAST(sum(step) OVER (ORDER BY day) AS BIGINT) AS llr
            FROM daily),
      cr AS (SELECT min(day) AS cross_day FROM c
             WHERE abs(llr) >= 2944439),
      sg AS (SELECT c.llr AS llr_at FROM c, cr WHERE c.day = cr.cross_day)
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(step) AS BIGINT) AS llr_micro,
             CAST(coalesce((SELECT cross_day FROM cr), -1) AS BIGINT)
               AS crossing_day,
             CASE WHEN (SELECT cross_day FROM cr) IS NULL THEN 'continue'
                  WHEN (SELECT llr_at FROM sg) > 0 THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision
      FROM c ORDER BY n_days""")

  val all: Seq[QueryDef] = Seq(bitmapRetention, twap, joinCardAudit,
    kcore, funnelTimeStats, abWilson, topkOthers, embedDrift,
    graphModularity, abSprt)
}
