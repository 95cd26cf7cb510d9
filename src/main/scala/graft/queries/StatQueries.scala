package graft.queries

import graft.operators.Hashing
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import Tables.t

/** Wave-17 inventory (r5): sketch/statistics operators that round out
  * the cardinality / order-statistics / drift / frontier toolbox —
  * deterministic HyperLogLog with its own accuracy audit, exact
  * weighted medians, CUSUM changepoint detection, Pareto frontiers via
  * window running-max (never a self-join), domain-bounded ordered
  * string aggregation, and multi-source BFS reachability.
  *
  * House rules as everywhere: integer-only arithmetic (wide products
  * routed through DECIMAL(38,0) / HUGEINT so the division is exact on
  * both engines), every estimate published next to the exact value it
  * approximates, and no operator whose state grows with anything but
  * the quantity it reports on.
  */
object StatQueries {

  // ---------------------------------------------------------------- E48
  /** Deterministic HyperLogLog distinct-count sketch [Flajolet 2007],
    * p=8 (256 registers), built from the portable 60-bit hash so both
    * engines materialize BIT-IDENTICAL registers: bucket = top 8 bits,
    * rho = leading-zero rank of the low 52 bits. The register maximum
    * uses the monotonicity shortcut max(rho) = 53 − bitlen(min w) —
    * one min() aggregate, and bitlen runs on 256 rows, not the corpus.
    * The harmonic sum is kept exact by scaling to Σ 2^(53−r) (≤ 2^61,
    * fits bigint); the raw estimate divides through DECIMAL(38,0) /
    * HUGEINT so it is exact integer arithmetic end to end. Published
    * next to the exact distinct and the signed error in micros — the
    * audit IS the query (same discipline as embed_pq_recall / benford).
    * No small-range linear-counting correction: that needs ln() (not
    * oracle-portable); v_zero is published so a reader can see when the
    * raw estimator is outside its sweet spot.
    *
    * Scale shape: one map-side-combined distinct on (group, hash) —
    * the only corpus-sized shuffle — then a 256-row-per-group register
    * table; the sketch never touches the driver. At 100 TB the same
    * 256 registers cover billions of distincts at ~6.5% (1.04/√256)
    * standard error; the exact branch (n_exact here) is the part you
    * would drop, not the sketch. Exact-distinct cousin: E20's KMV. */
  private val hllDistinct = QueryDef(
    "hll_distinct",
    (s, d) => {
      val li = t(s, d, "lineitem")
      val hv = li.select(F.col("l_returnflag").as("flag"),
        Hashing.hash60(F.col("l_partkey").cast("string")).as("h")).distinct()
      val reg = hv
        .withColumn("b", F.expr("h div 4503599627370496L")) // >> 52
        .withColumn("w", F.expr("h % 4503599627370496L"))
        .groupBy("flag", "b").agg(F.min("w").as("min_w"))
      // broadcast the fixed 256-bucket spine: the distinct-flag side
      // stays distributed, each flag pairs with the broadcast buckets —
      // unhinted this planned as a cartesian shuffle (PlanAuditSpec)
      val spine = li.select(F.col("l_returnflag").as("flag")).distinct()
        .crossJoin(F.broadcast(s.range(256).select(F.col("id").as("b"))))
      val regs = spine.join(reg, Seq("flag", "b"), "left")
        .withColumn("r", F.expr(
          "CASE WHEN min_w IS NULL THEN 0 WHEN min_w = 0 THEN 53 " +
            "ELSE 53 - length(bin(min_w)) END"))
      val agg = regs.groupBy("flag").agg(
        F.expr("sum(shiftleft(1L, CAST(53 - r AS INT)))").as("s_scaled"),
        F.expr("sum(CASE WHEN r = 0 THEN 1 ELSE 0 END)").as("v_zero"))
      val exact = li.groupBy(F.col("l_returnflag").as("flag"))
        .agg(F.countDistinct("l_partkey").as("n_exact"))
      agg.join(exact, "flag")
        .withColumn("est_hll", F.expr(
          "CAST((CAST(718273 AS DECIMAL(38,0)) * 65536 * 9007199254740992) " +
            "div (CAST(s_scaled AS DECIMAL(38,0)) * 1000000) AS BIGINT)"))
        .withColumn("err_micros",
          F.expr("(est_hll - n_exact) * 1000000 div n_exact"))
        .select("flag", "n_exact", "v_zero", "s_scaled", "est_hll", "err_micros")
        .orderBy("flag")
    },
    Some(s"""
      WITH hv AS (
        SELECT DISTINCT l_returnflag AS flag,
               ${Hashing.hash60Sql("CAST(l_partkey AS VARCHAR)")} AS h
        FROM lineitem),
      reg AS (
        SELECT flag, h // 4503599627370496 AS b,
               min(h % 4503599627370496) AS min_w
        FROM hv GROUP BY 1, 2),
      spine AS (
        SELECT f.flag, gs.b
        FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem) f
        CROSS JOIN (SELECT * FROM generate_series(0, 255) t(b)) gs),
      regs AS (
        SELECT s.flag, s.b,
               CASE WHEN r.min_w IS NULL THEN 0
                    WHEN r.min_w = 0 THEN 53
                    ELSE 53 - length(bin(r.min_w)) END AS r
        FROM spine s LEFT JOIN reg r ON s.flag = r.flag AND s.b = r.b),
      agg AS (
        SELECT flag,
               CAST(sum(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS s_scaled,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
        FROM regs GROUP BY 1),
      ex AS (
        SELECT l_returnflag AS flag, count(DISTINCT l_partkey) AS n_exact
        FROM lineitem GROUP BY 1),
      est AS (
        SELECT a.flag, e.n_exact, a.v_zero, a.s_scaled,
               CAST(CAST(718273 AS HUGEINT) * 65536 * 9007199254740992
                    // (CAST(a.s_scaled AS HUGEINT) * 1000000) AS BIGINT)
                 AS est_hll
        FROM agg a JOIN ex e USING (flag))
      SELECT flag, n_exact, v_zero, s_scaled, est_hll,
             CAST((est_hll - n_exact) * 1000000 // n_exact AS BIGINT)
               AS err_micros
      FROM est ORDER BY flag"""))

  // ---------------------------------------------------------------- C51
  /** Exact weighted median per group: the smallest price (in cents, so
    * every comparison is integer) whose quantity-weighted cumulative
    * mass reaches half the group total. The cumsum uses a RANGE frame,
    * so price ties share one cumulative value and the answer does not
    * depend on tie order — the property that makes the result
    * hash-portable without inventing a tiebreaker.
    *
    * Scale shape: one window sort per group (the same cost as any
    * percentile) + one aggregate; for corpora where even a per-group
    * sort is too hot, C27's fixed-bin histogram percentiles are the
    * approximate drop-in. */
  private val weightedMedian = QueryDef(
    "weighted_median",
    (s, d) => {
      val li = t(s, d, "lineitem").select(
        F.col("l_returnflag").as("flag"), F.col("l_linestatus").as("status"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        F.expr("CAST(floor(l_quantity) AS BIGINT)").as("wq"))
      val cum = Window.partitionBy("flag", "status").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val part = Window.partitionBy("flag", "status")
      li.withColumn("cum_w", F.sum("wq").over(cum))
        .withColumn("tot_w", F.sum("wq").over(part))
        .withColumn("n_rows", F.count(F.lit(1)).over(part))
        .where(F.expr("2 * cum_w >= tot_w"))
        .groupBy("flag", "status").agg(
          F.min("cents").as("median_cents"),
          F.max("tot_w").as("tot_w"),
          F.max("n_rows").as("n_rows"))
        .orderBy("flag", "status")
    },
    Some("""
      WITH w AS (
        SELECT l_returnflag AS flag, l_linestatus AS status,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(floor(l_quantity) AS BIGINT) AS wq
        FROM lineitem),
      c AS (
        SELECT flag, status, cents, wq,
               sum(wq) OVER (PARTITION BY flag, status ORDER BY cents
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
               sum(wq) OVER (PARTITION BY flag, status) AS tot_w,
               count(*) OVER (PARTITION BY flag, status) AS n_rows
        FROM w)
      SELECT flag, status, min(cents) AS median_cents,
             CAST(max(tot_w) AS BIGINT) AS tot_w, max(n_rows) AS n_rows
      FROM c WHERE 2 * cum_w >= tot_w
      GROUP BY 1, 2 ORDER BY flag, status"""))

  // ---------------------------------------------------------------- E49
  /** CUSUM changepoint detection [Page 1954] over daily event volumes:
    * S_i = max(0, S_{i−1} + x_i − k) against the reference rate
    * k = mean daily count (integer division — exact both engines),
    * reporting the peak statistic, the day it was first reached, and an
    * alarm flag at the h = k threshold. The recursion is inherently
    * ordered, so it runs as a two-level aggregate: corpus → daily
    * counts (map-side combined — the only data-sized shuffle), then
    * per-series array fold over the sorted day list. Per-series state
    * is bounded by CALENDAR DAYS, not data volume — the array is
    * metadata-sized at any corpus scale. The oracle replays the same
    * recursion as a recursive CTE, a genuinely independent formulation.
    *
    * The uniform synthetic event stream stays below threshold — the
    * audit "no drift" answer, exactly what Benford's loud failure is
    * on the other side of. */
  private val cusumDrift = QueryDef(
    "cusum_drift",
    (s, d) => {
      val dc = t(s, d, "events")
        .groupBy(F.col("event_type"), F.to_date(F.col("ts")).as("day"))
        .agg(F.count(F.lit(1)).as("cnt"))
      val per = dc.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct(F.col("day"), F.col("cnt"))))
          .as("arr"),
        F.sum("cnt").as("tot"), F.count(F.lit(1)).as("n_days"))
        .withColumn("k_ref", F.expr("tot div n_days"))
      val acc = per.withColumn("acc", F.aggregate(
        F.col("arr"),
        F.struct(F.lit(0L).as("s"), F.lit(0L).as("smax"),
          F.lit(null).cast("date").as("bday")),
        (a, x) => {
          val s2 = F.greatest(F.lit(0L), a("s") + x("cnt") - F.col("k_ref"))
          F.struct(s2.as("s"),
            F.when(s2 > a("smax"), s2).otherwise(a("smax")).as("smax"),
            F.when(s2 > a("smax"), x("day")).otherwise(a("bday")).as("bday"))
        }))
      acc.select(F.col("event_type"), F.col("n_days"), F.col("k_ref"),
        F.col("acc.smax").as("max_cusum"),
        F.col("acc.bday").as("peak_day"),
        F.expr("CAST(acc.smax > k_ref AS BIGINT)").as("alarm"))
        .orderBy("event_type")
    },
    Some("""
      WITH RECURSIVE dc AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2),
      seq AS (
        SELECT event_type, day, cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM dc),
      kt AS (
        SELECT event_type, CAST(sum(cnt) // count(*) AS BIGINT) AS k_ref,
               count(*) AS n_days
        FROM dc GROUP BY 1),
      r AS (
        SELECT s.event_type, s.rn,
               greatest(0, s.cnt - k.k_ref) AS cs,
               greatest(0, s.cnt - k.k_ref) AS smax,
               CASE WHEN s.cnt - k.k_ref > 0 THEN s.day END AS bday
        FROM seq s JOIN kt k USING (event_type) WHERE s.rn = 1
        UNION ALL
        SELECT s.event_type, s.rn,
               greatest(0, r.cs + s.cnt - k.k_ref),
               CASE WHEN greatest(0, r.cs + s.cnt - k.k_ref) > r.smax
                    THEN greatest(0, r.cs + s.cnt - k.k_ref) ELSE r.smax END,
               CASE WHEN greatest(0, r.cs + s.cnt - k.k_ref) > r.smax
                    THEN s.day ELSE r.bday END
        FROM r
        JOIN seq s ON s.event_type = r.event_type AND s.rn = r.rn + 1
        JOIN kt k ON k.event_type = r.event_type)
      SELECT r.event_type, k.n_days, k.k_ref,
             CAST(r.smax AS BIGINT) AS max_cusum, r.bday AS peak_day,
             CAST(r.smax > k.k_ref AS BIGINT) AS alarm
      FROM r JOIN kt k ON k.event_type = r.event_type AND r.rn = k.n_days
      ORDER BY r.event_type"""))

  // ---------------------------------------------------------------- C52
  /** Pareto frontier (2-D skyline) per brand: parts not dominated on
    * (price ↓, size ↑). Domination splits exactly into two window
    * running-maxima over ONE price-sorted pass — strictly-cheaper rows
    * (RANGE … 1 PRECEDING on integer cents) for the (<, ≥) case and
    * price-ties-included (RANGE … CURRENT ROW) for the (≤, >) case —
    * so the skyline costs one window sort instead of the O(n²)
    * self-join the textbook NOT EXISTS runs. The oracle IS that naive
    * NOT EXISTS, which makes the two formulations genuinely
    * independent checks of each other.
    *
    * Scale shape: one window sort per brand; no join at all. Identical
    * duplicated points both survive (neither strictly dominates). */
  private val paretoFront = QueryDef(
    "pareto_front",
    (s, d) => {
      val p = t(s, d, "part").select(
        F.col("p_brand").as("brand"), F.col("p_partkey").as("partkey"),
        F.expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("cents"),
        F.col("p_size").cast("long").as("size"))
      val strict = Window.partitionBy("brand").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
      val le = Window.partitionBy("brand").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      p.withColumn("max_sz_cheaper", F.max("size").over(strict))
        .withColumn("max_sz_le", F.max("size").over(le))
        .where(F.expr(
          "(max_sz_cheaper IS NULL OR max_sz_cheaper < size) " +
            "AND max_sz_le <= size"))
        .select("brand", "partkey", "cents", "size")
        .orderBy("brand", "partkey")
    },
    Some("""
      WITH p AS (
        SELECT p_brand AS brand, p_partkey AS partkey,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
               CAST(p_size AS BIGINT) AS size
        FROM part)
      SELECT brand, partkey, cents, size
      FROM p a
      WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.brand = a.brand
          AND b.cents <= a.cents AND b.size >= a.size
          AND (b.cents < a.cents OR b.size > a.size))
      ORDER BY brand, partkey"""))

  // ---------------------------------------------------------------- C53
  /** Ordered string aggregation (ANSI LISTAGG / string_agg): nation
    * roster per region, alphabetical, comma-joined — sorted INSIDE the
    * aggregate so the result is deterministic without any global
    * ordering assumption. Safe here because the aggregated domain is
    * bounded (≤ 25 nations); for unbounded domains the bounded-head
    * discipline applies instead — aggregate a k-limited heap (C12's
    * top_k / E10's posting heads), never an open-ended concat. */
  private val listaggOrdered = QueryDef(
    "listagg_ordered",
    (s, d) => {
      t(s, d, "nation")
        .join(F.broadcast(t(s, d, "region")),
          F.col("n_regionkey") === F.col("r_regionkey"))
        .groupBy(F.col("r_name").as("region"))
        .agg(F.count(F.lit(1)).as("n_nations"),
          F.array_join(F.array_sort(F.collect_list(F.col("n_name"))), ",")
            .as("nations"))
        .orderBy("region")
    },
    Some("""
      SELECT r_name AS region, count(*) AS n_nations,
             string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1 ORDER BY region"""))

  // ---------------------------------------------------------------- D22
  /** Multi-source BFS reachability with hop counts over the co-purchase
    * graph (parts sharing an order): min-hop per node from the seed set
    * within 2 hops — the "blast radius" query behind contamination
    * spread, recall expansion and graph feature engineering. Each round
    * keeps only the FRONTIER (nodes not yet labelled), so expansion
    * work is proportional to newly reached nodes — while the oracle's
    * recursive CTE blindly re-expands every path and min()s at the end,
    * which is exactly the formulation-independence the check wants.
    *
    * Scale shape: the pair list is the SHARED staged build
    * ([[Staged.coPurchasePairs]], also feeding D23/C49 — per-order
    * fan-out bound, the same block discipline as D21), used as RAW
    * MULTI-EDGES — min-hop BFS is invariant to edge multiplicity,
    * frontier-level distinct absorbs it, and skipping the edge-dedup
    * shuffle of the largest intermediate measured 40% faster at sf0.1
    * (5.0 → 3.0 s, `runMain graft.Bench graph_reach` A/B; D23 keeps the distinct
    * because degree semantics need it). Then `hops` joins against a
    * frontier that shrinks monotonically; each round is one shuffle on
    * node id. Fixed hop budget ⇒ bounded rounds, no convergence loop. */
  private val graphReach = QueryDef(
    "graph_reach",
    (s, d) => {
      val pairs = Staged.coPurchasePairs(s, d)
      val edges = graft.operators.CacheScope.persist(
        pairs.select(F.col("pa").as("u"), F.col("pb").as("v"))
          .unionAll(pairs.select(F.col("pb").as("u"), F.col("pa").as("v"))))
      val seeds = t(s, d, "part")
        .where(F.expr("p_partkey % 97 = 0"))
        .select(F.col("p_partkey").cast("long").as("node"))
      var reached = seeds.withColumn("hop", F.lit(0L))
      for (h <- 1 to 2) {
        val frontier = reached.where(F.col("hop") === (h - 1))
        val next = frontier.join(edges, frontier("node") === edges("u"))
          .select(F.col("v").as("node")).distinct()
          .join(reached.select("node"), Seq("node"), "left_anti")
          .withColumn("hop", F.lit(h.toLong))
        reached = reached.unionAll(next)
      }
      reached.orderBy("node")
    },
    Some("""
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL SELECT pb, pa FROM pairs),
      r AS (
        SELECT CAST(p_partkey AS BIGINT) AS node, 0 AS hop
        FROM part WHERE p_partkey % 97 = 0
        UNION ALL
        SELECT e.v, r.hop + 1
        FROM r JOIN edges e ON e.u = r.node WHERE r.hop < 2)
      SELECT node, CAST(min(hop) AS BIGINT) AS hop
      FROM r GROUP BY 1 ORDER BY node"""))

  // ---------------------------------------------------------------- C56
  /** ANSI PERCENTILE_DISC (p25/p50/p75/p90) per group: the smallest
    * value whose cumulative row count reaches p·n — always an ACTUAL
    * data value (no interpolation), selected by the integer predicate
    * 100·cum ≥ p·n, so the whole computation is integer-exact (C14's
    * interpolated percentiles are the _CONT counterpart). One RANGE-
    * frame cumsum (ties share a cumulative value) + one conditional
    * aggregate picks all four percentiles in a single pass. */
  private val percentileDisc = QueryDef(
    "percentile_disc",
    (s, d) => {
      val li = t(s, d, "lineitem").select(
        F.col("l_returnflag").as("flag"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val cum = Window.partitionBy("flag").orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val part = Window.partitionBy("flag")
      val c = li.withColumn("cum_n", F.count(F.lit(1)).over(cum))
        .withColumn("tot_n", F.count(F.lit(1)).over(part))
      c.groupBy("flag").agg(
        F.min(F.when(F.expr("100 * cum_n >= 25 * tot_n"), F.col("cents")))
          .as("p25_cents"),
        F.min(F.when(F.expr("100 * cum_n >= 50 * tot_n"), F.col("cents")))
          .as("p50_cents"),
        F.min(F.when(F.expr("100 * cum_n >= 75 * tot_n"), F.col("cents")))
          .as("p75_cents"),
        F.min(F.when(F.expr("100 * cum_n >= 90 * tot_n"), F.col("cents")))
          .as("p90_cents"),
        F.max("tot_n").as("n"))
        .orderBy("flag")
    },
    Some("""
      WITH w AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      c AS (
        SELECT flag, cents,
               count(*) OVER (PARTITION BY flag ORDER BY cents
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
               count(*) OVER (PARTITION BY flag) AS tot_n
        FROM w)
      SELECT flag,
             min(CASE WHEN 100 * cum_n >= 25 * tot_n THEN cents END) AS p25_cents,
             min(CASE WHEN 100 * cum_n >= 50 * tot_n THEN cents END) AS p50_cents,
             min(CASE WHEN 100 * cum_n >= 75 * tot_n THEN cents END) AS p75_cents,
             min(CASE WHEN 100 * cum_n >= 90 * tot_n THEN cents END) AS p90_cents,
             max(tot_n) AS n
      FROM c GROUP BY 1 ORDER BY flag"""))

  val all: Seq[QueryDef] = Seq(hllDistinct, weightedMedian, cusumDrift,
    paretoFront, listaggOrdered, graphReach, percentileDisc)
}
