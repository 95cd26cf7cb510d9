package graft.queries

import org.apache.spark.sql.{functions => F}

/** Wave-48 inventory (r10): local graph-shape metrics over the staged
  * co-purchase part graph — the per-node refinement of D20's global
  * triangle census (which runs on the near-dup pair graph; that graph's
  * LSH clusters are cliques BY CONSTRUCTION, so its coefficient
  * histogram is the degenerate {no-wedge, 1.0} pair — the co-purchase
  * graph is where the distribution carries signal).
  *
  * Reference scope: flycatcher validates schemas/columns (fields.py);
  * graph analytics over the curation graphs are part of the surface
  * this engine adds on top. */
object GraphMetricsQueries {

  // ---------------------------------------------------------------- D57
  /** Local clustering coefficient distribution over the co-purchase
    * graph ([[graft.operators.Graph.localClustering]]): per node,
    * c(v) = t(v) / (d(v)(d(v)−1)/2) — how clique-like each part's
    * co-purchase neighborhood is (basket regulars vs long-tail parts),
    * the standard small-world read next to the D23 degree histogram
    * and D51's community modularity. Buckets are exact integer
    * floor((100·t)/w) clipped to 99 — percent granularity (deg<2
    * nodes, which have no wedge, report bucket −1) — and per-node
    * coefficients are carried as integer
    * MICROS so the per-bucket mean is one exact long sum + one closing
    * double division — no cross-node double summation.
    *
    * Scale shape: degree orientation bounds the wedge fan-out by ~√m
    * (41 M wedges from 1.2 M edges at sf0.1 — Σ d² would be 10× that);
    * the per-node credit pass is triangle-output-sized (explode ×3 +
    * map-side-combined count), and the histogram is ≤ 101 rows. The
    * wedge enumeration is the deliberate exact cost — this is the
    * per-node truth a sampled estimator would be validated against. */
  private val clusteringCoeff = QueryDef(
    "clustering_coeff",
    (s, d) => {
      val pn = Staged.clusteringExact(s, d)
      pn.withColumn("_w", F.expr("dg * (dg - 1) div 2"))
        .withColumn("_micro", F.expr(
          "CASE WHEN _w = 0 THEN 0L ELSE (n_tri * 1000000) div _w END"))
        .withColumn("bucket", F.expr(
          "CASE WHEN _w = 0 THEN -1L ELSE least(99L, (n_tri * 100) div _w) END"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_nodes"), F.sum("_micro").as("_sm"))
        .select(F.col("bucket"), F.col("n_nodes"),
          F.expr("round(CAST(_sm AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_coeff"))
        .orderBy("bucket")
    },
    Some("""WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS dg
        FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
        GROUP BY 1),
      o AS MATERIALIZED (
        SELECT CASE WHEN da.dg < db.dg
                      OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.dg < db.dg
                      OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst
        FROM e JOIN deg da ON e.pa = da.v JOIN deg db ON e.pb = db.v),
      w AS (SELECT e1.src AS apex, e1.dst AS x, e2.dst AS y
            FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
      tri AS MATERIALIZED (
        SELECT apex, x, y FROM w
        WHERE EXISTS (SELECT 1 FROM e
                      WHERE e.pa = w.x AND e.pb = w.y)),
      tv AS (SELECT apex AS v FROM tri UNION ALL SELECT x FROM tri
             UNION ALL SELECT y FROM tri),
      tc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri
             FROM tv GROUP BY 1),
      pn AS (SELECT deg.v, deg.dg, coalesce(tc.n_tri, 0) AS n_tri,
                    deg.dg * (deg.dg - 1) // 2 AS w_v
             FROM deg LEFT JOIN tc ON deg.v = tc.v),
      b AS (SELECT CASE WHEN w_v = 0 THEN -1
                        ELSE least(99, (n_tri * 100) // w_v) END AS bucket,
                   CASE WHEN w_v = 0 THEN 0
                        ELSE (n_tri * 1000000) // w_v END AS micro
            FROM pn)
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes,
             round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_coeff
      FROM b GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- D59
  /** Newman degree assortativity of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over the symmetric directed edge
    * list [Newman 2002]: r > 0 hubs prefer hubs (rich-club), r < 0
    * hubs fan out to leaves (hub-and-spoke). Published beside D23's
    * degree histogram and D57's clustering spectrum as the third
    * standard topology read. Exact integers end to end: with x, y the
    * endpoint degrees over the M = 2m directed edges,
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — both sides widened
    * through DECIMAL(38,0)/HUGEINT, ONE §5 string-routed closing
    * double division (the symmetric list makes Σx = Σy and Σx² = Σy²,
    * collapsing Newman's four moments to three).
    *
    * Scale shape: two node-keyed joins (edges ⋈ degrees per endpoint —
    * degrees are node-sized, NOT broadcast at 100 TB) + one map-side-
    * combined aggregate to a single row. Edge-linear. */
  private val degreeAssortativity = QueryDef(
    "degree_assortativity",
    (s, d) => {
      val e = Staged.coPurchaseEdges(s, d)
      val dir = e.select(F.col("pa").as("u"), F.col("pb").as("v"))
        .unionByName(e.select(F.col("pb").as("u"), F.col("pa").as("v")))
      val deg = dir.groupBy("u").agg(F.count(F.lit(1)).as("dg"))
      val nNodes = deg.agg(F.count(F.lit(1)).as("n_nodes"))
      dir
        .join(deg.select(F.col("u"), F.col("dg").as("x")), "u")
        .join(deg.select(F.col("u").as("v"), F.col("dg").as("y")), "v")
        .agg(F.count(F.lit(1)).as("_m"),
          F.sum(F.col("x").cast("decimal(38,0)")).as("_sx"),
          F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).as("_sxy"),
          F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).as("_sxx"))
        .crossJoin(F.broadcast(nNodes))
        .withColumn("_num", F.expr("_m * _sxy - _sx * _sx"))
        .withColumn("_den", F.expr("_m * _sxx - _sx * _sx"))
        .select(F.col("n_nodes"), F.expr("_m div 2").as("n_edges"),
          F.expr("""CASE WHEN _den <= 0 THEN CAST(0.0 AS DOUBLE) ELSE
            |round(CAST(CAST(_num AS STRING) AS DOUBLE)
            |      / CAST(CAST(_den AS STRING) AS DOUBLE), 6)
            |END""".stripMargin).as("assortativity"))
        .orderBy("n_nodes")
    },
    Some("""WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      dir AS (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg
              FROM dir GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
      j AS (SELECT du.dg AS x, dv.dg AS y
            FROM dir JOIN deg du ON dir.u = du.u
                     JOIN deg dv ON dir.v = dv.u),
      a AS (SELECT CAST(count(*) AS BIGINT) AS m,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(x AS HUGEINT) * y) AS sxy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx
            FROM j)
      SELECT n_nodes, CAST(m // 2 AS BIGINT) AS n_edges,
             CASE WHEN m * sxx - sx * sx <= 0 THEN CAST(0.0 AS DOUBLE)
               ELSE round(
                 CAST(CAST(m * sxy - sx * sx AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(m * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
             END AS assortativity
      FROM a, nn ORDER BY n_nodes"""))

  /** Sample budget for D60/D61: closures are checked among the K
    * smallest-hash neighbors per node (≤ C(30,2) = 435 candidate pairs
    * per node — vs Σd² unsampled), and the estimate is EXACT for every
    * node with degree ≤ 30. */
  val SAMPLE_K = 30

  // ---------------------------------------------------------------- D60
  /** SAMPLED local clustering coefficient distribution — the scale path
    * for D57, whose exact wedge enumeration is the suite's heaviest
    * query by design ([[graft.operators.Graph.localClusteringSampled]]:
    * per node, deterministic hash60-min K-neighbor draws, closures
    * counted among their C(k_eff,2) pairs; unbiased since a hash-min
    * K-subset includes each neighbor pair with equal probability, and
    * exact wherever d(v) ≤ K). Same output shape as D57: per-node
    * estimates carried as integer micros, percent buckets, deg<2 nodes
    * at bucket −1. D61 publishes the signed per-bucket error against
    * D57's exact truth.
    *
    * Scale shape: one edge-linear per-node top-K pass (node-keyed hash
    * window), a ≤ n·C(K,2) candidate-pair frame (cost tracks the
    * sample budget, NOT the wedge count), the same shuffled-hash
    * closure semi-join as D57, ≤ 101-row histogram. */
  private val clusteringCoeffSampled = QueryDef(
    "clustering_coeff_sampled",
    (s, d) => {
      val pn = Staged.clusteringSampled(s, d)
      pn.withColumn("_micro", F.expr(
          "CASE WHEN n_pairs = 0 THEN 0L" +
            " ELSE (n_closed * 1000000) div n_pairs END"))
        .withColumn("bucket", F.expr(
          "CASE WHEN n_pairs = 0 THEN -1L" +
            " ELSE least(99L, (n_closed * 100) div n_pairs) END"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_nodes"), F.sum("_micro").as("_sm"))
        .select(F.col("bucket"), F.col("n_nodes"),
          F.expr("round(CAST(_sm AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_coeff"))
        .orderBy("bucket")
    },
    Some(s"""WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      dir AS (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb, pa FROM e),
      deg AS (SELECT u, CAST(count(*) AS BIGINT) AS dg
              FROM dir GROUP BY 1),
      samp AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY
            ${graft.operators.Hashing.hash60Sql(
              "CAST(u AS VARCHAR) || ',' || CAST(v AS VARCHAR)")}, v)
            AS rn
          FROM dir) WHERE rn <= $SAMPLE_K),
      wp AS (SELECT s1.u, s1.v AS x, s2.v AS y
             FROM samp s1 JOIN samp s2 ON s1.u = s2.u AND s1.v < s2.v),
      cl AS (SELECT u, CAST(count(*) AS BIGINT) AS n_closed
             FROM wp
             WHERE EXISTS (SELECT 1 FROM e
                           WHERE e.pa = wp.x AND e.pb = wp.y)
             GROUP BY 1),
      ke AS (SELECT u, CAST(count(*) AS BIGINT) AS k_eff
             FROM samp GROUP BY 1),
      pn AS (SELECT deg.u, deg.dg,
                    coalesce(ke.k_eff, 0) * (coalesce(ke.k_eff, 0) - 1)
                      // 2 AS n_pairs,
                    coalesce(cl.n_closed, 0) AS n_closed
             FROM deg LEFT JOIN ke ON deg.u = ke.u
                      LEFT JOIN cl ON deg.u = cl.u),
      b AS (SELECT CASE WHEN n_pairs = 0 THEN -1
                        ELSE least(99, (n_closed * 100) // n_pairs)
                   END AS bucket,
                   CASE WHEN n_pairs = 0 THEN 0
                        ELSE (n_closed * 1000000) // n_pairs END AS micro
            FROM pn)
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes,
             round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_coeff
      FROM b GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- D61
  /** Per-bucket honesty audit of the D60 estimator against D57's exact
    * per-node truth — the D14c pattern (the audit pays the exact cost;
    * the serving query D60 doesn't): nodes grouped by their EXACT
    * percent bucket, publishing node count, the exact and sampled mean
    * coefficients, and the SIGNED mean error in micros. Per-node values
    * ride as integer micros; the two mean columns and the signed error
    * are each one closing double division. */
  private val clusteringSampleAudit = QueryDef(
    "clustering_sample_audit",
    (s, d) => {
      val ex = Staged.clusteringExact(s, d)
        .withColumn("_w", F.expr("dg * (dg - 1) div 2"))
        .select(F.col("v"),
          F.expr("CASE WHEN _w = 0 THEN 0L" +
            " ELSE (n_tri * 1000000) div _w END").as("_me"),
          F.expr("CASE WHEN _w = 0 THEN -1L" +
            " ELSE least(99L, (n_tri * 100) div _w) END").as("bucket"))
      val sp = Staged.clusteringSampled(s, d)
        .select(F.col("v"),
          F.expr("CASE WHEN n_pairs = 0 THEN 0L" +
            " ELSE (n_closed * 1000000) div n_pairs END").as("_ms"))
      ex.join(sp, "v")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n_nodes"),
          F.sum("_me").as("_se"), F.sum("_ms").as("_ss"))
        .select(F.col("bucket"), F.col("n_nodes"),
          F.expr("round(CAST(_se AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_exact"),
          F.expr("round(CAST(_ss AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_sampled"),
          F.expr("round((CAST(_ss AS DOUBLE) - CAST(_se AS DOUBLE))" +
            " / n_nodes, 1)").as("err_micro"))
        .orderBy("bucket")
    },
    Some(s"""WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS dg
        FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
        GROUP BY 1),
      o AS MATERIALIZED (
        SELECT CASE WHEN da.dg < db.dg
                      OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.dg < db.dg
                      OR (da.dg = db.dg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst
        FROM e JOIN deg da ON e.pa = da.v JOIN deg db ON e.pb = db.v),
      w AS (SELECT e1.src AS apex, e1.dst AS x, e2.dst AS y
            FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst),
      tri AS MATERIALIZED (
        SELECT apex, x, y FROM w
        WHERE EXISTS (SELECT 1 FROM e
                      WHERE e.pa = w.x AND e.pb = w.y)),
      tv AS (SELECT apex AS v FROM tri UNION ALL SELECT x FROM tri
             UNION ALL SELECT y FROM tri),
      tc AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri
             FROM tv GROUP BY 1),
      exct AS (SELECT deg.v,
                      CASE WHEN deg.dg * (deg.dg - 1) // 2 = 0 THEN 0
                           ELSE (coalesce(tc.n_tri, 0) * 1000000)
                                // (deg.dg * (deg.dg - 1) // 2)
                      END AS me,
                      CASE WHEN deg.dg * (deg.dg - 1) // 2 = 0 THEN -1
                           ELSE least(99, (coalesce(tc.n_tri, 0) * 100)
                                // (deg.dg * (deg.dg - 1) // 2))
                      END AS bucket
               FROM deg LEFT JOIN tc ON deg.v = tc.v),
      dir AS (SELECT pa AS u, pb AS v FROM e
              UNION ALL SELECT pb, pa FROM e),
      samp AS MATERIALIZED (
        SELECT u, v FROM (
          SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY
            ${graft.operators.Hashing.hash60Sql(
              "CAST(u AS VARCHAR) || ',' || CAST(v AS VARCHAR)")}, v)
            AS rn
          FROM dir) WHERE rn <= $SAMPLE_K),
      wp AS (SELECT s1.u, s1.v AS x, s2.v AS y
             FROM samp s1 JOIN samp s2 ON s1.u = s2.u AND s1.v < s2.v),
      cl AS (SELECT u, CAST(count(*) AS BIGINT) AS n_closed
             FROM wp
             WHERE EXISTS (SELECT 1 FROM e
                           WHERE e.pa = wp.x AND e.pb = wp.y)
             GROUP BY 1),
      ke AS (SELECT u, CAST(count(*) AS BIGINT) AS k_eff
             FROM samp GROUP BY 1),
      sm AS (SELECT du.u AS v,
                    CASE WHEN coalesce(ke.k_eff, 0)
                              * (coalesce(ke.k_eff, 0) - 1) // 2 = 0
                         THEN 0
                         ELSE (coalesce(cl.n_closed, 0) * 1000000)
                              // (coalesce(ke.k_eff, 0)
                                 * (coalesce(ke.k_eff, 0) - 1) // 2)
                    END AS ms
             FROM (SELECT DISTINCT u FROM dir) du
             LEFT JOIN ke ON du.u = ke.u LEFT JOIN cl ON du.u = cl.u)
      SELECT CAST(exct.bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes,
             round(CAST(sum(me) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_exact,
             round(CAST(sum(ms) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_sampled,
             round((CAST(sum(ms) AS DOUBLE) - CAST(sum(me) AS DOUBLE))
                   / count(*), 1) AS err_micro
      FROM exct JOIN sm ON exct.v = sm.v
      GROUP BY 1 ORDER BY 1"""))

  /** D65's sample budget (pivot sources) and hop horizon. 8 sources ×
    * 2 hops keeps the oracle's path-recursive CTE bounded (the BFS
    * frontier is deduped on the Spark side; DuckDB's recursion
    * enumerates paths, so the horizon is the fan-out guard — D22's
    * discipline). */
  val HC_SOURCES = 8
  val HC_HOPS = 2

  // ---------------------------------------------------------------- D65
  /** SAMPLED harmonic closeness centrality over the co-purchase graph —
    * the pivot-sampling read of "which parts sit nearest everything"
    * [Eppstein-Wang 2004 style: BFS from K deterministic hash60-min
    * pivot sources, H(v) ≈ Σ_{s reaching v} 1/d(s,v)], bounded to a
    * fixed hop horizon the way any 100 TB BFS is. Exact integer micros:
    * per (source, node) the min-hop distance from a frontier BFS
    * (frontier deduped and anti-joined per hop — each round one
    * node-keyed shuffle, never a path enumeration), contribution
    * 10⁶ div hop, summed exactly. Publishes the top 100 most central
    * nodes (h_micro DESC, node) with their reaching-source counts —
    * the hub shortlist a curation pipeline reads.
    *
    * Scale shape: K·|reachable| state rows, hop-bounded rounds; the
    * pivot count is the precision budget, the hop horizon the cost
    * budget. */
  /** Shared D65/D68 estimator core: deduped-frontier BFS from the
    * HC_SOURCES hash60-min pivots, bounded to HC_HOPS. Returns the
    * per-node estimate frame (node, n_sources, h_micro) for every
    * reached node. BUILD function for [[Staged.harmonicEstimates]]
    * (r14) — consumers read the staged parquet, never call this
    * directly. */
  private[queries] def pivotHarmonicBuild(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Staged.coPurchaseEdges(s, d)
    val edges = graft.operators.CacheScope.persist(
      e.select(F.col("pa").as("u"), F.col("pb").as("v"))
        .unionAll(e.select(F.col("pb").as("u"), F.col("pa").as("v"))))
    val nodes = edges.select(F.col("u").as("nv")).distinct()
    val srcs = nodes
      .withColumn("_h", graft.operators.Hashing.hash60(
        F.col("nv").cast("string")))
      .orderBy(F.col("_h"), F.col("nv")).limit(HC_SOURCES)
      .select(F.col("nv").as("src"))
    var reached = srcs.select(F.col("src"), F.col("src").as("node"))
      .withColumn("hop", F.lit(0L))
    for (h <- 1 to HC_HOPS) {
      val frontier = reached.where(F.col("hop") === (h - 1))
      val next = frontier.join(edges, frontier("node") === edges("u"))
        .select(F.col("src"), F.col("v").as("node")).distinct()
        .join(reached.select("src", "node"), Seq("src", "node"),
          "left_anti")
        .withColumn("hop", F.lit(h.toLong))
      reached = reached.unionAll(next)
    }
    reached.where(F.col("hop") > 0)
      .groupBy("node")
      .agg(F.count(F.lit(1)).as("n_sources"),
        F.sum(F.expr("1000000 div hop")).as("h_micro"))
  }

  /** Shared oracle prefix mirroring [[pivotHarmonic]]: pairs/edges/
    * nodes/srcs, the hop-bounded recursive BFS `r`, per-(src, node)
    * min-hop `m`, and the per-node estimate `h` (node, n_sources,
    * h_micro). Callers prepend WITH RECURSIVE. */
  private val hcOracleCtes: String =
    s"""pairs AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs),
       |nodes AS (SELECT DISTINCT u AS nv FROM edges),
       |srcs AS (SELECT nv AS src FROM (
       |           SELECT nv, row_number() OVER (ORDER BY
       |             ${graft.operators.Hashing.hash60Sql(
                       "CAST(nv AS VARCHAR)")}, nv) AS rn
       |           FROM nodes) WHERE rn <= $HC_SOURCES),
       |r AS (SELECT src, src AS node, 0 AS hop FROM srcs
       |      UNION ALL
       |      SELECT r.src, e.v, r.hop + 1
       |      FROM r JOIN edges e ON e.u = r.node WHERE r.hop < $HC_HOPS),
       |m AS (SELECT src, node, CAST(min(hop) AS BIGINT) AS hop
       |      FROM r GROUP BY 1, 2),
       |h AS (SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
       |             CAST(sum(1000000 // hop) AS BIGINT) AS h_micro
       |      FROM m WHERE hop > 0 GROUP BY 1)""".stripMargin

  private val harmonicCentrality = QueryDef(
    "harmonic_centrality",
    (s, d) => Staged.harmonicEstimates(s, d)
      .select(F.col("node"), F.col("n_sources"), F.col("h_micro"),
        F.expr("CAST(h_micro AS DOUBLE) / 1000000.0").as("harmonic"))
      .orderBy(F.col("h_micro").desc, F.col("node")).limit(100),
    Some(s"""WITH RECURSIVE $hcOracleCtes
      SELECT node, n_sources, h_micro,
             CAST(h_micro AS DOUBLE) / 1000000.0 AS harmonic
      FROM h ORDER BY h_micro DESC, node LIMIT 100"""))

  /** D68's audit cohort modulus (the D31 anchor-cohort discipline: the
    * exact side's cost is |cohort|·d̄², bounded by the slice, never the
    * corpus) and degree bucket width. */
  val HS_MOD = 199
  val HS_BUCKET = 16

  // ---------------------------------------------------------------- D68
  /** Honesty audit of the D65 pivot estimator — the D61 pattern applied
    * to harmonic centrality (the audit pays the exact cost on a bounded
    * slice; the serving query doesn't): for the deterministic cohort
    * v ≡ 0 (mod HS_MOD), the EXACT hop-2-truncated harmonic centrality
    * H₂(v) = 10⁶·|N₁(v)| + 5·10⁵·|N₂(v)| (one two-step expansion,
    * direct neighbors anti-joined out — |cohort|·d̄² rows), against the
    * pivot estimate SCALED to population (h_micro·n div K — a hash-min
    * pivot set is a uniform K-subset, so each node is a pivot with
    * probability K/n and the scaled estimate targets H₂). Published per
    * degree bucket (integer width-HS_BUCKET buckets — no log2 floor,
    * whose boundary ULPs differ between engines): node count, mean
    * exact, mean scaled estimate, signed mean error in micros — the
    * same three-column honesty read as D61. */
  private val harmonicSampleAudit = QueryDef(
    "harmonic_sample_audit",
    (s, d) => {
      val e = Staged.coPurchaseEdges(s, d)
      val edges = graft.operators.CacheScope.persist(
        e.select(F.col("pa").as("u"), F.col("pb").as("v"))
          .unionAll(e.select(F.col("pb").as("u"), F.col("pa").as("v"))))
      val nn = edges.select(F.col("u")).distinct()
        .agg(F.count(F.lit(1)).as("n"))
      val anchor = edges.where(F.col("u") % HS_MOD === 0)
      val deg = anchor.groupBy(F.col("u").as("v"))
        .agg(F.count(F.lit(1)).as("n1"))
      val hop2 = F.broadcast(anchor.select(F.col("u").as("v"),
          F.col("v").as("_z")))
        .join(edges.select(F.col("u").as("_z"), F.col("v").as("w")), "_z")
        .where(F.col("w") =!= F.col("v"))
        .select("v", "w").distinct()
        .join(anchor.select(F.col("u").as("v"), F.col("v").as("w")),
          Seq("v", "w"), "left_anti")
        .groupBy("v").agg(F.count(F.lit(1)).as("n2"))
      val ex = deg.join(hop2, Seq("v"), "left").na.fill(0L, Seq("n2"))
        .select(F.col("v"), F.col("n1"),
          F.expr("1000000 * n1 + 500000 * n2").as("_hex"))
      val est = Staged.harmonicEstimates(s, d)
        .select(F.col("node").as("v"), F.col("h_micro"))
      ex.join(est, Seq("v"), "left").na.fill(0L, Seq("h_micro"))
        .crossJoin(F.broadcast(nn))
        .select(F.col("n1"), F.col("_hex"),
          F.expr(s"CAST(CAST(h_micro AS DECIMAL(38,0)) * n div " +
            s"$HC_SOURCES AS BIGINT)").as("_hs"))
        .groupBy(F.expr(s"n1 div $HS_BUCKET").as("bucket"))
        .agg(F.count(F.lit(1)).as("n_nodes"),
          F.sum("_hex").as("_se"), F.sum("_hs").as("_ss"))
        .select(F.col("bucket"), F.col("n_nodes"),
          F.expr("round(CAST(_se AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_exact"),
          F.expr("round(CAST(_ss AS DOUBLE) / n_nodes / 1000000.0, 6)")
            .as("mean_est"),
          F.expr("round((CAST(_ss AS DOUBLE) - CAST(_se AS DOUBLE))" +
            " / n_nodes, 1)").as("err_micro"))
        .orderBy("bucket")
    },
    Some(s"""WITH RECURSIVE $hcOracleCtes,
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      anchor AS (SELECT u, v FROM edges WHERE u % $HS_MOD = 0),
      sdeg AS (SELECT u AS v, CAST(count(*) AS BIGINT) AS n1
               FROM anchor GROUP BY 1),
      h2 AS (SELECT DISTINCT a.u AS v, e.v AS w
             FROM anchor a JOIN edges e ON e.u = a.v
             WHERE e.v <> a.u),
      n2c AS (SELECT h2.v, CAST(count(*) AS BIGINT) AS n2
              FROM h2
              WHERE NOT EXISTS (SELECT 1 FROM anchor x
                                WHERE x.u = h2.v AND x.v = h2.w)
              GROUP BY 1),
      ex AS (SELECT sdeg.v, sdeg.n1,
                    1000000 * sdeg.n1 + 500000 * coalesce(n2c.n2, 0)
                      AS hex
             FROM sdeg LEFT JOIN n2c ON n2c.v = sdeg.v),
      au AS (SELECT ex.n1, ex.hex,
                    CAST(CAST(coalesce(hh.h_micro, 0) AS HUGEINT) * n
                         // $HC_SOURCES AS BIGINT) AS hs
             FROM ex LEFT JOIN h hh ON hh.node = ex.v, nn)
      SELECT CAST(n1 // $HS_BUCKET AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_nodes,
             round(CAST(sum(hex) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_exact,
             round(CAST(sum(hs) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_est,
             round((CAST(sum(hs) AS DOUBLE) - CAST(sum(hex) AS DOUBLE))
                   / count(*), 1) AS err_micro
      FROM au GROUP BY 1 ORDER BY 1"""))

  /** D66's sketch width and hop horizon. k=16 gives each node ~26 %
    * per-node KMV noise that averages out in the corpus-level
    * neighborhood function; cost is k·m rows per hop. */
  val ANF_K = 16
  val ANF_HOPS = 2
  private val MAX_HASH = 1152921504606846976L // 2^60, the hash60 range

  // ---------------------------------------------------------------- D66
  /** Approximate neighborhood function — HyperANF's shape [Boldi-Rosa-
    * Vigna 2011] with a DETERMINISTIC KMV sketch instead of HLL
    * (bottom-k distinct hash60 values: exactly reproducible in any
    * engine, where HLL registers are implementation-defined): per node
    * a k-min sketch of its h-hop ball, advanced per hop by merging
    * each node's sketch with its neighbors' (bottom-k distinct of the
    * union — an O(k)-state aggregate, map-side combined, never a
    * window sort) and ESTIMATING |ball(v,h)| as (k−1)·2⁶⁰ div kth_min
    * — integer division, because per-node double estimates could not
    * be SUMMED cross-engine deterministically. Publishes per hop the
    * summed and mean estimated reach — the neighborhood function
    * N(1), N(2) whose ratios read out the effective diameter at a
    * glance, computable at 100 TB where exact pairwise reach is not.
    *
    * Scale shape: k·m sketch-value rows per hop (edge-linear with the
    * fixed k=16 constant), per-hop state materialized to scratch
    * parquet (the iterative-frame discipline of pagerank/LPA: hop h
    * feeds BOTH its estimate and hop h+1). */
  /** Shared KMV-ANF reach readout (D66/D67): one row per hop 1..hops,
    * (hop, n_nodes, sum_reach_est) — per hop an O(k)-state aggregate
    * over [[Staged.anfSketch]]'s staged hop frame. The hop LADDER
    * itself lives under `Staged` (r13): graph_anf and
    * graph_effective_diameter share hops 1–2 instead of each re-running
    * the full loop from hop 0 (the r12 verdict's consolidation item —
    * previously ~2× the ladder per sweep, ~53 s redundant at the 10×
    * probe). First toucher builds; run 1 of `runMain graft.Bench
    * graph_anf` prices the single-shot build, the community_lpa
    * convention. */
  private def anfReach(s: org.apache.spark.sql.SparkSession, d: String,
      hops: Int): org.apache.spark.sql.DataFrame =
    (1 to hops).map { h =>
      Staged.anfSketch(s, d, h)
        .select(F.size(F.col("sk")).cast("long").as("_nk"),
          F.try_element_at(F.col("sk"), F.lit(ANF_K)).as("_kth"))
        .agg(F.count(F.lit(1)).as("n_nodes"),
          F.sum(F.expr(
            s"""CASE WHEN _nk < $ANF_K THEN _nk ELSE
               |CAST((CAST(${ANF_K - 1} AS DECIMAL(38,0)) * $MAX_HASH)
               |     div _kth AS BIGINT) END""".stripMargin))
            .as("sum_reach_est"))
        .select(F.lit(h.toLong).as("hop"), F.col("n_nodes"),
          F.col("sum_reach_est"))
    }.reduce(_ unionAll _)

  private val graphAnf = QueryDef(
    "graph_anf",
    (s, d) => anfReach(s, d, ANF_HOPS)
      .select(F.col("hop"), F.col("n_nodes"), F.col("sum_reach_est"),
        F.expr("round(CAST(sum_reach_est AS DOUBLE) / n_nodes, 6)")
          .as("mean_reach"))
      .orderBy("hop"),
    Some {
      val rs = (1 to ANF_HOPS).map(h => s"SELECT * FROM r$h")
        .mkString(" UNION ALL ")
      s"""WITH ${anfOracleCtes(ANF_HOPS)},
         |u AS ($rs)
         |SELECT hop, n_nodes, sum_reach_est,
         |       round(CAST(sum_reach_est AS DOUBLE) / n_nodes, 6)
         |         AS mean_reach
         |FROM u ORDER BY hop""".stripMargin
    })

  /** Shared oracle prefix mirroring [[anfReach]] term for term: the
    * co-purchase edges, the hop-0 single-hash sketches, and per hop h
    * the merged bottom-k frame m$h plus its reach summary r$h (hop,
    * n_nodes, sum_reach_est). */
  private def anfOracleCtes(hops: Int): String = {
    def hopCtes(h: Int): String = {
      val prev = if (h == 1) "p0" else s"m${h - 1}x"
      s"""m$h AS MATERIALIZED (
         |  SELECT v, h FROM (
         |    SELECT v, h, row_number() OVER (PARTITION BY v
         |      ORDER BY h) AS rn
         |    FROM (SELECT v, h FROM $prev
         |          UNION
         |          SELECT e.u AS v, p.h FROM edges e
         |          JOIN $prev p ON p.v = e.v))
         |  WHERE rn <= $ANF_K),
         |m${h}x AS (SELECT v, h FROM m$h),
         |s$h AS (SELECT v, CAST(count(*) AS BIGINT) AS nk,
         |               CAST(max(h) AS BIGINT) AS kth
         |        FROM m$h GROUP BY v),
         |r$h AS (SELECT CAST($h AS BIGINT) AS hop,
         |               CAST(count(*) AS BIGINT) AS n_nodes,
         |               CAST(sum(CASE WHEN nk < $ANF_K THEN nk ELSE
         |                 (CAST(${ANF_K - 1} AS HUGEINT) * $MAX_HASH)
         |                 // kth END) AS BIGINT) AS sum_reach_est
         |        FROM s$h)""".stripMargin
    }
    s"""pairs AS (
       |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |edges AS MATERIALIZED (
       |  SELECT pa AS u, pb AS v FROM pairs
       |  UNION ALL SELECT pb, pa FROM pairs),
       |p0 AS (SELECT DISTINCT u AS v,
       |              ${graft.operators.Hashing.hash60Sql(
                        "CAST(u AS VARCHAR)")} AS h
       |       FROM edges),
       |${(1 to hops).map(hopCtes).mkString(",\n")}""".stripMargin
  }

  /** D67's hop horizon — one past D66's, because the instrument's
    * payoff is the hop where reach crosses 90 % of max. */
  val DIAM_HOPS = 3

  // ---------------------------------------------------------------- D67
  /** Effective diameter from the ANF curve — the standard 90 %-reach
    * readout [Palmer-Gibbons-Faloutsos 2002; Leskovec et al.'s
    * "effective diameter"]: run the D66 KMV sketch loop one hop deeper
    * (N(1), N(2), N(3)), find the first hop where summed reach crosses
    * 0.9·N(3), and interpolate linearly within that hop — the one
    * number that says "how far apart is this graph, really", computable
    * at 100 TB where exact pairwise distances are not. All-integer
    * crossing tests (10·N(h) ≥ 9·N(3) — no 0.9 double anywhere), exact
    * integer interpolation operands, ONE closing double division,
    * N(0) = n_nodes anchoring a sub-hop-1 crossing.
    *
    * Scale shape: D66's edge-linear k·m rows per hop, one extra hop
    * (the deliberate cost — the 10× probe prices it); the crossing math
    * is a 1-row frame. */
  private val graphEffectiveDiameter = QueryDef(
    "graph_effective_diameter",
    (s, d) => {
      val reach = anfReach(s, d, DIAM_HOPS)
      reach.groupBy()
        .agg(F.max("n_nodes").as("n_nodes"),
          F.max(F.when(F.col("hop") === 1, F.col("sum_reach_est")))
            .as("reach1"),
          F.max(F.when(F.col("hop") === 2, F.col("sum_reach_est")))
            .as("reach2"),
          F.max(F.when(F.col("hop") === 3, F.col("sum_reach_est")))
            .as("reach3"))
        .select(F.col("n_nodes"), F.col("reach1"), F.col("reach2"),
          F.col("reach3"),
          F.expr("""CASE
            |WHEN 10 * n_nodes >= 9 * reach3 THEN CAST(0.0 AS DOUBLE)
            |WHEN 10 * reach1 >= 9 * reach3 THEN
            |  round(CAST(9 * reach3 - 10 * n_nodes AS DOUBLE)
            |        / (10 * (reach1 - n_nodes)), 6)
            |WHEN 10 * reach2 >= 9 * reach3 THEN
            |  round(1 + CAST(9 * reach3 - 10 * reach1 AS DOUBLE)
            |        / (10 * (reach2 - reach1)), 6)
            |ELSE
            |  round(2 + CAST(9 * reach3 - 10 * reach2 AS DOUBLE)
            |        / (10 * (reach3 - reach2)), 6)
            |END""".stripMargin).as("eff_diameter"))
        .orderBy("n_nodes")
    },
    Some(s"""
      WITH ${anfOracleCtes(DIAM_HOPS)},
      n0 AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM p0),
      rr AS (SELECT (SELECT n_nodes FROM n0) AS n_nodes,
                    (SELECT sum_reach_est FROM r1) AS reach1,
                    (SELECT sum_reach_est FROM r2) AS reach2,
                    (SELECT sum_reach_est FROM r3) AS reach3)
      SELECT n_nodes, reach1, reach2, reach3,
             CASE
               WHEN 10 * n_nodes >= 9 * reach3 THEN CAST(0.0 AS DOUBLE)
               WHEN 10 * reach1 >= 9 * reach3 THEN
                 round(CAST(9 * reach3 - 10 * n_nodes AS DOUBLE)
                       / (10 * (reach1 - n_nodes)), 6)
               WHEN 10 * reach2 >= 9 * reach3 THEN
                 round(1 + CAST(9 * reach3 - 10 * reach1 AS DOUBLE)
                       / (10 * (reach2 - reach1)), 6)
               ELSE
                 round(2 + CAST(9 * reach3 - 10 * reach2 AS DOUBLE)
                       / (10 * (reach3 - reach2)), 6)
             END AS eff_diameter
      FROM rr ORDER BY n_nodes"""))

  /** D70's truss order (edges must sit in ≥ TRUSS_K − 2 triangles) and
    * bounded peel depth. k = 10 actually bites on the co-purchase
    * graph (support ≥ 8 peels ~89 % of sf0.1 edges in round 1, with a
    * real round-2 cascade); k = 4 keeps ~99.9 % — no dynamics to audit. */
  val TRUSS_K = 10
  val TRUSS_ROUNDS = 3

  // ---------------------------------------------------------------- D70
  /** Bounded k-truss peeling ladder — the edge-cohesion complement of
    * k-core (node degrees) and the clustering spectrum (node wedges):
    * iteratively drop every edge in fewer than k−2 triangles of the
    * CURRENT graph and republish the edge count per round, converging
    * toward the k-truss (n_dropped = 0 ⇒ fixed point reached). Depth is
    * PINNED, not convergence-looped — each round is a full triangle
    * enumeration at 100 TB, so production pays a fixed number and reads
    * the published trajectory to decide if another round is worth it
    * (the D55 ladder discipline). The state is the surviving edge list,
    * degree-oriented once ([[graft.operators.Graph.orient]]; any subset
    * of an acyclic orientation stays acyclic, and out-degrees only
    * shrink, so the √m wedge bound holds every round). Per round: one
    * wedge pass over the surviving edges
    * ([[graft.operators.Graph.orientedSupport]] — round 2+ runs on the
    * already-peeled remnant) under [[graft.operators.CacheScope.iterate]],
    * whose per-round row counts are the published edge counts (plus one
    * count of the staged input). Rows: (round, n_edges_before,
    * n_dropped, n_edges_after). */
  private val ktrussPeel = QueryDef(
    "ktruss_peel",
    (s, d) => {
      // assumeUnique: the staged edge list is canonical and deduped
      val o = graft.operators.Graph.orient(Staged.coPurchaseEdges(s, d),
        "pa", "pb", assumeUnique = true)
      val n0 = o.count()
      // survivors straight off the support aggregate: every edge in it
      // IS a surviving edge (supports are credited only to the three
      // real edges of each closed triangle), and edges absent from it
      // have support 0 < TRUSS_K − 2
      val (_, _, n) = graft.operators.CacheScope.iterate(o, TRUSS_ROUNDS) {
        cur => graft.operators.Graph.orientedSupport(cur)
          .where(F.col("support") >= TRUSS_K - 2).select("src", "dst")
      }
      val sizes = n0 +: n
      s.createDataFrame((1 to TRUSS_ROUNDS).map { r =>
        (r.toLong, sizes(r - 1), sizes(r - 1) - sizes(r), sizes(r))
      }).toDF("round", "n_edges_before", "n_dropped", "n_edges_after")
    },
    Some {
      def roundCtes(r: Int): String = {
        val p = if (r == 1) "e0" else s"e${r - 1}"
        s"""tri$r AS (SELECT a.pa AS x, a.pb AS y, b.pb AS z
           |          FROM $p a JOIN $p b ON b.pa = a.pb
           |          JOIN $p c ON c.pa = a.pa AND c.pb = b.pb),
           |sup$r AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS s
           |          FROM (SELECT x AS pa, y AS pb FROM tri$r
           |                UNION ALL SELECT y, z FROM tri$r
           |                UNION ALL SELECT x, z FROM tri$r)
           |          GROUP BY 1, 2),
           |e$r AS MATERIALIZED (
           |        SELECT e.pa, e.pb FROM $p e JOIN sup$r s
           |          ON s.pa = e.pa AND s.pb = e.pb
           |         AND s.s >= ${TRUSS_K - 2}),
           |row$r AS (SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $p) AS n_edges_before,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $p)
           |    - (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_dropped,
           |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges_after)
           |""".stripMargin
      }
      val rs = (1 to TRUSS_ROUNDS).map(r => s"SELECT * FROM row$r")
        .mkString(" UNION ALL ")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |${(1 to TRUSS_ROUNDS).map(roundCtes).mkString(",\n")}
         |SELECT round, n_edges_before, n_dropped, n_edges_after
         |FROM ($rs) ORDER BY round""".stripMargin
    })

  // ---------------------------------------------------------------- D72
  /** Pivot-sampled BETWEENNESS (hop-2 horizon) — the "who BROKERS the
    * graph" read completing the centrality family (degree D23, harmonic
    * D65, reach D66/D67): for each of the HC_SOURCES hash60-min pivots
    * s and each node w at distance exactly 2, every middle node m on a
    * shortest s→w path earns the Brandes pair dependency 1/σ_sw — here
    * EXACT integer micros, because at hop 2 σ_sw is just the common-
    * neighbor count and each (s, w, m) term is 10⁶ div σ_sw (integer
    * division per term, then an order-independent exact sum — the
    * general Brandes accumulation is rational and would not be
    * hash-portable). Publishes the top-100 brokers (bet_micro DESC,
    * node) with the number of (pivot, target) pairs each mediates.
    *
    * Scale shape: pivot adjacency broadcast (K·d̄ rows), one two-step
    * expansion bounded by K·d̄², a (pivot, target)-keyed σ aggregate
    * joined back, one per-node sum. The pivot count is the precision
    * budget, the hop horizon the cost budget — D65's contract. */
  private val betweennessSampled = QueryDef(
    "betweenness_sampled",
    (s, d) => {
      val e = Staged.coPurchaseEdges(s, d)
      val edges = graft.operators.CacheScope.persist(
        e.select(F.col("pa").as("u"), F.col("pb").as("v"))
          .unionAll(e.select(F.col("pb").as("u"), F.col("pa").as("v"))))
      val nodes = edges.select(F.col("u").as("nv")).distinct()
      val srcs = nodes
        .withColumn("_h", graft.operators.Hashing.hash60(
          F.col("nv").cast("string")))
        .orderBy(F.col("_h"), F.col("nv")).limit(HC_SOURCES)
        .select(F.col("nv").as("src"))
      // n1 persisted (r15, §2.4): it feeds the expansion's build side
      // AND the anti-join — unpersisted, the srcs⋈edges pass ran twice
      val n1 = graft.operators.CacheScope.persist(
        F.broadcast(srcs).join(edges, F.col("src") === F.col("u"))
          .select(F.col("src"), F.col("v").as("m")))
      val paths = F.broadcast(n1)
        .join(edges.select(F.col("u").as("m"), F.col("v").as("w")), "m")
        .where(F.col("w") =!= F.col("src"))
        .join(n1.select(F.col("src"), F.col("m").as("w")),
          Seq("src", "w"), "left_anti")
      // σ_sw via a window over the SAME pass (r15, §2.4): the former
      // groupBy + self-join re-executed the whole K·d̄² expansion a
      // second time; the window shuffles the paths frame once and
      // yields identical per-row 1/σ terms
      val wSigma = org.apache.spark.sql.expressions.Window
        .partitionBy("src", "w")
      paths.withColumn("sigma", F.count(F.lit(1)).over(wSigma))
        .groupBy(F.col("m").as("node"))
        .agg(F.count(F.lit(1)).as("n_pairs"),
          F.sum(F.expr("1000000 div sigma")).as("bet_micro"))
        .orderBy(F.col("bet_micro").desc, F.col("node")).limit(100)
    },
    Some(s"""WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      edges AS MATERIALIZED (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL SELECT pb, pa FROM pairs),
      nodes AS (SELECT DISTINCT u AS nv FROM edges),
      srcs AS (SELECT nv AS src FROM (
                 SELECT nv, row_number() OVER (ORDER BY
                   ${graft.operators.Hashing.hash60Sql(
                     "CAST(nv AS VARCHAR)")}, nv) AS rn
                 FROM nodes) WHERE rn <= $HC_SOURCES),
      n1 AS MATERIALIZED (
        SELECT s.src, e.v AS m FROM srcs s JOIN edges e ON e.u = s.src),
      paths AS MATERIALIZED (
        SELECT p.src, p.m, e.v AS w
        FROM n1 p JOIN edges e ON e.u = p.m
        WHERE e.v <> p.src
          AND NOT EXISTS (SELECT 1 FROM n1 x
                          WHERE x.src = p.src AND x.m = e.v)),
      sg AS (SELECT src, w, CAST(count(*) AS BIGINT) AS sigma
             FROM paths GROUP BY 1, 2)
      SELECT p.m AS node, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(1000000 // sigma) AS BIGINT) AS bet_micro
      FROM paths p JOIN sg ON sg.src = p.src AND sg.w = p.w
      GROUP BY 1 ORDER BY bet_micro DESC, node LIMIT 100"""))

  // ---------------------------------------------------------------- D73
  /** Rich-club coefficient ladder — do the hubs preferentially connect
    * to each other? φ(k) = 2·E_k / (N_k·(N_k−1)) with N_k the nodes of
    * degree > k and E_k the edges BOTH of whose endpoints qualify
    * [Colizza et al. 2006], published on a fixed degree ladder
    * (8..200). The global summary beside D59's assortativity (a
    * correlation can be near 0 while the top slice is still a clique —
    * φ(k) reads the slice directly). Exact integers: φ in micros via
    * ONE widened division per rung; the whole computation collapses to
    * SUFFIX SUMS over two tiny histograms (degree histogram and the
    * per-edge MIN-degree histogram — an edge is in E_k iff its smaller
    * endpoint degree exceeds k), so after two map-side-combined
    * aggregates everything is metadata-sized at any SF. */
  private val richClub = QueryDef(
    "rich_club",
    (s, d) => {
      val e = Staged.coPurchaseEdges(s, d)
      val deg = e.select(F.col("pa").as("v"))
        .unionByName(e.select(F.col("pb").as("v")))
        .groupBy("v").agg(F.count(F.lit(1)).as("dg"))
      val degHist = deg.groupBy("dg").agg(F.count(F.lit(1)).as("nn"))
      val mdHist = e
        .join(deg.select(F.col("v").as("pa"), F.col("dg").as("_da")), "pa")
        .join(deg.select(F.col("v").as("pb"), F.col("dg").as("_db")), "pb")
        .select(F.least(F.col("_da"), F.col("_db")).as("md"))
        .groupBy("md").agg(F.count(F.lit(1)).as("ne"))
      val ladder = s.range(1).select(F.explode(F.expr(
        "array(8L, 16L, 32L, 64L, 96L, 128L, 160L, 200L)")).as("k"))
      val nk = F.broadcast(ladder)
        .join(degHist, F.col("dg") > F.col("k"))
        .groupBy("k").agg(F.sum("nn").as("n_nodes"))
      val ek = F.broadcast(ladder)
        .join(mdHist, F.col("md") > F.col("k"))
        .groupBy("k").agg(F.sum("ne").as("n_edges"))
      ladder.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
        .na.fill(0L, Seq("n_nodes", "n_edges"))
        .select(F.col("k"), F.col("n_nodes"), F.col("n_edges"),
          F.expr("""CASE WHEN n_nodes < 2 THEN 0L ELSE
            |CAST(2 * CAST(n_edges AS DECIMAL(38,0)) * 1000000
            |     div (CAST(n_nodes AS DECIMAL(38,0)) * (n_nodes - 1))
            |     AS BIGINT) END""".stripMargin).as("phi_micro"))
        .orderBy("k")
    },
    Some("""
      WITH e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      deg AS MATERIALIZED (
        SELECT v, CAST(count(*) AS BIGINT) AS dg
        FROM (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
        GROUP BY 1),
      dh AS (SELECT dg, CAST(count(*) AS BIGINT) AS nn
             FROM deg GROUP BY 1),
      mh AS (SELECT least(da.dg, db.dg) AS md,
                    CAST(count(*) AS BIGINT) AS ne
             FROM e JOIN deg da ON da.v = e.pa JOIN deg db ON db.v = e.pb
             GROUP BY 1),
      lad AS (SELECT CAST(k AS BIGINT) AS k
              FROM unnest([8, 16, 32, 64, 96, 128, 160, 200]) AS u(k)),
      nk AS (SELECT k, CAST(sum(nn) AS BIGINT) AS n_nodes
             FROM lad JOIN dh ON dh.dg > lad.k GROUP BY 1),
      ek AS (SELECT k, CAST(sum(ne) AS BIGINT) AS n_edges
             FROM lad JOIN mh ON mh.md > lad.k GROUP BY 1)
      SELECT lad.k, coalesce(nk.n_nodes, 0) AS n_nodes,
             coalesce(ek.n_edges, 0) AS n_edges,
             CASE WHEN coalesce(nk.n_nodes, 0) < 2 THEN 0 ELSE
               CAST(2 * CAST(coalesce(ek.n_edges, 0) AS HUGEINT) * 1000000
                    // (CAST(nk.n_nodes AS HUGEINT) * (nk.n_nodes - 1))
                    AS BIGINT) END AS phi_micro
      FROM lad LEFT JOIN nk ON nk.k = lad.k
               LEFT JOIN ek ON ek.k = lad.k
      ORDER BY lad.k"""))

  // ---------------------------------------------------------------- D74
  /** Co-purchase edge drift — the TEMPORAL-graph read: the per-year
    * edge sets' Jaccard overlap between adjacent years ("how much of
    * last year's basket structure survives into this year"), the graph
    * analog of the drift family (PSI/KS track value distributions; this
    * tracks RELATIONSHIP turnover, the thing a stale recommender
    * actually dies of). Exact integers: per unordered pair a 7-bit YEAR
    * MASK (Σ over its distinct years of 2^(year−1995) — one map-side-
    * combined aggregate over the year-carrying pair list), the six
    * adjacent-year rows read off bit tests (∩ = both bits, ∪ = either),
    * jaccard in micros via one division per row.
    *
    * Scale shape: the pair build is the coPurchasePairs shape with the
    * order's year riding along (fan-out bounded by order size, never
    * catalog size); the mask aggregate is pair-frame-sized; the
    * adjacent-year finish is a ×6 bounded explode. */
  private val graphEdgeDrift = QueryDef(
    "graph_edge_drift",
    (s, d) => {
      val li = Tables.t(s, d, "lineitem")
        .select(F.col("l_orderkey").as("ok"), F.col("l_partkey").as("pk"))
        .distinct()
      val oy = Tables.t(s, d, "orders")
        .select(F.col("o_orderkey").as("ok"),
          F.year(F.col("o_orderdate")).cast("long").as("yr"))
      val pairs = li.select(F.col("ok"), F.col("pk").as("pa"))
        .join(li.select(F.col("ok"), F.col("pk").as("pb")), "ok")
        .where(F.col("pa") < F.col("pb"))
        .join(oy, "ok")
        .select("yr", "pa", "pb").distinct()
      val masks = pairs
        .select(F.col("pa"), F.col("pb"),
          F.expr("shiftleft(1L, CAST(yr - 1995 AS INT))").as("bit"))
        .groupBy("pa", "pb").agg(F.sum("bit").as("mask"))
      masks
        .select(F.col("mask"), F.explode(F.expr(
          "array(1995L, 1996L, 1997L, 1998L, 1999L, 2000L)")).as("year_a"))
        .select(F.col("year_a"),
          F.expr("CAST(shiftright(mask, CAST(year_a - 1995 AS INT)) & 1 " +
            "AS BIGINT)").as("ia"),
          F.expr("CAST(shiftright(mask, CAST(year_a - 1994 AS INT)) & 1 " +
            "AS BIGINT)").as("ib"))
        .groupBy("year_a")
        .agg(F.sum("ia").as("n_edges_a"), F.sum("ib").as("n_edges_b"),
          F.sum(F.expr("ia * ib")).as("n_common"))
        .select(F.col("year_a"), F.expr("year_a + 1").as("year_b"),
          F.col("n_edges_a"), F.col("n_edges_b"), F.col("n_common"),
          F.expr("""CASE WHEN n_edges_a + n_edges_b - n_common = 0 THEN 0L
            |ELSE n_common * 1000000
            |     div (n_edges_a + n_edges_b - n_common) END"""
            .stripMargin).as("jaccard_micro"))
        .orderBy("year_a")
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
      oy AS (SELECT o_orderkey AS ok,
                    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr
             FROM orders),
      ey AS (SELECT DISTINCT oy.yr, a.pk AS pa, b.pk AS pb
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             JOIN oy ON oy.ok = a.ok),
      masks AS (SELECT pa, pb,
                       CAST(sum(1 << CAST(yr - 1995 AS INT)) AS BIGINT)
                         AS mask
                FROM ey GROUP BY 1, 2),
      x AS (SELECT CAST(y AS BIGINT) AS year_a,
                   CAST((mask >> CAST(y - 1995 AS INT)) & 1 AS BIGINT)
                     AS ia,
                   CAST((mask >> CAST(y - 1994 AS INT)) & 1 AS BIGINT)
                     AS ib
            FROM masks,
                 unnest([1995, 1996, 1997, 1998, 1999, 2000]) AS u(y))
      SELECT year_a, year_a + 1 AS year_b,
             CAST(sum(ia) AS BIGINT) AS n_edges_a,
             CAST(sum(ib) AS BIGINT) AS n_edges_b,
             CAST(sum(ia * ib) AS BIGINT) AS n_common,
             CASE WHEN sum(ia) + sum(ib) - sum(ia * ib) = 0 THEN 0
               ELSE CAST(sum(ia * ib) * 1000000
                    // (sum(ia) + sum(ib) - sum(ia * ib)) AS BIGINT)
             END AS jaccard_micro
      FROM x GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- D77
  /** HITS hubs/authorities over the DIRECTED co-purchase graph (r13,
    * the r12 verdict's centrality-family completion beside pagerank /
    * degree / harmonic / betweenness / ANF): edges oriented low→high
    * part key (pa → pb — the house deterministic orientation; pa < pb
    * by construction), two pinned power-iteration rungs of
    * [[graft.operators.Graph.hits]] — per rung auth(v) = Σ_{u→v}hub(u)
    * then hub(u) = Σ_{u→v}auth(v), each L1-normalized back to the 1e9
    * fixed-point scale by exact integer division (DECIMAL(38,0)/
    * HUGEINT raw sums; L2's sqrt would not round identically across
    * engines, and L1 fixes the same ray). Publishes the full node
    * frame plus the exact integer L1 residuals between the last two
    * rungs (broadcast 1-row frame) — the convergence read production
    * uses to pick depth.
    *
    * Scale shape: per rung two edge-linear join+aggregate passes
    * (map-side combined, no window), one rung-state frame per rung under
    * [[graft.operators.CacheScope.iterate]], 1-row normalizers
    * broadcast. Oracle = the identical rungs unrolled as CTEs. */
  private val hitsScores = QueryDef(
    "hits_scores",
    (s, d) => {
      val (scores, resid) = graft.operators.Graph.hits(
        Staged.coPurchaseEdges(s, d), "pa", "pb", iters = 2,
        assumeUnique = true)
      scores.crossJoin(F.broadcast(resid))
        .select(F.col("v").as("pk"), F.col("hub_fp"), F.col("auth_fp"),
          F.expr("round(CAST(hub_fp AS DOUBLE) / 1000000000, 6)")
            .as("hub"),
          F.expr("round(CAST(auth_fp AS DOUBLE) / 1000000000, 6)")
            .as("auth"),
          F.col("hub_resid_l1"), F.col("auth_resid_l1"))
        .orderBy("pk")
    },
    Some {
      val S = graft.operators.Graph.SCALE
      def rung(i: Int, prevHub: String): String =
        s"""a${i}r AS (SELECT e.dst AS v, sum(CAST(h.hub AS HUGEINT)) AS raw
           |  FROM edges e JOIN $prevHub h ON h.v = e.src GROUP BY 1),
           |a${i}t AS (SELECT sum(raw) AS t FROM a${i}r),
           |a$i AS MATERIALIZED (SELECT n.v,
           |    CASE WHEN t IS NULL OR t = 0 THEN 0
           |         ELSE CAST(coalesce(raw, 0) * $S // t AS BIGINT) END
           |      AS auth
           |  FROM nodes n LEFT JOIN a${i}r r ON r.v = n.v, a${i}t),
           |h${i}r AS (SELECT e.src AS v, sum(CAST(a.auth AS HUGEINT)) AS raw
           |  FROM edges e JOIN a$i a ON a.v = e.dst GROUP BY 1),
           |h${i}t AS (SELECT sum(raw) AS t FROM h${i}r),
           |h$i AS MATERIALIZED (SELECT n.v,
           |    CASE WHEN t IS NULL OR t = 0 THEN 0
           |         ELSE CAST(coalesce(raw, 0) * $S // t AS BIGINT) END
           |      AS hub
           |  FROM nodes n LEFT JOIN h${i}r r ON r.v = n.v, h${i}t)"""
          .stripMargin
      s"""WITH pairs AS (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs),
         |nodes AS MATERIALIZED (
         |  SELECT src AS v FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT v, CAST($S AS BIGINT) AS hub FROM nodes),
         |${rung(1, "h0")},
         |${rung(2, "h1")},
         |hres AS (SELECT CAST(sum(abs(h2.hub - h1.hub)) AS BIGINT)
         |           AS hub_resid_l1 FROM h2 JOIN h1 USING (v)),
         |ares AS (SELECT CAST(sum(abs(a2.auth - a1.auth)) AS BIGINT)
         |           AS auth_resid_l1 FROM a2 JOIN a1 USING (v))
         |SELECT h2.v AS pk,
         |       CAST(h2.hub AS BIGINT) AS hub_fp,
         |       CAST(a2.auth AS BIGINT) AS auth_fp,
         |       round(CAST(h2.hub AS DOUBLE) / $S, 6) AS hub,
         |       round(CAST(a2.auth AS DOUBLE) / $S, 6) AS auth,
         |       hub_resid_l1, auth_resid_l1
         |FROM h2 JOIN a2 USING (v), hres, ares ORDER BY pk""".stripMargin
    })

  /** D79 seed modulus (nodes ≡ 0 mod this form the restart cohort)
    * and the walk's round count. */
  val PPR_MOD = 97
  val PPR_ITERS = 3

  // ---------------------------------------------------------------- D79
  /** Personalized PageRank from a seed cohort over the co-purchase
    * graph ([[graft.operators.Graph.personalizedPageRank]]): restart
    * mass lands only on the deterministic seed set v ≡ 0 (mod
    * PPR_MOD), so rank(v) reads "how reachable is v by a damped walk
    * from these products" — the related-items expansion global
    * PageRank (D15) washes out with its uniform teleport. Same
    * integer fixed-point discipline as D15 (per-neighbor share and
    * damping as exact integer divisions; bit-identical across
    * engines, rounds and cluster sizes). Publishes the top 100 nodes
    * by fixed-point rank with the seed flag — seeds keep their
    * teleport mass, and the interesting rows are the NON-seeds that
    * rank high purely through proximity.
    *
    * Scale shape: one node-keyed shuffle per round over the staged
    * edges, eager per-round checkpoints (the D15 lineage discipline);
    * the seed flag rides the node spine, never a driver collect. */
  private val pprSeeded = QueryDef(
    "ppr_seeded",
    (s, d) => {
      val e = Staged.coPurchaseEdges(s, d)
      val seeds = e.select(F.col("pa").as("v"))
        .unionAll(e.select(F.col("pb").as("v")))
        .where(F.col("v") % PPR_MOD === 0).distinct()
      graft.operators.Graph
        .personalizedPageRank(e, "pa", "pb", seeds, iters = PPR_ITERS,
          assumeUnique = true)
        .orderBy(F.col("rank_fp").desc, F.col("v")).limit(100)
    },
    Some {
      val scale = graft.operators.Graph.SCALE
      val teleport = 15L * scale / 100L
      val rounds = (1 to PPR_ITERS).map { r =>
        s"""r$r AS (SELECT sp.v,
           |  CAST(sp.is_seed * $teleport
           |       + (85 * coalesce(c.inr, 0)) // 100 AS BIGINT) AS rank
           |  FROM spine sp LEFT JOIN (
           |    SELECT e.dst AS v, sum(r.rank // g.deg) AS inr
           |    FROM edges e JOIN r${r - 1} r ON r.v = e.src
           |                 JOIN deg g ON g.v = e.src
           |    GROUP BY 1) c ON c.v = sp.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |edges AS MATERIALIZED (
         |  SELECT pa AS src, pb AS dst FROM pairs
         |  UNION SELECT pb, pa FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT src AS v, count(*) AS deg FROM edges GROUP BY 1),
         |spine AS MATERIALIZED (
         |  SELECT v, CASE WHEN v % $PPR_MOD = 0 THEN 1 ELSE 0 END
         |    AS is_seed FROM deg),
         |r0 AS (SELECT v, CAST(is_seed * $scale AS BIGINT) AS rank
         |       FROM spine),
         |$rounds
         |SELECT sp.v, CAST(sp.is_seed AS BIGINT) AS is_seed,
         |       r.rank AS rank_fp,
         |       round(CAST(r.rank AS DOUBLE) / $scale, 6) AS rank
         |FROM spine sp JOIN r$PPR_ITERS r ON r.v = sp.v
         |ORDER BY rank_fp DESC, sp.v LIMIT 100""".stripMargin
    })

  // ---------------------------------------------------------------- D80
  /** Deterministic random-WALK corpus over the co-purchase graph
    * (r15, self-chosen — [[graft.operators.Graph.randomWalks]]): the
    * DeepWalk/node2vec training-corpus generator with the PRNG
    * replaced by hash60("walk|step|node") mod degree over the
    * value-ranked adjacency, so both engines — and every cluster
    * topology — derive the IDENTICAL corpus. Walks start from the
    * deterministic anchor cohort v ≡ 0 (mod 31) (the D31 scale lever:
    * corpus cost is one ranked-adjacency build; walk cost is
    * |cohort|·steps degree-bounded join rows) and take 4 steps;
    * publishes (walk_id, step, node) — the sentences a skip-gram
    * embedding trains on. Oracle: a recursive CTE stepping the same
    * hash over the same ranked adjacency. */
  private val graphRandomWalks = QueryDef(
    "graph_random_walks",
    (s, d) => {
      val edges = Staged.coPurchaseEdges(s, d)
      val starts = edges.select(F.col("pa").as("node"))
        .unionAll(edges.select(F.col("pb").as("node")))
        .distinct()
        .where(F.col("node") % 31 === 0)
      graft.operators.Graph
        .randomWalks(edges, "pa", "pb", starts, "node", steps = 4)
        .orderBy("walk_id", "step")
    },
    Some(s"""
      WITH RECURSIVE e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey),
      und AS MATERIALIZED (
        SELECT pa AS u, pb AS v FROM e0
        UNION ALL SELECT pb, pa FROM e0),
      adj AS MATERIALIZED (
        SELECT u, v,
               CAST(row_number() OVER (PARTITION BY u ORDER BY v) - 1
                    AS BIGINT) AS idx,
               CAST(count(*) OVER (PARTITION BY u) AS BIGINT) AS deg
        FROM und),
      starts AS (SELECT DISTINCT u AS node FROM und WHERE u % 31 = 0),
      walk(walk_id, step, node) AS (
        SELECT node, CAST(0 AS BIGINT), node FROM starts
        UNION ALL
        SELECT w.walk_id, w.step + 1, a.v
        FROM walk w JOIN adj a
          ON a.u = w.node
         AND a.idx = ${graft.operators.Hashing.hash60Sql(
      "concat(CAST(w.walk_id AS VARCHAR), '|', " +
        "CAST(w.step + 1 AS VARCHAR), '|', CAST(w.node AS VARCHAR))")}
                     % a.deg
        WHERE w.step < 4)
      SELECT walk_id, step, node FROM walk
      ORDER BY walk_id, step"""))

  def all: Seq[QueryDef] = Seq(graphRandomWalks,
    clusteringCoeff, degreeAssortativity,
    clusteringCoeffSampled, clusteringSampleAudit, harmonicCentrality,
    harmonicSampleAudit, graphAnf, graphEffectiveDiameter, ktrussPeel,
    betweennessSampled, richClub, graphEdgeDrift, hitsScores, pprSeeded)
}
