package graft.queries

import graft.operators.{Hashing, Ivf, Retrieval, Similarity}
import org.apache.spark.sql.{functions => F}
import Tables.t

/** Wave-47 inventory (r7): label-quality audits over the embedding space
  * and the experiment-health check every A/B platform runs first. */
object ClusterEvalQueries {

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  // ---------------------------------------------------------------- M20
  /** kNN label accuracy: predict each probe vector's label by majority
    * vote of its 5 EXACT nearest neighbors (ties → higher count, then
    * smaller label — pinned identically on both engines), score against
    * the vector's own label, publish per-true-label accuracy in exact
    * ppm. The "do embeddings separate the classes" number a labeling or
    * clustering pipeline gates on. Probe slice is deterministic ~4%
    * (vec_id ≡ 1 mod 25, corpus-proportional); the truth pass is the
    * documented tune-before-run exact audit (probes broadcast, corpus
    * scanned once). */
  /** (query_id, pred, truth) for the deterministic probe slice — shared
    * by M20 (accuracy) and D45 (full confusion matrix). */
  private def knnPredictions(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb = t(s, d, "embeddings")
    val lbl = emb.select(F.col("vec_id"),
      F.col("label").cast("long").as("label"))
    val qs = emb.filter(F.expr("vec_id % 25 = 1"))
    Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
      .join(lbl.select(F.col("vec_id").as("match_id"),
        F.col("label").as("nlabel")), "match_id")
      .groupBy("query_id", "nlabel")
      .agg(F.count(F.lit(1)).as("c"))
      .groupBy("query_id")
      .agg(F.max(F.struct(F.col("c"), F.expr("-nlabel").as("nl")))
        .as("_t"))
      .select(F.col("query_id"), F.expr("-_t.nl").as("pred"))
      .join(lbl.select(F.col("vec_id").as("query_id"),
        F.col("label").as("truth")), "query_id")
  }

  /** Shared oracle CTE chain: probes → 5-NN votes → majority label. */
  private def knnPredCtes: String = s"""
      nb AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, match_id) AS rank
          FROM (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       ${cosSql("q.embedding", "c.embedding")} AS cos
                FROM embeddings q, embeddings c
                WHERE q.vec_id % 25 = 1 AND q.vec_id != c.vec_id))
        WHERE rank <= 5),
      votes AS (
        SELECT n.query_id, CAST(e.label AS BIGINT) AS nlabel,
               CAST(count(*) AS BIGINT) AS c
        FROM nb n JOIN embeddings e ON e.vec_id = n.match_id
        GROUP BY 1, 2),
      pred AS (
        SELECT query_id, nlabel AS pred FROM (
          SELECT query_id, nlabel,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, nlabel) AS rn
          FROM votes) WHERE rn = 1)"""

  private val knnAccuracy = QueryDef(
    "knn_accuracy",
    (s, d) => {
      knnPredictions(s, d)
        .groupBy("truth")
        .agg(F.count(F.lit(1)).as("n_queries"),
          F.sum(F.expr("CASE WHEN pred = truth THEN 1L ELSE 0L END"))
            .as("n_correct"))
        .select(F.col("truth"), F.col("n_queries"), F.col("n_correct"),
          F.expr("n_correct * 1000000L div n_queries").as("acc_ppm"))
        .orderBy("truth")
    },
    Some(s"""
      WITH $knnPredCtes
      SELECT CAST(e.label AS BIGINT) AS truth,
             CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END)
                  * 1000000 // count(*) AS BIGINT) AS acc_ppm
      FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
      GROUP BY 1 ORDER BY truth"""))

  // ---------------------------------------------------------------- D42
  /** k-means cluster purity against the label column: per learned
    * cluster — population, majority label (ties → higher count then
    * SMALLER label, pinned both engines) and purity in exact ppm; the
    * one-number-per-cluster audit of whether unsupervised structure
    * recovers the supervised partition (low purity on near-uniform
    * synthetic vectors is the expected, audited answer — same honesty
    * discipline as D14c). Reuses the shared deterministic-k-means CTE
    * chain (`kmeansA3Ctes`); the label join is a narrow map over the
    * assignment frame. */
  private val centroidPurity = QueryDef(
    "centroid_purity",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ivf.kmeansCentroids(
        emb, "vec_id", "embedding", k = 4, iters = 2)
      Ivf.assign(emb, cents, "vec_id", "embedding")
        .join(emb.select(F.col("vec_id"),
          F.col("label").cast("long").as("label")), "vec_id")
        .groupBy("centroid_label", "label")
        .agg(F.count(F.lit(1)).as("c"))
        .groupBy("centroid_label")
        .agg(F.sum("c").as("n_members"),
          F.max(F.struct(F.col("c"), F.expr("-label").as("nl")))
            .as("_t"))
        .select(F.col("centroid_label").cast("long").as("centroid_label"),
          F.col("n_members"),
          F.expr("-_t.nl").as("majority_label"),
          F.expr("_t.c * 1000000L div n_members").as("purity_ppm"))
        .orderBy("centroid_label")
    },
    Some {
      s"""WITH ${ExtendedQueries.kmeansA3Ctes},
         |cells AS (
         |  SELECT a.ck, CAST(e.label AS BIGINT) AS label,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM a3 a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |top AS (
         |  SELECT ck, label, c FROM (
         |    SELECT ck, label, c,
         |           row_number() OVER (PARTITION BY ck
         |             ORDER BY c DESC, label) AS rn
         |    FROM cells) WHERE rn = 1),
         |per AS (
         |  SELECT ck, CAST(sum(c) AS BIGINT) AS n_members
         |  FROM cells GROUP BY 1)
         |SELECT CAST(p.ck AS BIGINT) AS centroid_label, p.n_members,
         |       t.label AS majority_label,
         |       CAST(t.c * 1000000 // p.n_members AS BIGINT) AS purity_ppm
         |FROM per p JOIN top t USING (ck) ORDER BY centroid_label"""
        .stripMargin
    })

  // ---------------------------------------------------------------- M21
  /** Sample-ratio-mismatch check over the E46 fold assignment (the
    * first alarm every experimentation platform fires): orders hashed
    * into 5 folds by the portable hash60, chi-square against the equal-
    * share expectation computed EXACTLY as Σ (5·o_i − n)²·10⁶ div (5n)
    * with each term floored to integer micros BEFORE the sum (order-
    * independent; squares through DECIMAL(38,0)/HUGEINT), alarm at the
    * χ²(df=4, α=.05) = 9.488 critical value. Per-fold rows carry the
    * broadcast verdict. One map-side-combined aggregate to a 5-row
    * frame. */
  /** Shared with the G27 streaming twin — one oracle, two engines'
    * execution modes (the G18 dedup lesson from r5). */
  private[queries] val srmOracleSql: String = s"""
      WITH f AS (
        SELECT ${Hashing.hash60Sql("CAST(o_orderkey AS VARCHAR)")} % 5
                 AS fold
        FROM orders),
      g AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_fold
            FROM f GROUP BY 1),
      tt AS (SELECT CAST(sum(n_fold) AS BIGINT) AS n FROM g),
      terms AS (
        SELECT fold, n_fold,
               CAST(CAST(5 * n_fold - n AS HUGEINT) * (5 * n_fold - n)
                    * 1000000 // (5 * CAST(n AS HUGEINT)) AS BIGINT)
                 AS term_micro
        FROM g, tt),
      chi AS (SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro
              FROM terms)
      SELECT fold, n_fold, term_micro, chi.chi2_micro,
             chi.chi2_micro > 9488000 AS srm_alarm
      FROM terms, chi ORDER BY fold"""

  /** Post-aggregation chi-square assembly over the 5-row fold frame —
    * shared by the batch query and the streaming twin's post-drain. */
  private[queries] def srmAssemble(
      folds: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tot = folds.agg(F.sum("n_fold").as("n"))
    val terms = folds.crossJoin(F.broadcast(tot))
      .select(F.col("fold"), F.col("n_fold"), F.col("n"),
        F.expr("CAST(CAST(5 * n_fold - n AS DECIMAL(38,0)) * " +
          "(5 * n_fold - n) * 1000000 div (5 * CAST(n AS DECIMAL(38,0)))" +
          " AS BIGINT)").as("term_micro"))
    val chi = terms.agg(F.sum("term_micro").as("chi2_micro"))
      .select(F.col("chi2_micro"),
        F.expr("chi2_micro > 9488000").as("srm_alarm"))
    terms.select("fold", "n_fold", "term_micro")
      .crossJoin(F.broadcast(chi))
      .orderBy("fold")
  }

  private val srmCheck = QueryDef(
    "srm_check",
    (s, d) => {
      val folds = t(s, d, "orders")
        .select(F.pmod(
          Hashing.hash60(F.col("o_orderkey").cast("string")), F.lit(5))
          .cast("long").as("fold"))
        .groupBy("fold").agg(F.count(F.lit(1)).as("n_fold"))
      srmAssemble(folds)
    },
    Some(srmOracleSql))

  // ---------------------------------------------------------------- D43
  /** Hard-negative mining for contrastive training: per probe, the 3
    * nearest vectors with a DIFFERENT label — maximally confusable
    * pairs, the negatives that actually move a contrastive loss
    * (random negatives are trivially separated). Same deterministic
    * probe slice and brute-force discipline as M20; the label exclusion
    * rides the join predicate so excluded pairs never materialize.
    * Output n_probes·3 rows. */
  private val hardNegatives = QueryDef(
    "hard_negatives",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.filter(F.expr("vec_id % 25 = 1"))
        .select(F.col("vec_id").as("query_id"),
          F.col("embedding").as("q_vec"), F.col("label").as("q_label"))
      val c = emb.select(F.col("vec_id").as("match_id"),
        F.col("embedding").as("c_vec"),
        F.col("label").cast("long").as("neg_label"))
      val scored = c.join(F.broadcast(qs),
        F.col("query_id") =!= F.col("match_id") &&
          F.col("q_label") =!= F.col("neg_label"))
        .select(F.col("query_id"), F.col("match_id"), F.col("neg_label"),
          Similarity.cosine(F.col("q_vec"), F.col("c_vec")).as("cos"))
      Retrieval.rank(scored, "query_id", F.col("cos").desc, "match_id", 3)
        .select("query_id", "rank", "match_id", "neg_label", "cos")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      SELECT query_id, rank, match_id, neg_label, cos FROM (
        SELECT query_id, match_id, neg_label, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, match_id) AS INTEGER) AS rank
        FROM (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                     CAST(c.label AS BIGINT) AS neg_label,
                     ${cosSql("q.embedding", "c.embedding")} AS cos
              FROM embeddings q, embeddings c
              WHERE q.vec_id % 25 = 1 AND q.vec_id != c.vec_id
                AND q.label != c.label))
      WHERE rank <= 3 ORDER BY query_id, rank"""))

  // ---------------------------------------------------------------- D45
  /** Full kNN confusion matrix (M20's off-diagonal detail): (truth,
    * pred, count) cells with each cell's share of its truth row in
    * exact ppm — the label-noise localizer (a heavy off-diagonal cell
    * is a systematically confusable label pair: candidate annotation
    * errors or genuinely overlapping classes). Same shared prediction
    * frame and oracle CTE chain as M20; output bounded by labels². */
  private val knnConfusion = QueryDef(
    "knn_confusion",
    (s, d) => {
      val cells = knnPredictions(s, d)
        .groupBy("truth", "pred").agg(F.count(F.lit(1)).as("n"))
      val rowTot = cells.groupBy("truth")
        .agg(F.sum("n").as("row_n"))
      cells.join(rowTot, "truth")
        .select(F.col("truth"), F.col("pred"), F.col("n"),
          F.expr("n * 1000000L div row_n").as("row_share_ppm"))
        .orderBy("truth", "pred")
    },
    Some(s"""
      WITH $knnPredCtes,
      cells AS (
        SELECT CAST(e.label AS BIGINT) AS truth, p.pred,
               CAST(count(*) AS BIGINT) AS n
        FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
        GROUP BY 1, 2),
      rt AS (SELECT truth, CAST(sum(n) AS BIGINT) AS row_n
             FROM cells GROUP BY 1)
      SELECT c.truth, c.pred, c.n,
             CAST(c.n * 1000000 // r.row_n AS BIGINT) AS row_share_ppm
      FROM cells c JOIN rt r ON c.truth = r.truth
      ORDER BY c.truth, c.pred"""))

  // ---------------------------------------------------------------- D58
  /** Per-cluster simplified (centroid-based) silhouette of the shared
    * k-means partition [Rousseeuw 1987; the medoid→centroid
    * simplification is the standard large-N form — per-point
    * pairwise-distance silhouette is O(N²) and is exactly what this
    * replaces at scale]: a(v) = cosine distance to the OWN centroid,
    * b(v) = distance to the nearest OTHER centroid, s = (b−a)/max(a,b).
    * Since assignment is nearest-centroid, only the TOP-2 centroid
    * scores matter — one broadcast k-centroid cross join, a k-row
    * per-vector window, no pairwise pass. All arithmetic on the 6dp
    * cosine micro grid: s in exact integer ppm via one integral
    * division, per-cluster mean/min/max from exact long sums — no
    * cross-row double summation. Near-1 clusters are tight and far
    * from rivals; near-0 clusters overlap a neighbor (k too high or
    * the space does not separate). */
  private val clusterSilhouette = QueryDef(
    "cluster_silhouette",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Ivf.kmeansCentroids(
        emb, "vec_id", "embedding", k = 4, iters = 2)
      val scored = emb.crossJoin(F.broadcast(cents))
        .select(F.col("vec_id"), F.col("ckey"),
          F.round(Similarity.cosine(F.col("embedding"), F.col("centroid"))
            * 1000000).cast("long").as("cm"))
      Retrieval.rank(scored, "vec_id", F.col("cm").desc, "ckey", 2, "rn")
        .groupBy("vec_id")
        .agg(F.max(F.when(F.col("rn") === 1,
            F.struct(F.col("ckey"), F.col("cm")))).as("_own"),
          F.max(F.when(F.col("rn") === 2, F.col("cm"))).as("_cm2"))
        .select(F.expr("CAST(_own.ckey AS BIGINT)").as("centroid_label"),
          F.expr("1000000L - _own.cm").as("_a"),
          F.expr("1000000L - _cm2").as("_b"))
        .withColumn("_sppm",
          F.expr("((_b - _a) * 1000000L) div greatest(_b, 1L)"))
        .groupBy("centroid_label")
        .agg(F.count(F.lit(1)).as("n_members"),
          F.sum("_sppm").as("_ss"),
          F.min("_sppm").as("_smin"), F.max("_sppm").as("_smax"))
        .select(F.col("centroid_label"), F.col("n_members"),
          F.expr("round(CAST(_ss AS DOUBLE) / n_members / 1000000.0, 6)")
            .as("mean_silhouette"),
          F.expr("round(CAST(_smin AS DOUBLE) / 1000000.0, 6)").as("min_silhouette"),
          F.expr("round(CAST(_smax AS DOUBLE) / 1000000.0, 6)").as("max_silhouette"))
        .orderBy("centroid_label")
    },
    Some {
      val cos = ExtendedQueries.cosSql("e.embedding", "c.centroid")
      s"""WITH ${ExtendedQueries.kmeansA3Ctes},
         |sc AS (SELECT e.vec_id, c.ck,
         |         CAST(round($cos * 1000000) AS BIGINT) AS cm
         |       FROM embeddings e, c2f c),
         |rk AS (SELECT vec_id, ck, cm,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cm DESC, ck) AS rn
         |       FROM sc),
         |pv AS (SELECT vec_id,
         |         max(CASE WHEN rn = 1 THEN ck END) AS own_ck,
         |         1000000 - max(CASE WHEN rn = 1 THEN cm END) AS a,
         |         1000000 - max(CASE WHEN rn = 2 THEN cm END) AS b
         |       FROM rk WHERE rn <= 2 GROUP BY 1),
         |sv AS (SELECT own_ck,
         |         ((b - a) * 1000000) // greatest(b, 1) AS sppm
         |       FROM pv)
         |SELECT CAST(own_ck AS BIGINT) AS centroid_label,
         |       CAST(count(*) AS BIGINT) AS n_members,
         |       round(CAST(sum(sppm) AS DOUBLE) / count(*) / 1000000.0, 6)
         |         AS mean_silhouette,
         |       round(CAST(min(sppm) AS DOUBLE) / 1000000.0, 6) AS min_silhouette,
         |       round(CAST(max(sppm) AS DOUBLE) / 1000000.0, 6) AS max_silhouette
         |FROM sv GROUP BY 1 ORDER BY centroid_label""".stripMargin
    })

  val all: Seq[QueryDef] = Seq(knnAccuracy, centroidPurity, srmCheck,
    hardNegatives, knnConfusion, clusterSilhouette)
}
