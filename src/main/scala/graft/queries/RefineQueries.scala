package graft.queries

import graft.operators.{Curation, Dedup, Hashing, Pq, Retrieval, TextOps}
import org.apache.spark.sql.{Column, functions => F}
import Tables.t

/** Wave-6 inventory: corpus refinement (SURVEY §2 E28–E32) — line-level
  * boilerplate dedup, sparse TF-IDF cosine pairs, fuzzy (minhash)
  * benchmark decontamination, deterministic per-group sampling and the
  * Zipf rank-frequency slope. Oracle SQL shares every constant
  * (separators, caps, hash family, thresholds) with the Spark side so
  * the two cannot drift. */
object RefineQueries {

  private val toksSql = "regexp_split_to_array(lower(text), ' +')"

  // ---------------------------------------------------------------- E28
  /** The synthetic corpus is one line per document with no repeated
    * lines, so the query plants deterministic boilerplate (the CCNet
    * motivation: footers repeating across a crawl) on BOTH sides — two
    * shared footer lines appended to doc_id%4 / doc_id%6 slices. At the
    * df cap of 5 exactly those planted lines are removed (df 125 / 84 at
    * sf0.01) while every original line survives (df 1). */
  private val footerA = "standard legal boilerplate footer"
  private val footerB = "subscribe to the newsletter now"

  private def augLines: Column = F.concat(
    F.col("text"),
    F.when(F.pmod(F.col("doc_id"), F.lit(4)) === 0,
      F.lit("\n" + footerA)).otherwise(F.lit("")),
    F.when(F.pmod(F.col("doc_id"), F.lit(6)) === 0,
      F.lit("\n" + footerB)).otherwise(F.lit("")))

  private val lineDedup = QueryDef(
    "line_dedup",
    (s, d) => Dedup.lineDedup(
      t(s, d, "documents").select(F.col("doc_id"), augLines.as("text")),
      "doc_id", "text", sep = "\n", maxDocFreq = 5)
      .orderBy("doc_id"),
    Some(s"""
      WITH a AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '$footerA' ELSE '' END
               || CASE WHEN doc_id % 6 = 0 THEN chr(10) || '$footerB' ELSE '' END
                 AS text
        FROM documents),
      e AS (
        SELECT doc_id, i AS line_idx, ls[i] AS line
        FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM a))),
      d AS (SELECT line, count(DISTINCT doc_id) AS df FROM e GROUP BY 1)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN df <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(string_agg(CASE WHEN df <= 5 THEN line END,
                                 chr(10) ORDER BY line_idx), '') AS clean_text,
             round(CAST(count(*) - sum(CASE WHEN df <= 5 THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS removed_frac
      FROM e JOIN d USING (line)
      GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- E29
  private val tfidfCosinePairs = QueryDef(
    "tfidf_cosine_pairs",
    (s, d) => Dedup.tfidfCosinePairs(t(s, d, "documents"), "doc_id", "text",
      minCosine = 0.5, maxDocFreq = 1000)
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
        GROUP BY 1, 2),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
             HAVING count(*) <= 1000),
      n AS (SELECT count(*) AS nd FROM documents),
      w AS (SELECT doc_id, term,
                   tf * ((length(bin(nd)) - 1) - (length(bin(df)) - 1)) AS w
            FROM tf JOIN df USING (term), n),
      nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w
              GROUP BY 1 HAVING sum(w * w) > 0),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.w * b.w) AS BIGINT) AS num
            FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      c AS (SELECT doc_a, doc_b,
                   round(CAST(num AS DOUBLE)
                         / sqrt(CAST(x.n2 AS DOUBLE) * y.n2), 6) AS cosine
            FROM p JOIN nrm x ON p.doc_a = x.doc_id
                   JOIN nrm y ON p.doc_b = y.doc_id)
      SELECT doc_a, doc_b, cosine FROM c
      WHERE cosine >= 0.5 ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------- E31
  private val FUZZY_K = 16; private val FUZZY_BANDS = 4

  /** Benchmark = the doc_id%20 slice (an eval-suite stand-in); corpus =
    * everything else. The replicated fingerprint groups in the testdata
    * make real cross-slice near-dups, so the screen has genuine hits. */
  private val contaminationFuzzy = QueryDef(
    "contamination_fuzzy",
    (s, d) => {
      val docs = t(s, d, "documents")
      val isBench = F.pmod(F.col("doc_id"), F.lit(20)) === 0
      Curation.contaminationFuzzy(
        docs.where(!isBench), docs.where(isBench),
        "doc_id", "text", k = FUZZY_K, bands = FUZZY_BANDS, shingleN = 3,
        flagAt = 0.5)
        .orderBy("doc_id")
    },
    Some {
      val mins = (0 until FUZZY_K).map { i =>
        val (a, b) = Dedup.minhashCoef(i)
        s"min((_h * $a + $b) % ${Dedup.M31}) AS h$i"
      }.mkString(",\n               ")
      val r = FUZZY_K / FUZZY_BANDS
      val bandSelects = (0 until FUZZY_BANDS).map { b =>
        val cols = (0 until r).map(j => s"CAST(h${b * r + j} AS VARCHAR)")
          .mkString(", ")
        s"SELECT doc_id, $b AS band_idx, " +
          s"${Hashing.hash60Sql(s"concat_ws(',', $cols)")} AS band_hash FROM sig"
      }.mkString("\nUNION ALL\n")
      val matchSum = (0 until FUZZY_K)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
      val parts = (0 until 3).map(k => s"t[i+$k]").mkString(" || ' ' || ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(t) - 2, 0)),
         |    i -> $parts)) AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents))),
         |shh AS (SELECT doc_id,
         |        ${Hashing.hash60Sql("shingle")} % ${Dedup.M31} AS _h FROM sh),
         |sig AS (SELECT doc_id,
         |               $mins
         |        FROM shh GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
         |         FROM bands c JOIN bands b
         |           ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
         |         WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0),
         |agree AS (SELECT cand.doc_id, cand.bench_id,
         |                 round(CAST(($matchSum) AS DOUBLE) / $FUZZY_K, 6) AS est
         |          FROM cand JOIN sig a ON a.doc_id = cand.doc_id
         |                    JOIN sig b ON b.doc_id = cand.bench_id),
         |best AS (SELECT doc_id, bench_id, est,
         |                row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY est DESC, bench_id) AS rn
         |         FROM agree)
         |SELECT doc_id, bench_id, est AS est_jaccard,
         |       CAST(CASE WHEN est >= 0.5 THEN 1 ELSE 0 END AS BIGINT)
         |         AS contaminated
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- E30
  private val sampleGroup = QueryDef(
    "sample_group",
    (s, d) => Curation.sampleGroup(t(s, d, "documents"), "doc_id", "source",
      k = 10)
      .orderBy("source", "sample_rank"),
    Some(s"""
      WITH h AS (
        SELECT source, doc_id,
               ${Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h
        FROM documents),
      r AS (SELECT source, doc_id, h,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY h, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n_total
            FROM h)
      SELECT source, CAST(n_total AS BIGINT) AS n_total,
             CAST(rn AS BIGINT) AS sample_rank, doc_id, h
      FROM r WHERE rn <= 10 ORDER BY source, sample_rank"""))

  // ---------------------------------------------------------------- E32
  private val zipfSlope = QueryDef(
    "zipf_slope",
    (s, d) => TextOps.zipfSlope(t(s, d, "documents"), "text", topV = 100),
    Some(s"""
      WITH c AS (
        SELECT term, count(*) AS freq
        FROM (SELECT unnest($toksSql) AS term FROM documents)
        GROUP BY 1 ORDER BY freq DESC, term LIMIT 100),
      r AS (SELECT row_number() OVER (ORDER BY freq DESC, term) AS rnk, freq
            FROM c),
      s AS (SELECT count(*) AS v, CAST(sum(freq) AS BIGINT) AS top_tokens,
                   sum(length(bin(rnk)) - 1) AS sx,
                   sum(length(bin(freq)) - 1) AS sy,
                   sum((length(bin(rnk)) - 1) * (length(bin(freq)) - 1)) AS sxy,
                   sum((length(bin(rnk)) - 1) * (length(bin(rnk)) - 1)) AS sxx
            FROM r)
      SELECT CAST(v AS BIGINT) AS n_terms, top_tokens,
             CASE WHEN v * sxx - sx * sx <> 0
                  THEN round(CAST(v * sxy - sx * sy AS DOUBLE)
                             / (v * sxx - sx * sx), 6)
             END AS zipf_slope
      FROM s"""))

  // ---------------------------------------------------------------- D16
  /** Content-defined chunking near-dup pairs: set Jaccard over CDC
    * segments (boundary after every token with hash ≡ 0 mod 8) — the
    * shift-robust, ~8×-smaller-index alternative to shingle Jaccard.
    * The oracle reproduces the segmentation with the same separator
    * trick (mark boundary tokens, join, split). */
  private val cdcPairs = QueryDef(
    "cdc_pairs",
    (s, d) => Dedup.cdcJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      p = 8, minJaccard = 0.5, maxDocFreq = Some(1000))
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH m AS (
        SELECT doc_id, array_to_string(list_transform($toksSql,
                 x -> x || CASE WHEN ${Hashing.hash60Sql("x")} % 8 = 0
                           THEN chr(1) ELSE '' END), ' ') AS j
        FROM documents),
      segs AS (
        SELECT DISTINCT doc_id, trim(s) AS seg
        FROM (SELECT doc_id, unnest(string_split(j, chr(1))) AS s FROM m)
        WHERE trim(s) <> ''),
      df AS (SELECT seg, count(*) AS c FROM segs GROUP BY 1),
      capped AS (SELECT segs.* FROM segs JOIN df USING (seg) WHERE c <= 1000),
      sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM capped a JOIN capped b
                  ON a.seg = b.seg AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      j AS (SELECT doc_a, doc_b, n_common,
                   round(CAST(n_common AS DOUBLE)
                         / (x.n + y.n - n_common), 6) AS jaccard
            FROM inter JOIN sizes x ON doc_a = x.doc_id
                       JOIN sizes y ON doc_b = y.doc_id)
      SELECT doc_a, doc_b, n_common, jaccard FROM j
      WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""))

  // ----------------------------------------------------------- D14/D14b
  private[queries] val PQ_M = 4; private[queries] val PQ_SUBDIM = 16

  /** Composed-IVFPQ parameters, shared between D52's search, D52b's
    * recall audit and its spec — the recall denominator is DERIVED
    * from the same k both top-k calls receive, so changing k changes
    * the audit with it instead of silently mis-scaling recall. */
  private[graft] val IVFPQ_K = 5
  private[graft] val IVFPQ_NPROBE = 3
  private[graft] val IVFPQ_SHORTLIST = 20
  private[queries] val PQ_K = 8; private[queries] val PQ_ITERS = 2
  /** Recall@k audited by embed_pq_recall (D14c) — shared by both top-k
    * calls and the recall denominator so changing k changes all three. */
  private val PQ_RECALL_K = 5

  private def dotSql(dim: Int, a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, $dim), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSql(dim: Int, a: String, b: String): String =
    s"round(${dotSql(dim, a, b)} / " +
      s"(sqrt(${dotSql(dim, a, a)}) * sqrt(${dotSql(dim, b, b)})), 6)"
  private def dot16Sql(a: String, b: String): String = dotSql(PQ_SUBDIM, a, b)
  private def cos64Sql(a: String, b: String): String = cosSql(64, a, b)

  /** Shared oracle fragment: the ADC-scored shortlist CTEs (`cbs`,
    * `qsub`, `tbl`, `ccodes`, `scored`) over the `a3_s`/`c2f_s` blocks
    * of [[pqCtes]], for queries vec_id < 5. */
  private def adcScoredCtes: String = {
    val cbs = (0 until PQ_M)
      .map(s => s"SELECT $s AS sub, ck, centroid FROM c2f_$s")
      .mkString(" UNION ALL ")
    val ccodes = (0 until PQ_M)
      .map(s => s"SELECT vec_id, $s AS sub, ck AS code FROM a3_$s")
      .mkString(" UNION ALL ")
    s"""cbs AS ($cbs),
       |qsub AS (SELECT vec_id AS query_id, sub,
       |                list_slice(embedding, sub * $PQ_SUBDIM + 1,
       |                           (sub + 1) * $PQ_SUBDIM) AS qv
       |         FROM embeddings,
       |              (SELECT unnest(generate_series(0, ${PQ_M - 1})) AS sub)
       |         WHERE vec_id < 5),
       |tbl AS (SELECT query_id, sub, ck AS code,
       |               CAST(floor(${dot16Sql("qv", "centroid")} * 1e6) AS BIGINT)
       |                 AS p
       |        FROM qsub JOIN cbs USING (sub)),
       |ccodes AS ($ccodes),
       |scored AS (SELECT t.query_id, c.vec_id AS match_id,
       |                  CAST(sum(t.p) AS BIGINT) AS score_micro
       |           FROM ccodes c JOIN tbl t
       |             ON c.sub = t.sub AND c.code = t.code
       |           WHERE c.vec_id <> t.query_id GROUP BY 1, 2)""".stripMargin
  }
  private def cos16Sql(a: String, b: String): String = cosSql(PQ_SUBDIM, a, b)

  /** CTE block reproducing [[Pq.codebooks]] + [[Pq.encode]]: the shared
    * seed ranking, then per subspace two unrolled Lloyd iterations
    * (assign → float32-cast means → empty-cluster fallback) and the
    * final code assignment `a3_s`. Shared by both PQ oracles.
    * Empty-cluster fallback chains to the PREVIOUS iterate (`c1f_s` for
    * round 2, the seed only for round 1) — matching
    * `Ivf.kmeansCentroids`' "empty clusters keep their previous
    * centroid", for any data, not just data where no cluster empties. */
  private def pqCtes: String = pqCtesFrom("embeddings")

  /** Same chain trained on an arbitrary source CTE/table (D41 trains on
    * the STANDING corpus only). */
  private def pqCtesFrom(src: String): String = {
    def slice(s: Int, col: String = "embedding") =
      s"list_slice($col, ${s * PQ_SUBDIM + 1}, ${(s + 1) * PQ_SUBDIM})"
    def assignCte(s: Int, from: String): String = {
      val cos = cos16Sql("e.sv", "c.centroid")
      s"""(SELECT vec_id, ck, cos FROM (
         |    SELECT e.vec_id, c.ck, $cos AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $cos DESC, c.ck) AS rn
         |    FROM es$s e, $from c) WHERE rn = 1)""".stripMargin
    }
    def meansCte(s: Int, assign: String): String =
      s"""(SELECT ck, list_transform(list(cv ORDER BY i),
         |                           x -> CAST(x AS REAL)) AS centroid
         |  FROM (SELECT a.ck, i, avg(CAST(e.sv[i] AS DOUBLE)) AS cv
         |        FROM $assign a JOIN es$s e USING (vec_id),
         |             generate_series(1, $PQ_SUBDIM) AS t(i)
         |        GROUP BY 1, 2) GROUP BY ck)""".stripMargin
    val seedv =
      s"""seedv AS (
         |  SELECT ck, embedding FROM (
         |    SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER)
         |             AS ck, embedding
         |    FROM (SELECT vec_id,
         |                 ${Hashing.hash60Sql("CAST(vec_id AS VARCHAR)")} AS h,
         |                 embedding FROM $src)) WHERE ck < $PQ_K)"""
        .stripMargin
    val perSub = (0 until PQ_M).map { s =>
      s"""es$s AS (SELECT vec_id, ${slice(s)} AS sv FROM $src),
         |sd$s AS (SELECT ck, ${slice(s)} AS centroid FROM seedv),
         |a1_$s AS ${assignCte(s, s"sd$s")},
         |c1_$s AS ${meansCte(s, s"a1_$s")},
         |c1f_$s AS (SELECT * FROM c1_$s UNION ALL
         |           SELECT d.ck, d.centroid FROM sd$s d
         |           WHERE d.ck NOT IN (SELECT ck FROM c1_$s)),
         |a2_$s AS ${assignCte(s, s"c1f_$s")},
         |c2_$s AS ${meansCte(s, s"a2_$s")},
         |c2f_$s AS (SELECT * FROM c2_$s UNION ALL
         |           SELECT d.ck, d.centroid FROM c1f_$s d
         |           WHERE d.ck NOT IN (SELECT ck FROM c2_$s)),
         |a3_$s AS ${assignCte(s, s"c2f_$s")}""".stripMargin
    }.mkString(",\n")
    s"$seedv,\n$perSub"
  }

  /** Standing-corpus codebooks memoized AS RAW DRIVER DATA for D41's
    * incremental audit (its training slice differs from the full-corpus
    * artifact): caching the rows rather than a DataFrame keeps the memo
    * free of any SparkSession reference — a weak-keyed frame cache
    * would be inert, since the cached Dataset strongly references its
    * session through its own map entry. */
  private val cbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Int, Seq[Float])]]()

  /** The serving inputs of the PQ suite: the corpus plus the STAGED
    * full-corpus codebook artifact ([[Staged.pqCodebooks]] — trained
    * once per JVM+sf dir, persisted, read by every consumer: the
    * build-once/serve-many split). */
  private def pqPipeline(s: org.apache.spark.sql.SparkSession, d: String) =
    (t(s, d, "embeddings"), Staged.pqCodebooks(s, d))

  private val embedPq = QueryDef(
    "embed_pq",
    // PQ codes are small exact integers; comma-joined they compare
    // byte-identically in any engine (the driver's pandas comparison
    // cannot sort/hash array cells — r4 verdict #1).
    (s, d) => Staged.pqCodes(s, d)
      .select(F.col("vec_id"),
        F.array_join(F.transform(F.col("codes"), _.cast("string")), ",")
          .as("codes_str"))
      .orderBy("vec_id"),
    Some {
      val cols = (0 until PQ_M)
        .map(s => s"CAST(CAST(a3_$s.ck AS BIGINT) AS VARCHAR)").mkString(", ")
      val joins = (1 until PQ_M)
        .map(s => s"JOIN a3_$s USING (vec_id)").mkString(" ")
      s"""WITH $pqCtes
         |SELECT a3_0.vec_id, concat_ws(',', $cols) AS codes_str
         |FROM a3_0 $joins ORDER BY vec_id""".stripMargin
    })

  private val embedPqTopk = QueryDef(
    "embed_pq_topk",
    (s, d) => {
      val (emb, cb) = pqPipeline(s, d)
      Pq.adcTopK(Staged.pqCodes(s, d), cb, emb.where(F.col("vec_id") < 5),
        "vec_id", "embedding", k = 5, PQ_M, PQ_SUBDIM)
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $pqCtes,
         |$adcScoredCtes,
         |ranked AS (SELECT query_id, match_id, score_micro,
         |                  CAST(row_number() OVER (PARTITION BY query_id
         |                    ORDER BY score_micro DESC, match_id) AS INTEGER)
         |                    AS rank
         |           FROM scored)
         |SELECT query_id, rank, match_id, score_micro
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    })

  // --------------------------------------------------------------- D14c
  /** Recall@k of the PQ/ADC index against exact brute force — the
    * standard ANN index-quality audit (an approximate index you can't
    * measure is an index you can't trust). Both sides are existing
    * operators; the audit itself is a metadata-sized join (n_queries·k
    * rows per side). Ground truth ranks by exact cosine, the index by
    * approximate dot — recall tolerates that norm mismatch by counting
    * set overlap, which is how ANN benchmarks define it.
    *
    * On this synthetic corpus recall is LOW (~0.2): near-uniform random
    * vectors have no neighborhood structure for 4 subspace codebooks to
    * preserve, which is exactly the degradation this audit exists to
    * expose before an index ships — real embedding manifolds quantize
    * far better, and the measured number is the go/no-go. */
  private val embedPqRecall = QueryDef(
    "embed_pq_recall",
    (s, d) => {
      val (emb, cb) = pqPipeline(s, d)
      val queries = emb.where(F.col("vec_id") < 5)
      val exact = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = PQ_RECALL_K)
        .select(F.col("query_id"), F.col("match_id"))
      val approx = Pq.adcTopK(Staged.pqCodes(s, d),
        cb, queries, "vec_id", "embedding", k = PQ_RECALL_K, PQ_M, PQ_SUBDIM)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(F.col("query_id"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / PQ_RECALL_K, 6).as("recall"))
        .orderBy("query_id")
    },
    Some {
      val cos64 = cos64Sql("e.embedding", "q.embedding")
      s"""WITH $pqCtes,
         |exact AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS match_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY $cos64 DESC, e.vec_id) AS rn
         |    FROM embeddings e JOIN embeddings q
         |      ON q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rn <= $PQ_RECALL_K),
         |$adcScoredCtes,
         |approx AS (SELECT query_id, match_id FROM (
         |             SELECT query_id, match_id,
         |                    row_number() OVER (PARTITION BY query_id
         |                      ORDER BY score_micro DESC, match_id) AS rank
         |             FROM scored) WHERE rank <= $PQ_RECALL_K)
         |SELECT e.query_id,
         |       CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hits,
         |       round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
         |             / $PQ_RECALL_K.0, 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.match_id = a.match_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  // --------------------------------------------------------------- D14d
  /** The full production ANN pattern: ADC shortlist (cheap, approximate,
    * corpus-linear) → [[Retrieval.rerank]] of the shortlist only, so at
    * 100 TB the float scoring cost is independent of corpus size.
    * Recovers most of the recall PQ quantization loses (the shortlist
    * just has to CONTAIN the true neighbors; exact scoring reorders
    * them). */
  private val embedPqRerank = QueryDef(
    "embed_pq_rerank",
    (s, d) => {
      val (emb, cb) = pqPipeline(s, d)
      val queries = emb.where(F.col("vec_id") < 5)
      val shortlist = Pq.adcTopK(Staged.pqCodes(s, d),
        cb, queries, "vec_id", "embedding", k = 20, PQ_M, PQ_SUBDIM)
        .select(F.col("query_id"), F.col("match_id"))
      Retrieval.rerank(shortlist, queries, emb, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $pqCtes,
         |$adcScoredCtes,
         |shortlist AS (SELECT query_id, match_id FROM (
         |               SELECT query_id, match_id,
         |                      row_number() OVER (PARTITION BY query_id
         |                        ORDER BY score_micro DESC, match_id) AS rank
         |               FROM scored) WHERE rank <= 20),
         |rescored AS (
         |  SELECT s.query_id, s.match_id,
         |         ${cos64Sql("m.embedding", "q.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings m ON m.vec_id = s.match_id),
         |reranked AS (SELECT query_id, match_id, cos,
         |                    CAST(row_number() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, match_id) AS INTEGER) AS rank
         |             FROM rescored)
         |SELECT query_id, rank, match_id, cos
         |FROM reranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    })

  // ---------------------------------------------------------------- D41
  /** Incremental PQ index maintenance (D39's IVF pattern on the product
    * quantizer): tonight's vector batch (vec_id ≡ 7 mod 10) is ENCODED
    * against codebooks trained on the STANDING corpus only — O(batch·
    * m·k) work, the standing corpus is read once at train time, never
    * re-encoded. Per (subspace, codeword): batch assignment count and
    * mean squared quantization distortion in exact integer micros²
    * (per-dim micro-floored diffs squared and summed — deterministic
    * integer arithmetic both engines; batch sums through
    * DECIMAL(38,0)/HUGEINT). Rising distortion on a codeword is the
    * per-subspace retrain signal — the PQ complement of D39's centroid
    * drift gate. */
  private val pqIncremental = QueryDef(
    "pq_incremental",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val standing = emb.where(F.expr("vec_id % 10 != 7"))
      val batch = emb.where(F.expr("vec_id % 10 = 7"))
      import s.implicits._
      val rows = cbCache.computeIfAbsent(d + "#standing", _ =>
        Pq.codebooks(standing, "vec_id", "embedding",
          PQ_M, PQ_SUBDIM, PQ_K, PQ_ITERS)
          .collect().toSeq.map(r =>
            (r.getInt(0), r.getInt(1), r.getSeq[Float](2))))
      val cb = rows.toDF("sub", "ckey", "centroid")
        .select(F.col("sub"), F.col("ckey"),
          F.col("centroid").cast("array<float>"))
      val asg = Pq.encode(batch, cb, "vec_id", "embedding",
        PQ_M, PQ_SUBDIM)
        .select(F.col("vec_id"),
          F.posexplode(F.col("codes")).as(Seq("sub", "ckey")))
      val subvecs = batch.select(F.col("vec_id"),
        F.posexplode(F.array((0 until PQ_M).map(s2 =>
          F.slice(F.col("embedding"), s2 * PQ_SUBDIM + 1, PQ_SUBDIM)): _*))
          .as(Seq("sub", "sv")))
      asg.join(subvecs, Seq("vec_id", "sub"))
        .join(F.broadcast(cb), Seq("sub", "ckey"))
        .select(F.col("sub").cast("long").as("sub"),
          F.col("ckey").cast("long").as("ckey"),
          F.expr("aggregate(zip_with(sv, centroid, (x, c) -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) - " +
            "CAST(floor(CAST(c AS DOUBLE) * 1000000) AS BIGINT)), " +
            "0L, (acc, v) -> acc + v * v)").as("dist"))
        .groupBy("sub", "ckey")
        .agg(F.count(F.lit(1)).as("n_batch"),
          F.sum(F.expr("CAST(dist AS DECIMAL(38,0))")).as("sd"))
        .select(F.col("sub"), F.col("ckey"), F.col("n_batch"),
          F.expr("CAST(sd div n_batch AS BIGINT)").as("avg_dist_micro2"))
        .orderBy("sub", "ckey")
    },
    Some {
      def bslice(s2: Int) =
        s"list_slice(embedding, ${s2 * PQ_SUBDIM + 1}, ${(s2 + 1) * PQ_SUBDIM})"
      val perSub = (0 until PQ_M).map { s2 =>
        val cos = cos16Sql("e.sv", "c.centroid")
        val dif = s"(CAST(floor(CAST(e.sv[i] AS DOUBLE) * 1000000) AS BIGINT)" +
          s" - CAST(floor(CAST(c.centroid[i] AS DOUBLE) * 1000000) AS BIGINT))"
        s"""bs$s2 AS (SELECT vec_id, ${bslice(s2)} AS sv FROM embeddings
           |          WHERE vec_id % 10 = 7),
           |ba$s2 AS (SELECT vec_id, ck FROM (
           |    SELECT e.vec_id, c.ck,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY $cos DESC, c.ck) AS rn
           |    FROM bs$s2 e, c2f_$s2 c) WHERE rn = 1),
           |bd$s2 AS (
           |  SELECT $s2 AS sub, a.ck AS ckey,
           |         list_sum(list_transform(generate_series(1, $PQ_SUBDIM),
           |           i -> $dif * $dif)) AS dist
           |  FROM ba$s2 a JOIN bs$s2 e USING (vec_id)
           |       JOIN c2f_$s2 c ON c.ck = a.ck)""".stripMargin
      }.mkString(",\n")
      val unions = (0 until PQ_M).map(s2 => s"SELECT * FROM bd$s2")
        .mkString(" UNION ALL ")
      s"""WITH embx AS (SELECT * FROM embeddings WHERE vec_id % 10 != 7),
         |${pqCtesFrom("embx")},
         |$perSub,
         |bd AS ($unions)
         |SELECT CAST(sub AS BIGINT) AS sub, CAST(ckey AS BIGINT) AS ckey,
         |       CAST(count(*) AS BIGINT) AS n_batch,
         |       CAST(sum(CAST(dist AS HUGEINT)) // count(*) AS BIGINT)
         |         AS avg_dist_micro2
         |FROM bd GROUP BY sub, ckey ORDER BY sub, ckey""".stripMargin
    })

  // --------------------------------------------------------------- D52
  /** End-to-end IVFPQ ([[Pq.ivfpqTopK]]): route each query to its 3
    * nearest IVF lists (the D9 label centroids), ADC-score ONLY those
    * lists' PQ codes (the D14 codebooks via the shared memoized
    * pipeline), exact-rerank the 20-candidate shortlist (D14d's step) —
    * the production FAISS-style index shape composed from the staged
    * parts the suite already maintains. Oracle computes the identical
    * values the naive way: full ADC `scored` filtered to probed lists
    * (restrict-then-rank == rank-over-restricted). */
  private val ivfpqSearch = QueryDef(
    "ivfpq_search",
    (s, d) => {
      val (emb, cb) = pqPipeline(s, d)
      Pq.ivfpqServe(emb, Staged.ivfAssignments(s, d), Staged.pqCodes(s, d),
        Staged.ivfCentroids(s, d), cb, emb.where(F.col("vec_id") < 5),
        "vec_id", "embedding", k = IVFPQ_K, nprobe = IVFPQ_NPROBE,
        shortlistK = IVFPQ_SHORTLIST, PQ_M, PQ_SUBDIM)
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $pqCtes,
         |$adcScoredCtes,
         |$ivfCtes,
         |scl AS (SELECT s.query_id, s.match_id, s.score_micro
         |        FROM scored s JOIN iasg a ON a.vec_id = s.match_id
         |             JOIN probes p ON p.query_id = s.query_id
         |                          AND p.ckey = a.ckey),
         |shortlist AS (SELECT query_id, match_id FROM (
         |               SELECT query_id, match_id,
         |                      row_number() OVER (PARTITION BY query_id
         |                        ORDER BY score_micro DESC, match_id)
         |                        AS rank
         |               FROM scl) WHERE rank <= $IVFPQ_SHORTLIST),
         |rescored AS (
         |  SELECT s.query_id, s.match_id,
         |         ${cos64Sql("m.embedding", "q.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings m ON m.vec_id = s.match_id),
         |reranked AS (SELECT query_id, match_id, cos,
         |                    CAST(row_number() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, match_id) AS INTEGER)
         |                      AS rank
         |             FROM rescored)
         |SELECT query_id, rank, match_id, cos
         |FROM reranked WHERE rank <= $IVFPQ_K ORDER BY query_id, rank""".stripMargin
    })

  /** Shared oracle fragment for D52/D52b: label-centroid IVF lists
    * (`cent`/`cvec` — identical to D39/D40's), every corpus vector's
    * nearest list (`iasg`), and each query's top-3 probed lists
    * (`probes`). */
  private def ivfCtes: String = {
    val cosQ = cos64Sql("q.embedding", "centroid")
    val cosE = cos64Sql("e.embedding", "centroid")
    s"""cent AS (
       |  SELECT label AS ckey, i, avg(CAST(embedding[i] AS DOUBLE)) AS cv
       |  FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY 1, 2),
       |cvec AS (
       |  SELECT ckey, list_transform(list(cv ORDER BY i),
       |           x -> CAST(x AS REAL)) AS centroid
       |  FROM cent GROUP BY ckey),
       |iasg AS (SELECT vec_id, ckey FROM (
       |          SELECT e.vec_id, ckey,
       |                 row_number() OVER (PARTITION BY e.vec_id
       |                   ORDER BY $cosE DESC, ckey) AS rn
       |          FROM embeddings e, cvec) WHERE rn = 1),
       |probes AS (SELECT query_id, ckey FROM (
       |            SELECT q.vec_id AS query_id, ckey,
       |                   row_number() OVER (PARTITION BY q.vec_id
       |                     ORDER BY $cosQ DESC, ckey) AS rn
       |            FROM embeddings q, cvec WHERE q.vec_id < 5)
       |           WHERE rn <= $IVFPQ_NPROBE)""".stripMargin
  }

  // -------------------------------------------------------------- D52b
  /** Recall@5 of the composed IVFPQ index against exact brute force —
    * the D14c audit re-run on the full composition, so routing loss
    * (true neighbor in an unprobed list) and quantization loss (ADC
    * misranks within probed lists) are measured TOGETHER; compare to
    * D14c (PQ-only) and D34 (IVF-only) to attribute which stage costs
    * recall. Metadata-sized: n_queries·k rows per side. */
  private val ivfpqRecall = QueryDef(
    "ivfpq_recall",
    (s, d) => {
      val (emb, cb) = pqPipeline(s, d)
      val queries = emb.where(F.col("vec_id") < 5)
      val exact = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = IVFPQ_K)
        .select(F.col("query_id"), F.col("match_id"))
      val approx = Pq.ivfpqServe(emb, Staged.ivfAssignments(s, d),
        Staged.pqCodes(s, d), Staged.ivfCentroids(s, d), cb, queries,
        "vec_id", "embedding", k = IVFPQ_K, nprobe = IVFPQ_NPROBE,
        shortlistK = IVFPQ_SHORTLIST, PQ_M, PQ_SUBDIM)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
        .select(F.col("query_id"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / IVFPQ_K, 6).as("recall"))
        .orderBy("query_id")
    },
    Some {
      val cos64 = cos64Sql("e.embedding", "q.embedding")
      s"""WITH $pqCtes,
         |$adcScoredCtes,
         |$ivfCtes,
         |exact AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS match_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY $cos64 DESC, e.vec_id) AS rn
         |    FROM embeddings e JOIN embeddings q
         |      ON q.vec_id < 5 AND e.vec_id <> q.vec_id) WHERE rn <= $IVFPQ_K),
         |scl AS (SELECT s.query_id, s.match_id, s.score_micro
         |        FROM scored s JOIN iasg a ON a.vec_id = s.match_id
         |             JOIN probes p ON p.query_id = s.query_id
         |                          AND p.ckey = a.ckey),
         |shortlist AS (SELECT query_id, match_id FROM (
         |               SELECT query_id, match_id,
         |                      row_number() OVER (PARTITION BY query_id
         |                        ORDER BY score_micro DESC, match_id)
         |                        AS rank
         |               FROM scl) WHERE rank <= $IVFPQ_SHORTLIST),
         |rescored AS (
         |  SELECT s.query_id, s.match_id,
         |         ${cos64Sql("m.embedding", "q.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings m ON m.vec_id = s.match_id),
         |approx AS (SELECT query_id, match_id FROM (
         |             SELECT query_id, match_id,
         |                    row_number() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, match_id) AS rank
         |             FROM rescored) WHERE rank <= $IVFPQ_K)
         |SELECT e.query_id,
         |       CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0
         |                END) AS BIGINT) AS n_hits,
         |       round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0
         |                 END) / $IVFPQ_K.0, 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.match_id = a.match_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  /** Shared oracle fragment for D64/D64b: the residual corpus over the
    * IVF assignment (`resx` — per vector x − centroid(list(x)), exact
    * double subtraction rounded once to REAL = IEEE float32 sub, the
    * same bits as Spark's float zip_with), the PQ chain TRAINED ON
    * RESIDUALS ([[pqCtesFrom]]), the raw-query ADC table over residual
    * codebooks, the per-(query, probed-list) bias floor(dot(q, c)·1e6),
    * and the biased probed-list score `rscl`. Requires [[ivfCtes]]
    * (cvec/iasg/probes) in scope. */
  private def residualScoredCtes: String = {
    val rcbs = (0 until PQ_M)
      .map(s => s"SELECT $s AS sub, ck, centroid FROM c2f_$s")
      .mkString(" UNION ALL ")
    val rcc = (0 until PQ_M)
      .map(s => s"SELECT vec_id, $s AS sub, ck AS code FROM a3_$s")
      .mkString(" UNION ALL ")
    s"""resx AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         list_transform(generate_series(1, 64),
       |           i -> CAST(CAST(e.embedding[i] AS DOUBLE)
       |                     - CAST(c.centroid[i] AS DOUBLE) AS REAL))
       |           AS embedding
       |  FROM embeddings e JOIN iasg a USING (vec_id)
       |       JOIN cvec c ON c.ckey = a.ckey),
       |${pqCtesFrom("resx")},
       |rcbs AS ($rcbs),
       |rqsub AS (SELECT vec_id AS query_id, sub,
       |                 list_slice(embedding, sub * $PQ_SUBDIM + 1,
       |                            (sub + 1) * $PQ_SUBDIM) AS qv
       |          FROM embeddings,
       |               (SELECT unnest(generate_series(0, ${PQ_M - 1}))
       |                  AS sub)
       |          WHERE vec_id < 5),
       |rtbl AS (SELECT query_id, sub, ck AS code,
       |                CAST(floor(${dot16Sql("qv", "centroid")} * 1e6)
       |                     AS BIGINT) AS p
       |         FROM rqsub JOIN rcbs USING (sub)),
       |rccodes AS ($rcc),
       |qcb AS (SELECT p.query_id, p.ckey,
       |               CAST(floor(${dotSql(64, "q.embedding", "c.centroid")}
       |                          * 1e6) AS BIGINT) AS qc_micro
       |        FROM probes p JOIN embeddings q ON q.vec_id = p.query_id
       |             JOIN cvec c ON c.ckey = p.ckey),
       |rscl AS (SELECT t.query_id, c.vec_id AS match_id,
       |                CAST(sum(t.p) + max(b.qc_micro) AS BIGINT)
       |                  AS score_micro
       |         FROM rccodes c
       |         JOIN iasg a ON a.vec_id = c.vec_id
       |         JOIN qcb b ON b.ckey = a.ckey
       |         JOIN rtbl t ON t.query_id = b.query_id AND t.sub = c.sub
       |                    AND t.code = c.code
       |         WHERE c.vec_id <> b.query_id
       |         GROUP BY 1, 2)""".stripMargin
  }

  // ---------------------------------------------------------------- D64
  /** FAISS-style IVFADC on residuals ([[Pq.ivfpqResidualServe]]): same
    * composed index as D52, but the corpus is PQ-encoded as
    * x − centroid(list(x)) — the standard recall win at the same code
    * budget (residuals concentrate near 0 once routing removes the
    * list mean, so the codebook spends its precision on what routing
    * didn't explain) — and the ADC score adds the per-(query, probed-
    * list) bias dot(q, c) in integer micros. All index artifacts
    * staged (residual corpus, residual codebooks, residual codes);
    * serving touches the probed lists' codes + a broadcast rerank,
    * exactly D52's shape. D64b publishes recall beside D52b's. */
  private val ivfpqResidual = QueryDef(
    "ivfpq_residual",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Pq.ivfpqResidualServe(emb, Staged.ivfAssignments(s, d),
        Staged.pqResCodes(s, d), Staged.ivfCentroids(s, d),
        Staged.pqResCodebooks(s, d), emb.where(F.col("vec_id") < 5),
        "vec_id", "embedding", k = IVFPQ_K, nprobe = IVFPQ_NPROBE,
        shortlistK = IVFPQ_SHORTLIST, PQ_M, PQ_SUBDIM)
        .orderBy("query_id", "rank")
    },
    Some {
      s"""WITH $ivfCtes,
         |$residualScoredCtes,
         |shortlist AS (SELECT query_id, match_id FROM (
         |               SELECT query_id, match_id,
         |                      row_number() OVER (PARTITION BY query_id
         |                        ORDER BY score_micro DESC, match_id)
         |                        AS rank
         |               FROM rscl) WHERE rank <= $IVFPQ_SHORTLIST),
         |rescored AS (
         |  SELECT s.query_id, s.match_id,
         |         ${cos64Sql("m.embedding", "q.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings m ON m.vec_id = s.match_id),
         |reranked AS (SELECT query_id, match_id, cos,
         |                    CAST(row_number() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, match_id) AS INTEGER)
         |                      AS rank
         |             FROM rescored)
         |SELECT query_id, rank, match_id, cos
         |FROM reranked WHERE rank <= $IVFPQ_K
         |ORDER BY query_id, rank""".stripMargin
    })

  // --------------------------------------------------------------- D64b
  /** Recall@5 of the residual IVFADC index against exact brute force —
    * D52b's audit re-run on the residual encoding so the residual-vs-
    * raw delta is a published number beside D52b's, measured by the
    * same machinery (on synthetic near-uniform vectors the honest
    * answer may be "no gain" — the audit is the deliverable). */
  private val ivfpqResidualRecall = QueryDef(
    "ivfpq_residual_recall",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(F.col("vec_id") < 5)
      val exact = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = IVFPQ_K)
        .select(F.col("query_id"), F.col("match_id"))
      val approx = Pq.ivfpqResidualServe(emb, Staged.ivfAssignments(s, d),
        Staged.pqResCodes(s, d), Staged.ivfCentroids(s, d),
        Staged.pqResCodebooks(s, d), queries,
        "vec_id", "embedding", k = IVFPQ_K, nprobe = IVFPQ_NPROBE,
        shortlistK = IVFPQ_SHORTLIST, PQ_M, PQ_SUBDIM)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
        .select(F.col("query_id"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / IVFPQ_K, 6).as("recall"))
        .orderBy("query_id")
    },
    Some {
      val cos64 = cos64Sql("e.embedding", "q.embedding")
      s"""WITH $ivfCtes,
         |$residualScoredCtes,
         |exact AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS match_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY $cos64 DESC, e.vec_id) AS rn
         |    FROM embeddings e JOIN embeddings q
         |      ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rn <= $IVFPQ_K),
         |shortlist AS (SELECT query_id, match_id FROM (
         |               SELECT query_id, match_id,
         |                      row_number() OVER (PARTITION BY query_id
         |                        ORDER BY score_micro DESC, match_id)
         |                        AS rank
         |               FROM rscl) WHERE rank <= $IVFPQ_SHORTLIST),
         |rescored AS (
         |  SELECT s.query_id, s.match_id,
         |         ${cos64Sql("m.embedding", "q.embedding")} AS cos
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings m ON m.vec_id = s.match_id),
         |approx AS (SELECT query_id, match_id FROM (
         |             SELECT query_id, match_id,
         |                    row_number() OVER (PARTITION BY query_id
         |                      ORDER BY cos DESC, match_id) AS rank
         |             FROM rescored) WHERE rank <= $IVFPQ_K)
         |SELECT e.query_id,
         |       CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0
         |                END) AS BIGINT) AS n_hits,
         |       round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0
         |                 END) / $IVFPQ_K.0, 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.match_id = a.match_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  /** D69's serve budget: Hamming shortlist size before the exact
    * rerank, and the published top-k — shared with the recall audit's
    * denominator so changing either changes all three. */
  private val BIN_SHORTLIST = 100
  private val BIN_K = 5

  /** Shared oracle CTEs for the binary rung: per-(query < 5, candidate)
    * sign-bit Hamming distance computed STRUCTURALLY (count of differing
    * sign tests — the oracle needn't replicate the 64-bit packing, only
    * its result; nulls pinned to false on both engines), shortlist of
    * the BIN_SHORTLIST nearest by (hamming, match_id), exact-cosine
    * rerank. Emits `bsl` (shortlist) and `brr` (reranked rows). */
  private def binaryCtes: String =
    s"""bq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
       |bham AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS match_id,
       |         CAST(list_sum(list_transform(generate_series(1, 64), i ->
       |           CASE WHEN coalesce(e.embedding[i] > 0, false)
       |                     <> coalesce(q.embedding[i] > 0, false)
       |                THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |  FROM embeddings e JOIN bq q ON e.vec_id <> q.vec_id),
       |bsl AS (SELECT query_id, match_id, hamming FROM (
       |          SELECT query_id, match_id, hamming,
       |                 row_number() OVER (PARTITION BY query_id
       |                   ORDER BY hamming, match_id) AS rn
       |          FROM bham) WHERE rn <= $BIN_SHORTLIST),
       |brr AS (
       |  SELECT s.query_id, s.match_id, s.hamming,
       |         ${cos64Sql("m.embedding", "q.embedding")} AS cos,
       |         CAST(row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY ${cos64Sql("m.embedding", "q.embedding")} DESC,
       |                    s.match_id) AS INTEGER) AS rank
       |  FROM bsl s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings m ON m.vec_id = s.match_id)""".stripMargin

  // ---------------------------------------------------------------- D69
  /** Binary sign-quantization ANN — the missing CHEAPEST rung of the
    * quantization ladder (float32 → int8 D12 → PQ D14 → IVFPQ D52 →
    * residual D64 → 1 bit/dim): the corpus is one staged BIGINT of sign
    * bits per vector ([[Staged.signCodes]], 32× smaller than float32),
    * candidates scored by ONE codegen'd xor+popcount each, the
    * BIN_SHORTLIST nearest reranked by exact cosine (D14d's pattern —
    * the float corpus is touched only for shortlisted ids). At 100 TB
    * the Hamming pass streams 8 bytes/vector — the first-stage filter
    * that makes everything downstream candidate-bounded. */
  private val embedBinaryTopk = QueryDef(
    "embed_binary_topk",
    (s, d) => {
      val codes = Staged.signCodes(s, d)
      graft.operators.Similarity.binaryTopK(
        t(s, d, "embeddings"), codes, codes.where(F.col("vec_id") < 5),
        "vec_id", "embedding", BIN_K, BIN_SHORTLIST)
        .orderBy("query_id", "rank")
    },
    Some(s"""WITH $binaryCtes
      SELECT query_id, rank, match_id, hamming, cos
      FROM brr WHERE rank <= $BIN_K ORDER BY query_id, rank"""))

  // --------------------------------------------------------------- D69b
  /** Recall@k of the binary rung against exact brute force — published
    * beside D14c (PQ ≈ 0.2) and D52b/D64b (IVFPQ 0.08 / residual 0.16)
    * so the ladder's cost-recall trade reads off one table: 64 sign
    * bits preserve far more cosine ORDER on this corpus than 4 PQ
    * codes, because every dimension keeps its sign while PQ collapses
    * 16-dim subspaces to 4 centroids. Same set-overlap definition as
    * every ANN audit here. */
  private val embedBinaryRecall = QueryDef(
    "embed_binary_recall",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(F.col("vec_id") < 5)
      val codes = Staged.signCodes(s, d)
      val exact = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = BIN_K)
        .select(F.col("query_id"), F.col("match_id"))
      val approx = graft.operators.Similarity.binaryTopK(
        emb, codes, codes.where(F.col("vec_id") < 5),
        "vec_id", "embedding", BIN_K, BIN_SHORTLIST)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
        .select(F.col("query_id"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / BIN_K, 6).as("recall"))
        .orderBy("query_id")
    },
    Some {
      val cos64 = cos64Sql("e.embedding", "q.embedding")
      s"""WITH $binaryCtes,
         |bexact AS (
         |  SELECT query_id, match_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS match_id,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY $cos64 DESC, e.vec_id) AS rn
         |    FROM embeddings e JOIN embeddings q
         |      ON q.vec_id < 5 AND e.vec_id <> q.vec_id)
         |  WHERE rn <= $BIN_K),
         |bapprox AS (SELECT query_id, match_id FROM brr
         |            WHERE rank <= $BIN_K)
         |SELECT e.query_id,
         |       CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hits,
         |       round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
         |             / $BIN_K.0, 6) AS recall
         |FROM bexact e LEFT JOIN bapprox a
         |  ON e.query_id = a.query_id AND e.match_id = a.match_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  def all: Seq[QueryDef] = Seq(
    lineDedup, tfidfCosinePairs, contaminationFuzzy, sampleGroup, zipfSlope,
    cdcPairs, embedPq, embedPqTopk, embedPqRecall, embedPqRerank,
    pqIncremental, ivfpqSearch, ivfpqRecall, ivfpqResidual,
    ivfpqResidualRecall, embedBinaryTopk, embedBinaryRecall)
}
