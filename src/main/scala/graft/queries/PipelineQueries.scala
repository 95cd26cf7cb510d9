package graft.queries

import graft.operators.{Dedup, Hashing, Ivf, Retrieval, Similarity, Skew, TextOps}
import org.apache.spark.sql.{functions => F}
import Tables.t

/** Wave-2 inventory: dedup & similarity (D), text analysis (E),
  * multimodal metadata (F1). Oracle SQL for the hash-based operators is
  * generated from the same parameters as the Spark implementation. */
object PipelineQueries {

  /** DuckDB: lowercase whitespace tokens of `text`. */
  private val toksSql = "regexp_split_to_array(lower(text), ' +')"

  /** DuckDB CTE producing (doc_id, shingle) distinct word n-grams. */
  private def shingleCte(n: Int): String = {
    val parts = (0 until n).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""sh AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(t)-${n - 1}, 0)),
       |    i -> $parts)) AS shingle
       |  FROM (SELECT doc_id, $toksSql AS t FROM documents)))""".stripMargin
  }

  // ---------------------------------------------------------------- D1
  private val dedupExact = QueryDef(
    "dedup_exact",
    (s, d) => Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
      .orderBy("text_hash"),
    Some("""
      SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
             count(*) AS n_dups
      FROM documents GROUP BY 1 ORDER BY text_hash"""))

  // ---------------------------------------------------------------- D2
  private val dedupFingerprint = QueryDef(
    "dedup_fingerprint",
    (s, d) => Dedup.fingerprintGroups(t(s, d, "documents"), "doc_id", "text")
      .orderBy("fingerprint"),
    Some(s"""
      SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint,
             min(doc_id) AS keep_id, count(*) AS n_members
      FROM documents GROUP BY 1 ORDER BY fingerprint"""))

  // ---------------------------------------------------------------- D3
  private[queries] val K = 16; private[queries] val BANDS = 4

  /** DuckDB CTE chain ending in `mh_pairs(doc_a, doc_b, n_bands)` — the
    * banded-minhash candidate pairs, shared by the D3 oracle and the
    * D11 connected-components oracle. */
  /** Shared accessor for the D35 threshold sweep (TuneQueries). */
  private[queries] def minhashCtesSqlShared: String = minhashCtesSql

  private def minhashCtesSql: String = {
    val mins = (0 until K).map { i =>
      val (a, b) = Dedup.minhashCoef(i)
      s"min((_h * $a + $b) % ${Dedup.M31}) AS h$i"
    }.mkString(",\n         ")
    val r = K / BANDS
    val bandSelects = (0 until BANDS).map { b =>
      val cols = (0 until r).map(j => s"CAST(h${b * r + j} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, " +
        s"${Hashing.hash60Sql(s"concat_ws(',', $cols)")} AS band_hash FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""${shingleCte(3)},
       |shh AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} % ${Dedup.M31} AS _h FROM sh),
       |sig AS (SELECT doc_id,
       |        $mins
       |        FROM shh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |mh_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |       AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  private val dedupMinhash = QueryDef(
    "dedup_minhash",
    (s, d) => Dedup.minhashCandidatePairs(t(s, d, "documents"), "doc_id", "text",
      k = K, bands = BANDS, shingleN = 3)
      .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $minhashCtesSql
      SELECT doc_a, doc_b, n_bands FROM mh_pairs ORDER BY doc_a, doc_b"""))

  // --------------------------------------------------------------- D11
  /** Near-dup CLUSTERS: connected components over the minhash candidate
    * pairs via distributed min-label propagation (one shuffle per
    * round, O(component diameter) rounds — see
    * [[Dedup.connectedComponents]]). The production step between
    * candidate pairs and keep/drop: A≈B, B≈C ⇒ one cluster {A,B,C}
    * even though the pair list never says A–C. Oracle = recursive-CTE
    * transitive closure over the same pairs. */
  private val dedupClusters = QueryDef(
    "dedup_clusters",
    (s, d) => {
      val pairs = Staged.minhashPairs(s, d)
      // localThreshold = 0: this query deliberately exercises the
      // DISTRIBUTED propagation loop against the recursive-CTE oracle
      // (the union-find finishing layer is covered by semantic_dedup
      // and the operator specs)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", localThreshold = 0L)
        .orderBy("doc_id")
    },
    Some(minhashClustersOracleSql))

  /** D11 oracle — recursive-CTE transitive closure over the candidate
    * pairs; shared with the D19 star-contraction twin (two independent
    * distributed CC algorithms, one truth). */
  private def minhashClustersOracleSql: String =
    s"""WITH RECURSIVE $minhashCtesSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                UNION SELECT doc_b, doc_a FROM mh_pairs),
      reach AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
                WHERE e.b <> r.a)
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a ORDER BY doc_id"""

  // -------------------------------------------------------------- D19
  /** The pointer-jumping / star-contraction CC (O(log n) rounds for
    * adversarial-diameter graphs — [[Dedup.connectedComponentsStarContract]],
    * previously spec-only) run against the SAME recursive-CTE oracle as
    * D11's min-label propagation: two independently-derived distributed
    * algorithms hash-matching one truth is the strongest correctness
    * evidence this harness can produce. localThreshold = 0 forces the
    * distributed jump+propagate loop. */
  private val dedupClustersStar = QueryDef(
    "dedup_clusters_star",
    (s, d) => Dedup.connectedComponentsStarContract(
      Staged.minhashPairs(s, d), "doc_a", "doc_b", localThreshold = 0L)
      .orderBy("doc_id"),
    Some(minhashClustersOracleSql))

  // ---------------------------------------------------------------- D4
  private val SIMHASH_BITS = 32
  private val dedupSimhash = QueryDef(
    "dedup_simhash",
    (s, d) => Dedup.simhash(t(s, d, "documents"), "doc_id", "text", SIMHASH_BITS)
      .orderBy("doc_id"),
    Some {
      val bits = (0 until SIMHASH_BITS).map { b =>
        s"(CASE WHEN sum(cnt * (((h >> $b) & 1) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("\n             + ")
      s"""WITH tok AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |tokh AS (SELECT doc_id, cnt, ${Hashing.hash60Sql("tok")} AS h FROM tok)
         |SELECT doc_id,
         |       CAST($bits AS BIGINT) AS simhash
         |FROM tokh GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  // --------------------------------------------------------------- D4b
  /** Near-dup pairs by SimHash hamming distance within language blocks. */
  private val simhashPairs = QueryDef(
    "simhash_pairs",
    (s, d) => {
      val withLang = Dedup.simhash(t(s, d, "documents"), "doc_id", "text", SIMHASH_BITS)
        .join(t(s, d, "documents").select("doc_id", "lang"), "doc_id")
      Dedup.simhashPairs(withLang, "lang", maxHamming = 6)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val bits = (0 until SIMHASH_BITS).map { b =>
        s"(CASE WHEN sum(cnt * (((h >> $b) & 1) * 2 - 1)) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("\n             + ")
      s"""WITH tok AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |tokh AS (SELECT doc_id, cnt, ${Hashing.hash60Sql("tok")} AS h FROM tok),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |       FROM tokh GROUP BY doc_id),
         |shl AS (SELECT sh.doc_id, simhash, lang
         |        FROM sh JOIN documents USING (doc_id))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM shl a JOIN shl b
         |  ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  // ---------------------------------------------------------------- D5
  /** Exact (UNCAPPED) n-gram Jaccard — the reference-semantics oracle.
    * maxDocFreq = None is an explicit opt-out of the capped default:
    * quadratic on duplicate-heavy corpora, kept as the exactness
    * reference. Production path = ngram_jaccard_capped / D5b. */
  private val ngramJaccard = QueryDef(
    "ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = None)
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH ${shingleCte(3)},
      shh AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shh a JOIN shh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common,
             round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5
      ORDER BY doc_a, doc_b"""))

  // --------------------------------------------------------------- D5c
  /** The capped DEFAULT path with a cap small enough to bite at test
    * scale (df ≤ 5; max shingle df at sf0.01 is 7, so the cap really
    * drops shingles and the oracle checks the capped SEMANTICS, not a
    * no-op): stopword-like shingles are dropped BEFORE the self-join on
    * both sides, sizes are computed on the capped set. This is the form
    * whose join fan-out is bounded by cap·df rows per shingle instead
    * of df². */
  private val ngramJaccardCapped = QueryDef(
    "ngram_jaccard_capped",
    (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = Some(5))
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH ${shingleCte(3)},
      shh0 AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
      shh AS (SELECT doc_id, shingle_h FROM shh0
              QUALIFY count(*) OVER (PARTITION BY shingle_h) <= 5),
      sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shh a JOIN shh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common,
             round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
      WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5
      ORDER BY doc_a, doc_b"""))

  /** DuckDB double dot product of two `dim`-prefix float lists. */
  private def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_sum(list_transform(generate_series(1, $dim), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"
  private def cosSqlDim(a: String, b: String, dim: Int): String =
    s"round(${dotSql(a, b, dim)} / (sqrt(${dotSql(a, a, dim)}) * sqrt(${dotSql(b, b, dim)})), 6)"

  // ---------------------------------------------------------------- D6
  private val embedTopK = QueryDef(
    "embed_cosine_topk",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") < 5),
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id AS match_id, embedding AS cv FROM embeddings),
      scored AS (
        SELECT query_id, match_id, ${cosSql("qv", "cv")} AS cos
        FROM q, c WHERE query_id != match_id)
      SELECT query_id, rank, match_id, cos FROM (
        SELECT query_id, match_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, match_id) AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  // ---------------------------------------------------------------- D7
  private val embedNearDup = QueryDef(
    "embed_neardup",
    (s, d) => Similarity.blockedNearDupPairs(t(s, d, "embeddings"),
      "vec_id", "embedding", "label", minCosine = 0.35)
      .orderBy("vec_a", "vec_b"),
    Some(s"""
      SELECT vec_a, vec_b, cos FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ${cosSql("a.embedding", "b.embedding")} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id)
      WHERE cos >= 0.35 ORDER BY vec_a, vec_b"""))

  // ---------------------------------------------------------------- D8
  private val PLANES = 8
  /** Recall@k shared by the ANN audits in this file (D24 multiprobe,
    * D27 matryoshka, D34 IVF) — one constant drives both top-k calls
    * AND the recall denominator of each, so changing k cannot silently
    * skew the measured recall (same fix as ivfpq_recall's IVFPQ_K). */
  private val ANN_RECALL_K = 5

  /** DuckDB expression for the 8-plane hyperplane bucket of `embedding`. */
  private def bucketBitsSql: String = {
    val signs = Similarity.planeSigns(PLANES, 64)
    (0 until PLANES).map { p =>
      val lits = signs(p).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * ($lits)[i])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n             + ")
  }

  private val embedLshBuckets = QueryDef(
    "embed_lsh_buckets",
    (s, d) => Similarity.hyperplaneBuckets(t(s, d, "embeddings"),
      "vec_id", "embedding", planes = PLANES, dim = 64)
      .orderBy("vec_id"),
    Some(s"""SELECT vec_id,
       |       CAST($bucketBitsSql AS BIGINT) AS bucket
       |FROM embeddings ORDER BY vec_id""".stripMargin))

  // --------------------------------------------------------------- D8b
  /** The LSH scale path END-TO-END: hyperplane-bucket the corpus (narrow
    * map), then verify cosine only WITHIN buckets — the candidate join
    * shuffles on the bucket key, never all-pairs. (D7 blocks on a given
    * label; this needs no labels.) */
  private val embedLshNearDup = QueryDef(
    "embed_lsh_neardup",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val b = Similarity.hyperplaneBuckets(emb, "vec_id", "embedding",
        planes = PLANES, dim = 64)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .transform(graft.operators.CacheScope.persist)
      val left = b.select(F.col("vec_id").as("vec_a"),
        F.col("embedding").as("va"), F.col("bucket"))
      val right = b.select(F.col("vec_id").as("vec_b"),
        F.col("embedding").as("vb"), F.col("bucket"))
      left.join(right, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
        .select(F.col("bucket"), F.col("vec_a"), F.col("vec_b"),
          Similarity.cosine(F.col("va"), F.col("vb")).as("cos"))
        .filter(F.col("cos") >= 0.35)
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""
      WITH bk AS (
        SELECT vec_id, CAST($bucketBitsSql AS BIGINT) AS bucket, embedding
        FROM embeddings)
      SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${cosSql("a.embedding", "b.embedding")} AS cos
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
      ORDER BY vec_a, vec_b"""))

  // ---------------------------------------------------------------- E1
  private val textLangid = QueryDef(
    "text_langid",
    (s, d) => {
      val counts = TextOps.langMarkers.map { case (lang, ms) =>
        s"n_$lang" -> TextOps.markerCount(F.col("text"), ms).cast("long")
      }
      t(s, d, "documents")
        .select(F.col("doc_id") +: counts.map { case (n, c) => c.as(n) } :+
          TextOps.langId(F.col("text")).as("pred_lang"): _*)
        .orderBy("doc_id")
    },
    Some {
      val markerSql = TextOps.langMarkers.map { case (lang, ms) =>
        val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
        lang -> s"len(list_filter($toksSql, x -> $cond))"
      }
      val cols = markerSql.map { case (l, e) => s"$e AS n_$l" }.mkString(",\n             ")
      val best = s"greatest(${markerSql.map(_._1).map(l => s"n_$l").mkString(", ")})"
      val cases = markerSql.map(_._1)
        .map(l => s"WHEN n_$l > 0 AND n_$l = $best THEN '$l'")
        .mkString("\n                  ")
      s"""SELECT doc_id, n_en, n_fr, n_de, n_es, pred_lang FROM (
         |  SELECT doc_id,
         |             $cols
         |  FROM documents)
         |  , LATERAL (SELECT CASE $cases
         |                  ELSE 'unknown' END AS pred_lang)
         |ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- E2
  private val textQuality = QueryDef(
    "text_quality",
    (s, d) => {
      val cols = TextOps.qualityColumns(F.col("text"))
      t(s, d, "documents")
        .select(F.col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    },
    Some {
      val stop = TextOps.stopwords.map(m => s"x = '$m'").mkString(" OR ")
      s"""SELECT doc_id, n_tokens, n_stop, n_punct,
         |       round(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
         |       round((n_stop * 1.0 / n_tokens) * 0.5
         |             + (n_punct * 1.0 / n_chars_len) * 0.3
         |             + least(n_tokens / 100.0, 1.0) * 0.2, 6) AS quality
         |FROM (
         |  SELECT doc_id,
         |         len($toksSql) AS n_tokens,
         |         len(list_filter($toksSql, x -> $stop)) AS n_stop,
         |         CAST(len(regexp_extract_all(text, '[.,!?;]')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS n_chars_len
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- E3
  private val textTokens = QueryDef(
    "text_tokens",
    (s, d) => {
      val toks = TextOps.tokens(F.col("text"))
      t(s, d, "documents").select(
        F.col("doc_id"),
        F.size(toks).cast("long").as("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("long").as("n_words"),
        F.size(F.array_distinct(toks)).cast("long").as("n_distinct"),
        F.ceil(F.length(F.col("text")) / 4.0).cast("long").as("est_bpe_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             len($toksSql) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_words,
             len(list_distinct($toksSql)) AS n_distinct,
             CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- E4
  private val textNgrams = QueryDef(
    "text_ngrams",
    (s, d) => TextOps.topNgrams(t(s, d, "documents"), "text", n = 2, k = 20),
    Some(s"""
      WITH grams AS (
        SELECT unnest(list_transform(
          generate_series(1, greatest(len(t)-1, 0)),
          i -> t[i] || ' ' || t[i+1])) AS gram
        FROM (SELECT $toksSql AS t FROM documents))
      SELECT gram, count(*) AS freq FROM grams
      GROUP BY gram ORDER BY freq DESC, gram LIMIT 20"""))

  // ---------------------------------------------------------------- F1
  private val binaryMeta = QueryDef(
    "binary_meta",
    (s, d) => t(s, d, "documents").select(
      F.col("doc_id"),
      F.length(F.col("text").cast("binary")).cast("long").as("n_bytes"),
      F.sha2(F.col("text"), 256).as("content_id"),
      F.lower(F.hex(F.substring(F.col("text").cast("binary"), 1, 4))).as("magic_hex"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             sha256(text) AS content_id,
             lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- D9
  private val embedIvfAssign = QueryDef(
    "embed_ivf_assign",
    (s, d) => Staged.ivfAssignments(s, d).orderBy("vec_id"),
    Some(s"""
      WITH cent AS (
        SELECT label AS ckey, i, avg(CAST(embedding[i] AS DOUBLE)) AS cv
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY 1, 2),
      cvec AS (
        SELECT ckey, list_transform(list(cv ORDER BY i), x -> CAST(x AS REAL)) AS centroid
        FROM cent GROUP BY ckey),
      scored AS (
        SELECT vec_id, ckey, ${cosSql("embedding", "centroid")} AS cos
        FROM embeddings, cvec)
      SELECT vec_id, centroid_label, cos FROM (
        SELECT vec_id, ckey AS centroid_label, cos,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ckey) AS rn
        FROM scored) WHERE rn = 1
      ORDER BY vec_id"""))

  // ------------------------------------------------------- D9 (search)
  private val centroidCtes = s"""cent AS (
        SELECT label AS ckey, i, avg(CAST(embedding[i] AS DOUBLE)) AS cv
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY 1, 2),
      cvec AS (
        SELECT ckey, list_transform(list(cv ORDER BY i), x -> CAST(x AS REAL)) AS centroid
        FROM cent GROUP BY ckey)"""

  private val embedIvfSearch = QueryDef(
    "embed_ivf_search",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      Ivf.searchAssigned(emb, Staged.ivfAssignments(s, d),
        Staged.ivfCentroids(s, d),
        emb.filter(F.col("vec_id") < 3), "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $centroidCtes,
      assigned AS (
        SELECT vec_id AS match_id, ckey AS centroid_label FROM (
          SELECT vec_id, ckey,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ckey) AS rn
          FROM (SELECT vec_id, ckey, ${cosSql("embedding", "centroid")} AS cos
                FROM embeddings, cvec)) WHERE rn = 1),
      probes AS (
        SELECT query_id, centroid_label FROM (
          SELECT query_id, ckey AS centroid_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, ckey) AS rn
          FROM (SELECT e.vec_id AS query_id, ckey,
                       ${cosSql("e.embedding", "centroid")} AS cos
                FROM embeddings e, cvec WHERE e.vec_id < 3)) WHERE rn <= 2),
      cands AS (
        SELECT p.query_id, a.match_id,
               ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM probes p
             JOIN assigned a ON p.centroid_label = a.centroid_label
             JOIN embeddings q ON q.vec_id = p.query_id
             JOIN embeddings c ON c.vec_id = a.match_id
        WHERE p.query_id != a.match_id)
      SELECT query_id, rank, match_id, cos FROM (
        SELECT query_id, match_id, cos,
               CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, match_id) AS INTEGER) AS rank
        FROM cands)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  // ------------------------------------------------------- skew pattern
  /** Salted fact⋈dim join — since r15 produced by the OPTIMIZER, not
    * by hand: the query is a plain inner join with the fact key tagged
    * [[Skew.skewJoinHint]], and [[graft.plans.SaltedJoinRewrite]]
    * rewrites it into the salt-fact/replicate-dim two-phase plan
    * [[Skew.saltedJoin]] builds manually (the skewed key's rows spread
    * over 8 reducers instead of one). Oracle = the plain join, which
    * the rewritten plan must equal exactly; PlanAuditSpec asserts the
    * rewrite fired (dim-side explode + salt equi-conjunct) and that
    * bail-out shapes keep their single-phase plan. */
  private val joinSalted = QueryDef(
    "join_salted",
    (s, d) => {
      val li = t(s, d, "lineitem")
      val supp = t(s, d, "supplier")
        .select(F.col("s_suppkey").as("l_suppkey"), F.col("s_name"))
      li.join(supp,
          Skew.skewJoinHint(li("l_suppkey"), salts = 8) === supp("l_suppkey"))
        .groupBy("s_name")
        .agg(
          F.sum(F.col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast("string").cast("double") // hash-portable: see CoreQueries.pd
            .as("total_price"),
          F.count(F.lit(1)).as("n_items"))
        .orderBy("s_name")
    },
    Some("""
      SELECT s_name,
             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price,
             count(*) AS n_items
      FROM lineitem, supplier WHERE l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name"""))

  // ---------------------------------------------------------------- E9
  /** BM25 keyword search over the corpus (k1=1.2, b=0.75) with the
    * rational Robertson idf (N−df+0.5)/(df+0.5) — no logarithm, so the
    * score is bit-portable across engines (ln is not correctly-rounded
    * in either libm). Corpus stats aggregate once and broadcast back;
    * scoring is a narrow map. */
  private val bm25Terms = Seq("spark", "data", "query")

  private val bm25Search = QueryDef(
    "bm25_search",
    (s, d) => {
      val toks = TextOps.tokens(F.col("text"))
      val base = t(s, d, "documents").select(
        F.col("doc_id") +:
          F.size(toks).cast("double").as("dl") +:
          bm25Terms.map(tm =>
            F.size(F.filter(toks, x => x === tm)).cast("double").as(s"tf_$tm")): _*)
      val statCols =
        F.count(F.lit(1)).cast("double").as("n") +:
          F.sum(F.col("dl").cast("long")).cast("double").as("sum_dl") +:
          bm25Terms.map(tm =>
            F.sum(F.when(F.col(s"tf_$tm") > 0, 1L).otherwise(0L))
              .cast("double").as(s"df_$tm"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val crossed = base.crossJoin(F.broadcast(stats))
      val score = bm25Terms.map { tm =>
        val tf = F.col(s"tf_$tm"); val df = F.col(s"df_$tm")
        ((F.col("n") - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
          (tf + F.lit(1.2) * (F.lit(1.0) - 0.75 +
            F.lit(0.75) * F.col("dl") / (F.col("sum_dl") / F.col("n"))))
      }.reduce(_ + _)
      crossed.select(F.col("doc_id"), F.round(score, 6).as("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc, F.col("doc_id"))
        .limit(20)
    },
    Some {
      val tfCols = bm25Terms.map(tm =>
        s"CAST(len(list_filter(t, x -> x = '$tm')) AS DOUBLE) AS tf_$tm").mkString(",\n               ")
      val dfCols = bm25Terms.map(tm =>
        s"CAST(sum(CASE WHEN tf_$tm > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$tm").mkString(",\n               ")
      val terms = bm25Terms.map { tm =>
        s"((n - df_$tm + 0.5) / (df_$tm + 0.5)) * (tf_$tm * 2.2) / " +
          s"(tf_$tm + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n)))"
      }.mkString("\n             + ")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
         |               $tfCols
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |               CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) AS sum_dl,
         |               $dfCols
         |  FROM base)
         |SELECT doc_id, score FROM (
         |  SELECT doc_id,
         |         round($terms, 6) AS score
         |  FROM base, stats)
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    })

  // --------------------------------------------------------------- E10
  /** Inverted-index build: term → document frequency + first posting
    * ids (the search-index construction path; one explode + one
    * shuffle on the term). Restricted to common terms (df ≥ 50).
    *
    * The postings head is a bounded-heap bottom-k, NOT
    * collect_list+slice: a stopword's posting list is the whole corpus,
    * and collect_list buffers ALL of it in one aggregation state before
    * the slice — executor OOM at 100×. The heap carries ≤ 10 ids per
    * term per map task (partial agg). */
  private val invertedIndex = QueryDef(
    "inverted_index",
    (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(F.col("doc_id"),
        F.explode(F.array_distinct(TextOps.tokens(F.col("text")))).as("term"))
        .groupBy("term")
        .agg(
          F.count(F.lit(1)).as("df"),
          F.array_join(
            graft.functions.TopKFunctions.bottomKLong(F.col("doc_id"), 10)
              .cast("array<string>"), ",").as("postings_head"))
        .filter(F.col("df") >= 50)
        .orderBy("term")
    },
    Some(s"""
      SELECT term, count(*) AS df,
             array_to_string(list_transform(list_sort(list(doc_id))[1:10],
                                            x -> CAST(x AS VARCHAR)), ',') AS postings_head
      FROM (SELECT DISTINCT doc_id, term
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents))
      GROUP BY term HAVING count(*) >= 50 ORDER BY term"""))

  // --------------------------------------------------------------- E11
  /** One-row corpus summary: docs, token volume, vocabulary size,
    * type-token ratio (exact counts; ratio rounded).
    *
    * Single plan, single scan: the doc count rides the same exploded
    * aggregate as count(DISTINCT doc_id) instead of a separate
    * `docs.count()` action (which was a second full scan of `documents`
    * — 2x I/O at 100 TB). doc_id is the primary key, so the distinct
    * count equals the row count for every doc with >= 1 token; an
    * empty-text doc would be excluded on BOTH sides (explode and unnest
    * drop empty arrays identically). */
  private val corpusStats = QueryDef(
    "corpus_stats",
    (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(F.col("doc_id"),
          F.explode(TextOps.tokens(F.col("text"))).as("term"))
        .agg(
          F.countDistinct(F.col("doc_id")).as("n_docs"),
          F.count(F.lit(1)).as("n_tokens"),
          F.countDistinct(F.col("term")).as("vocab"),
          F.round(F.countDistinct(F.col("term")).cast("double") / F.count(F.lit(1)), 6)
            .as("type_token_ratio"))
    },
    Some(s"""
      SELECT count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_tokens,
             count(DISTINCT term) AS vocab,
             round(CAST(count(DISTINCT term) AS DOUBLE) / count(*), 6) AS type_token_ratio
      FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)"""))

  // ------------------------------------------------------ skew (count)
  /** Two-phase salted count — since r14 produced by the OPTIMIZER, not
    * by hand: the query is a plain `groupBy(key).count` with the key
    * tagged [[Skew.skewHint]], and
    * [[graft.plans.SaltedAggRewrite]] rewrites it into the salted
    * partial-per-input-partition + final-merge plan that
    * [[Skew.saltedCount]] builds manually (the skewed key's rows never
    * meet in one task). Oracle = plain GROUP BY count, which the
    * rewritten plan must equal exactly; PlanAuditSpec asserts the
    * rewrite actually fired (two Aggregates + the salt project) and
    * that bail-out shapes keep their single-phase plan. */
  private val saltedCount = QueryDef(
    "salted_count",
    (s, d) => t(s, d, "lineitem")
      .groupBy(Skew.skewHint(F.col("l_returnflag")).as("l_returnflag"))
      .agg(F.count(F.lit(1)).as("n"))
      .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // --------------------------------------------------------------- D5b
  /** Dedup-first n-gram Jaccard (the duplicate-heavy-corpus scale
    * composition): collapse exact duplicates to their min-id
    * representative, THEN pair by shingles — a d-times-duplicated corpus
    * costs 1×, not d². */
  private val ngramJaccardUnique = QueryDef(
    "ngram_jaccard_unique",
    (s, d) => Dedup.ngramJaccardPairsUnique(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5, maxDocFreq = None) // exact oracle: explicit opt-out of the capped default
      .orderBy("doc_a", "doc_b"),
    Some {
      val parts = (0 until 3).map(k => s"t[i+$k]").mkString(" || ' ' || ")
      s"""WITH uniq AS (
         |  SELECT min(doc_id) AS doc_id, min(text) AS text
         |  FROM documents GROUP BY md5(text)),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(len(t)-2, 0)),
         |    i -> $parts)) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), ' +') AS t FROM uniq))),
         |shh AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |  FROM shh a JOIN shh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |           JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    })

  // -------------------------------------------------------------- D11b
  /** The END-TO-END near-dup dedup decision: LSH candidate pairs →
    * transitive clusters → keep one representative (min doc_id) per
    * cluster, isolated docs kept as-is. This is the full production
    * composition (D3 → D11 → apply); output is the per-source keep
    * counts a pipeline dashboard reports. */
  private val dedupClustersApply = QueryDef(
    "dedup_clusters_apply",
    (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Staged.minhashPairs(s, d)
      // distributed loop kept here too — see dedup_clusters
      val clusters = Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        localThreshold = 0L)
      val kept = docs.join(clusters, Seq("doc_id"), "left")
        .filter(F.col("cluster_id").isNull || F.col("cluster_id") === F.col("doc_id"))
      kept.groupBy("source")
        .agg(F.count(F.lit(1)).as("n_kept"),
          F.sum(F.when(F.col("cluster_id").isNotNull, 1L).otherwise(0L))
            .as("n_cluster_reps"))
        .orderBy("source")
    },
    Some(s"""WITH RECURSIVE $minhashCtesSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                UNION SELECT doc_b, doc_a FROM mh_pairs),
      reach AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
                WHERE e.b <> r.a),
      clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                   FROM reach GROUP BY a),
      kept AS (SELECT d.source, c.cluster_id
               FROM documents d LEFT JOIN clusters c USING (doc_id)
               WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id)
      SELECT source, count(*) AS n_kept,
             CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cluster_reps
      FROM kept GROUP BY source ORDER BY source"""))

  // ------------------------------------------------------------ F2
  /** Batched multimodal decode pipeline (mapPartitions batch iterator).
    * The stub decoder derives fake dimensions from the md5 content hash,
    * so the oracle reproduces them in SQL; the batching/schema plumbing
    * is additionally covered by `MultimodalSourcesSpec`. */
  private val multimodalMeta = QueryDef(
    "multimodal_meta",
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("payload", F.col("text").cast("binary"))
      graft.operators.Multimodal.withMediaMeta(docs, "payload", batchSize = 64)
        .select(F.col("doc_id"), F.col("media_meta.format").as("format"),
          F.col("media_meta.width").as("width"),
          F.col("media_meta.height").as("height"),
          F.col("media_meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id,
             CASE substr(lower(hex(encode(substr(text, 1, 2)))), 1, 4)
               WHEN 'ffd8' THEN 'jpeg' WHEN '8950' THEN 'png'
               ELSE 'raw' END AS format,
             CAST((h % 640) + 1 AS INTEGER) AS width,
             CAST((h // 640 % 480) + 1 AS INTEGER) AS height,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM (SELECT doc_id, text, ${Hashing.hash60Sql("text")} AS h FROM documents)
      ORDER BY doc_id"""))

  // ------------------------------------------------------------ F3
  /** Deterministic frame sampling over video-like payloads: every
    * stride-th frameBytes-sized chunk becomes a (frame_idx, offset,
    * frame slice) row — the explode/slice plumbing is the real
    * distributed work (narrow, codegen'd); per-frame "decode" is the
    * portable stub (md5 of the slice). The oracle slices CHARACTERS of
    * the text payload (DuckDB has no BLOB substring; char slicing is
    * identical in both engines for any encoding) — a real pipeline
    * slices bytes through the same plumbing with a codec call in the
    * F2 batched-mapPartitions shape. */
  private val frameSample = QueryDef(
    "frame_sample",
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Multimodal.sampleFrames(docs, "text", "doc_id",
        frameBytes = 64, stride = 2)
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(F.col("doc_id"), F.col("frame_idx"),
          F.col("byte_offset").as("frame_offset"),
          F.md5(F.expr("substring(text, byte_offset + 1, 64)"))
            .as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH p AS (SELECT doc_id, text, length(text) AS n FROM documents),
      f AS (SELECT doc_id, text,
                   unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 64 / 2)
                                        AS BIGINT))) AS fi
            FROM p WHERE n > 0)
      SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
             CAST(fi * 128 AS INTEGER) AS frame_offset,
             md5(substring(text, CAST(fi * 128 + 1 AS INTEGER), 64))
               AS frame_md5
      FROM f ORDER BY doc_id, frame_idx"""))

  // ------------------------------------------------------------ F4
  /** Perceptual-hash near-dup over media payloads: decode each payload
    * to an 8×8 luma grid, take the 64-bit average-hash (bit j = pixel j
    * ≥ mean), then find low-Hamming pairs by banded LSH over the
    * signature (4 bands × 16 bits — a ≤16-bit-distance pair collides in
    * ≥1 band with certainty by pigeonhole when the differing bits fall
    * in ≤3 bands; random 64-bit signatures collide in a band with
    * p = 2⁻¹⁶). The DECODE is the container's deterministic stub (4
    * chained md5s of the payload stand in for the 64 luma bytes — no
    * codecs here), which also makes the whole pipeline oracle-checkable;
    * a real deployment swaps ONE expression (the px array) for a codec
    * call in F2's batched-mapPartitions shape and keeps everything else.
    * Output = EVERY band-colliding candidate pair with its Hamming
    * distance plus the ≤16 near-dup verdict — the candidate audit, not
    * just the accepted pairs, because with a content-hash stub decode
    * the verdict column is the negative control (random collisions sit
    * near Hamming 32; only identical payloads can pass).
    *
    * Scale shape: signature construction is PURE per-row array-lambda
    * work (no explode, no shuffle — the 64-pixel loop runs inside
    * whole-stage codegen); the only corpus shuffles are the 4-band
    * bucket join (bounded like D3's minhash bands) and the final
    * distinct over candidate pairs. Hamming is computed from the two
    * 4-long signature arrays, never by re-reading payloads. */
  private val phashNeardup = QueryDef(
    "phash_neardup",
    (s, d) => {
      // The px array MUST materialize before the bands projection:
      // Catalyst's CollapseProject inlines column references into lambda
      // bodies, so an unpersisted px re-evaluates the full 64-md5
      // transform once per element_at — 64×64 md5s per doc, ×3 for the
      // three sigs consumers (measured 102 s vs ~1 s at sf0.1). The
      // persisted pixel/signature frames are doc-count-sized — exactly
      // the artifact a production run checkpoints between its decode
      // and pair phases.
      val pxf = graft.operators.CacheScope.persist(
        t(s, d, "documents")
          .select(F.col("doc_id"), F.expr(
            "transform(sequence(0, 63), j -> CAST(conv(substring(" +
              "md5(concat(text, CAST(j div 16 AS STRING))), " +
              "1 + 2 * (j % 16), 2), 16, 10) AS BIGINT))").as("px"))
          .select(F.col("doc_id"), F.col("px"),
            F.expr("aggregate(px, 0L, (acc, x) -> acc + x)").as("s")))
      val sigs = pxf.select(F.col("doc_id"), F.expr(
        "transform(sequence(0, 3), b -> " +
          "aggregate(sequence(0, 15), 0L, (acc, k) -> " +
          "acc + CASE WHEN 64 * element_at(px, b * 16 + k + 1) >= s " +
          "THEN shiftleft(1L, k) ELSE 0L END))").as("bands"))
      val buckets = sigs.select(F.col("doc_id"),
        F.posexplode(F.col("bands")).as(Seq("b", "v")))
      val cand = buckets.select(F.col("doc_id").as("doc_a"),
        F.col("b"), F.col("v"))
        .join(buckets.select(F.col("doc_id").as("doc_b"),
          F.col("b"), F.col("v")), Seq("b", "v"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      cand
        .join(sigs.select(F.col("doc_id").as("doc_a"),
          F.col("bands").as("ba")), "doc_a")
        .join(sigs.select(F.col("doc_id").as("doc_b"),
          F.col("bands").as("bb")), "doc_b")
        .withColumn("hamming", F.expr(
          "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)), " +
            "0, (acc, v) -> acc + v)").cast("long"))
        .withColumn("is_neardup",
          F.expr("CAST(CASE WHEN hamming <= 16 THEN 1 ELSE 0 END AS BIGINT)"))
        .select("doc_a", "doc_b", "hamming", "is_neardup")
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH px AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63), j ->
                 CAST(('0x' || substr(md5(text || CAST(j // 16 AS VARCHAR)),
                                      1 + 2 * (j % 16), 2)) AS BIGINT)) AS px
        FROM documents),
      sg AS (
        SELECT doc_id, list_sum(px) AS s,
               list_transform(generate_series(0, 3), b ->
                 list_sum(list_transform(generate_series(0, 15), k ->
                   CASE WHEN 64 * px[b * 16 + k + 1] >= list_sum(px)
                        THEN (CAST(1 AS BIGINT) << k) ELSE 0 END))) AS bands
        FROM px),
      bk AS (
        SELECT doc_id, b, bands[b + 1] AS v
        FROM sg, (SELECT unnest(generate_series(0, 3)) AS b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM bk a JOIN bk b2 ON a.b = b2.b AND a.v = b2.v
        WHERE a.doc_id < b2.doc_id)
      SELECT doc_a, doc_b, hamming,
             CAST(CASE WHEN hamming <= 16 THEN 1 ELSE 0 END AS BIGINT)
               AS is_neardup
      FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(list_sum(list_transform(generate_series(1, 4), i ->
                 bit_count(xor(sa.bands[i], sb.bands[i])))) AS BIGINT)
                 AS hamming
        FROM cand c
        JOIN sg sa ON c.doc_a = sa.doc_id
        JOIN sg sb ON c.doc_b = sb.doc_id)
      ORDER BY doc_a, doc_b"""))

  // --------------------------------------------------------------- D1b
  /** Apply the exact-dedup decision: keep only each text's minimum
    * doc_id (candidates → action; the write-side of D1). */
  private val dedupApply = QueryDef(
    "dedup_apply",
    (s, d) => {
      val docs = t(s, d, "documents")
      val keep = Dedup.exactGroups(docs, "doc_id", "text")
        .select(F.col("keep_id").as("doc_id"))
      docs.join(keep, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, source, n_chars
      FROM documents
      WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- D1c
  /** Dedup-rate metrics per source — the pipeline health dashboard
    * numbers (rows, distinct texts, duplicate fraction). */
  private val dedupRate = QueryDef(
    "dedup_rate",
    (s, d) => t(s, d, "documents")
      .groupBy("source")
      .agg(
        F.count(F.lit(1)).as("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).as("n_unique"),
        F.round((F.count(F.lit(1)) - F.countDistinct(F.md5(F.col("text"))))
          .cast("double") / F.count(F.lit(1)), 6).as("dup_rate"))
      .orderBy("source"),
    Some("""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique,
             round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                   / count(*), 6) AS dup_rate
      FROM documents GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- E6b
  /** STRATIFIED deterministic sampling: per-language rates (en 80%,
    * others 20% — the rebalancing move when one language dominates a
    * crawl) over the same md5 bucket space as [[sampleHash]]. Still a
    * narrow single-pass filter — stratification costs nothing extra at
    * 100 TB because the rate is just a per-row CASE on the stratum
    * column, not a per-stratum pass. */
  private val sampleStratified = QueryDef(
    "sample_stratified",
    (s, d) => {
      val h = Hashing.hash60(F.col("doc_id").cast("string"))
      val rate = F.when(F.col("lang") === "en", 80).otherwise(20)
      t(s, d, "documents")
        .select(F.col("doc_id"), F.col("lang"), F.col("source"))
        .filter(h % 100 < rate)
        .orderBy("doc_id")
    },
    Some {
      val h = Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, source
         |FROM documents
         |WHERE $h % 100 < (CASE WHEN lang = 'en' THEN 80 ELSE 20 END)
         |ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- E5
  /** Deterministic hash-based sampling + train/valid/test split: the
    * md5 bucket of the id is stable across runs, engines and cluster
    * sizes — the only sane way to sample/split 100 TB reproducibly
    * (rand() re-rolls per retry/task). 50% sample, 8/1/1 split. */
  private val sampleHash = QueryDef(
    "sample_hash",
    (s, d) => {
      val h = Hashing.hash60(F.col("doc_id").cast("string"))
      t(s, d, "documents")
        .select(F.col("doc_id"), F.col("lang"),
          (h % 100).as("bucket"),
          F.when(h % 10 < 8, "train").when(h % 10 === 8, "valid")
            .otherwise("test").as("split"))
        .filter(F.col("bucket") < 50)
        .orderBy("doc_id")
    },
    Some {
      val h = Hashing.hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, $h % 100 AS bucket,
         |       CASE WHEN $h % 10 < 8 THEN 'train'
         |            WHEN $h % 10 = 8 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM documents WHERE $h % 100 < 50
         |ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- E6
  /** Text canonicalization: lowercase, strip punctuation, collapse
    * whitespace — the normalize step before fingerprint/shingle dedup. */
  private val textNormalize = QueryDef(
    "text_normalize",
    (s, d) => {
      val norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[.,!?;]", ""), " +", " "))
      t(s, d, "documents").select(
        F.col("doc_id"),
        F.length(F.col("text")).cast("long").as("n_raw"),
        F.length(norm).cast("long").as("n_norm"),
        F.md5(norm).as("norm_hash"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_raw,
             CAST(length(norm) AS BIGINT) AS n_norm,
             md5(norm) AS norm_hash
      FROM (SELECT doc_id, text,
              trim(regexp_replace(regexp_replace(lower(text), '[.,!?;]', '', 'g'),
                   ' +', ' ', 'g')) AS norm
            FROM documents)
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- E7
  /** Composed training-data pipeline in ONE declarative plan: exact-dedup
    * representatives → language ID → quality score → filter. Each step
    * is a narrow transform or a single-shuffle aggregate, so the whole
    * pipeline is one scan + one shuffle at any scale. */
  private val pipelineQuality = QueryDef(
    "pipeline_quality",
    (s, d) => {
      val docs = t(s, d, "documents")
      val keep = docs
        .groupBy(F.md5(F.col("text")).as("_th"))
        .agg(F.min("doc_id").as("doc_id"))
        .select("doc_id")
      val cols = TextOps.qualityColumns(F.col("text")).toMap
      docs.join(keep, "doc_id")
        .select(F.col("doc_id"),
          TextOps.langId(F.col("text")).as("pred_lang"),
          cols("n_tokens").as("n_tokens"),
          cols("quality").as("quality"))
        .filter(F.col("pred_lang") === "en" && F.col("quality") >= 0.2)
        .orderBy("doc_id")
    },
    Some {
      val stop = TextOps.stopwords.map(m => s"x = '$m'").mkString(" OR ")
      val markerSql = TextOps.langMarkers.map { case (lang, ms) =>
        val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
        lang -> s"len(list_filter($toksSql, x -> $cond))"
      }
      val best = s"greatest(${markerSql.map(_._1).map(l => s"n_$l").mkString(", ")})"
      val cases = markerSql.map(_._1)
        .map(l => s"WHEN n_$l > 0 AND n_$l = $best THEN '$l'")
        .mkString("\n                  ")
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |feats AS (
         |  SELECT doc_id,
         |         ${markerSql.map { case (l, e) => s"$e AS n_$l" }.mkString(",\n         ")},
         |         len($toksSql) AS n_tokens,
         |         len(list_filter($toksSql, x -> $stop)) AS n_stop,
         |         CAST(len(regexp_extract_all(text, '[.,!?;]')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS n_chars_len
         |  FROM documents JOIN keep USING (doc_id)),
         |scored AS (
         |  SELECT doc_id,
         |         CASE $cases ELSE 'unknown' END AS pred_lang,
         |         n_tokens,
         |         round((n_stop * 1.0 / n_tokens) * 0.5
         |               + (n_punct * 1.0 / n_chars_len) * 0.3
         |               + least(n_tokens / 100.0, 1.0) * 0.2, 6) AS quality
         |  FROM feats)
         |SELECT doc_id, pred_lang, n_tokens, quality FROM scored
         |WHERE pred_lang = 'en' AND quality >= 0.2
         |ORDER BY doc_id""".stripMargin
    })

  // --------------------------------------------------------------- D15
  /** PageRank centrality over the minhash near-dup graph (which doc is
    * the duplication HUB — the canonical-representative / template-spam
    * signal), in INTEGER fixed-point so 5 rounds of iterative joins are
    * bit-identical across engines ([[graft.operators.Graph.pageRank]]).
    * Oracle = the same 5 rounds unrolled over the identical pair SQL. */
  private val pagerank = QueryDef(
    "pagerank",
    (s, d) => {
      val pairs = Staged.minhashPairs(s, d)
      // assumeUnique: the staged banded-minhash pair list is one row per
      // (doc_a < doc_b) pair by construction (r15, §2.4)
      graft.operators.Graph.pageRank(pairs, "doc_a", "doc_b", iters = 5,
        assumeUnique = true)
        .orderBy("doc_id")
    },
    Some {
      val scale = graft.operators.Graph.SCALE
      val teleport = 15L * scale / 100L
      val rounds = (1 to 5).map { r =>
        s"""r$r AS (SELECT d.v,
           |  CAST($teleport + (85 * coalesce(c.inr, 0)) // 100 AS BIGINT) AS rank
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst AS v, sum(r.rank // g.deg) AS inr
           |    FROM edges e JOIN r${r - 1} r ON r.v = e.src
           |                 JOIN deg g ON g.v = e.src
           |    GROUP BY 1) c ON c.v = d.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashCtesSql,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |          UNION SELECT doc_b, doc_a FROM mh_pairs),
         |deg AS (SELECT src AS v, count(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT v, CAST($scale AS BIGINT) AS rank FROM deg),
         |$rounds
         |SELECT v AS doc_id, rank AS rank_fp,
         |       round(CAST(rank AS DOUBLE) / $scale, 6) AS rank
         |FROM r5 ORDER BY doc_id""".stripMargin
    })

  // --------------------------------------------------------------- D20
  /** Exact triangle count on the near-dup pair graph
    * ([[graft.operators.Graph.triangleCount]], degree-oriented so each
    * triangle closes at exactly one vertex and hub wedges never
    * materialize): the triangle density separates organic near-dup
    * neighborhoods (sparse) from template-spam cliques (every band
    * bucket a clique → triangle-rich). Oracle = the same orientation
    * and wedge-close in SQL over the shared mh_pairs CTE. */
  private val triangleCount = QueryDef(
    "triangle_count",
    (s, d) => {
      val pairs = Staged.minhashPairs(s, d)
      graft.operators.Graph.triangleCount(pairs, "doc_a", "doc_b",
        assumeUnique = true)
    },
    Some(s"""WITH $minhashCtesSql,
      e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM mh_pairs),
      deg AS (SELECT v, count(*) AS dg
              FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
              GROUP BY 1),
      o AS (SELECT CASE WHEN da.dg < db.dg
                          OR (da.dg = db.dg AND e.a < e.b)
                        THEN e.a ELSE e.b END AS src,
                   CASE WHEN da.dg < db.dg
                          OR (da.dg = db.dg AND e.a < e.b)
                        THEN e.b ELSE e.a END AS dst
            FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
      w AS (SELECT e1.dst AS x, e2.dst AS y
            FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
             (SELECT CAST(count(*) AS BIGINT) FROM w
              WHERE EXISTS (SELECT 1 FROM e
                            WHERE e.a = w.x AND e.b = w.y)) AS n_triangles"""))

  // ---------------------------------------------------------------- E43
  /** Phrase search over a POSITIONAL inverted index: posexplode gives
    * (doc, pos, term) postings; the phrase probe filters each term's
    * posting list and merges them on (doc, pos+1 = pos) — the classic
    * positional-index adjacency join, never a regex scan of the corpus.
    *
    * Scale shape: the two posting-list filters push into the scan-side
    * explode (only phrase terms survive), the adjacency join
    * co-partitions on doc_id, and the per-doc hit count map-side
    * combines. At 100 TB the index would be term-bucketed parquet and
    * the probe reads two postings, not the corpus; here the build is
    * inlined. The oracle recomputes adjacency per doc with list
    * lambdas — independent of the join formulation. */
  private val phraseSearch = QueryDef(
    "phrase_search",
    (s, d) => {
      val Seq(w1, w2) = Seq("table", "hash")
      val idx = t(s, d, "documents")
        .select(F.col("doc_id"),
          F.posexplode(TextOps.tokens(F.col("text"))).as(Seq("pos", "term")))
      val a = idx.where(F.col("term") === w1)
        .select(F.col("doc_id"), F.col("pos"))
      val b = idx.where(F.col("term") === w2)
        .select(F.col("doc_id"), (F.col("pos") - 1).as("pos"))
      a.join(b, Seq("doc_id", "pos"))
        .groupBy("doc_id").agg(F.count(F.lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                        regexp_split_to_array(lower(text), ' +') AS l
                 FROM documents)
      SELECT doc_id,
             CAST(len(list_filter(range(len(l) - 1),
               i -> l[i + 1] = 'table' AND l[i + 2] = 'hash'))
               AS BIGINT) AS n_hits
      FROM t
      WHERE len(list_filter(range(len(l) - 1),
              i -> l[i + 1] = 'table' AND l[i + 2] = 'hash')) > 0
      ORDER BY doc_id"""))

  // --------------------------------------------------------------- D3b
  /** Honest-audit companion to D3: LSH candidate RECALL and PRECISION
    * against the exact Jaccard≥0.5 truth pairs, in one row of integer
    * micros. The number that decides whether (k, bands) is tuned right
    * BEFORE a 100 TB run — same discipline as embed_pq_recall for PQ.
    *
    * Scale shape: both pair sets are bucketed (bands / capped shingle
    * index), the audit joins pair-keyed sets and aggregates to one row.
    * At production scale you run it on a hash-sampled corpus slice. */
  private val dedupMinhashRecall = QueryDef(
    "dedup_minhash_recall",
    (s, d) => {
      val docs = t(s, d, "documents")
      val cand = Staged.minhashPairs(s, d)
        .select(F.col("doc_a"), F.col("doc_b"), F.lit(1L).as("c"))
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxDocFreq = None)
        .select(F.col("doc_a"), F.col("doc_b"), F.lit(1L).as("tr"))
      truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          F.sum("tr").as("n_truth"),
          F.sum("c").as("n_cand"),
          F.sum(F.col("tr") * F.col("c")).as("n_hit"))
        .select(F.col("n_truth"), F.col("n_cand"), F.col("n_hit"),
          F.expr("case when n_truth = 0 then 0 else n_hit * 1000000 div n_truth end")
            .as("recall_micros"),
          F.expr("case when n_cand = 0 then 0 else n_hit * 1000000 div n_cand end")
            .as("precision_micros"))
    },
    Some(s"""WITH $minhashCtesSql,
      shx AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shx a JOIN shx b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
        WHERE round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) >= 0.5),
      j AS (
        SELECT coalesce(t.doc_a, c.doc_a) AS doc_a,
               CASE WHEN t.doc_a IS NULL THEN NULL ELSE 1 END AS tr,
               CASE WHEN c.doc_a IS NULL THEN NULL ELSE 1 END AS c
        FROM truth t FULL JOIN (SELECT doc_a, doc_b FROM mh_pairs) c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
      SELECT CAST(sum(tr) AS BIGINT) AS n_truth,
             CAST(sum(c) AS BIGINT) AS n_cand,
             CAST(sum(tr * c) AS BIGINT) AS n_hit,
             CAST(CASE WHEN sum(tr) = 0 THEN 0
                  ELSE sum(tr * c) * 1000000 // sum(tr) END AS BIGINT)
               AS recall_micros,
             CAST(CASE WHEN sum(c) = 0 THEN 0
                  ELSE sum(tr * c) * 1000000 // sum(c) END AS BIGINT)
               AS precision_micros
      FROM j"""))

  // --------------------------------------------------------------- E1b
  /** Language-ID confusion matrix: heuristic prediction (E1) against
    * the labeled `lang` column — per (label, predicted) counts plus the
    * label's hit share in micros. The one-page answer to "can I trust
    * the langid gate before it drops 30% of a crawl".
    *
    * Scale shape: the E1 narrow projection followed by one tiny
    * aggregate (|langs|² rows). */
  private val langidConfusion = QueryDef(
    "langid_confusion",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      t(s, d, "documents")
        .select(F.col("lang"),
          TextOps.langId(F.col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).as("n"))
        .withColumn("_tot", F.sum("n").over(w))
        .withColumn("label_share_micros", F.expr("n * 1000000 div _tot"))
        .select("lang", "pred_lang", "n", "label_share_micros")
        .orderBy("lang", "pred_lang")
    },
    Some {
      val markerSql = TextOps.langMarkers.map { case (lang, ms) =>
        val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
        lang -> s"len(list_filter($toksSql, x -> $cond))"
      }
      val cols = markerSql.map { case (l, e) => s"$e AS n_$l" }.mkString(",\n             ")
      val best = s"greatest(${markerSql.map(_._1).map(l => s"n_$l").mkString(", ")})"
      val cases = markerSql.map(_._1)
        .map(l => s"WHEN n_$l > 0 AND n_$l = $best THEN '$l'")
        .mkString("\n                  ")
      s"""WITH p AS (
         |  SELECT lang, CASE $cases ELSE 'unknown' END AS pred_lang
         |  FROM (SELECT lang, $cols FROM documents)),
         |g AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n,
         |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
         |         AS label_share_micros
         |FROM g ORDER BY lang, pred_lang""".stripMargin
    })

  // --------------------------------------------------------------- E53
  /** The curation pipeline as a FUNNEL: exact-dedup → language gate →
    * quality gate, each stage's in/out/dropped counts in ONE scan —
    * per-doc stage flags are plain conjunctions, the four counters are
    * one map-side-combined aggregate row, and the stage rows unpivot
    * from it (no per-stage rescans — the reference's per-constraint
    * loop shape is exactly what this avoids, same argument as the A5
    * validator). The ops answer to "where does my corpus go": yield
    * accounting per gate, composed from the SAME definitions the
    * individual gate queries (D1, E1, E2, E8) verify. */
  /** Funnel oracle SQL — shared with the G18 streaming twin. */
  private[queries] def pipelineFunnelOracleSql: String = {
    val stop = TextOps.stopwords.map(m => s"x = '$m'").mkString(" OR ")
    val markerSql = TextOps.langMarkers.map { case (lang, ms) =>
      val cond = ms.map(m => s"x = '$m'").mkString(" OR ")
      lang -> s"len(list_filter($toksSql, x -> $cond))"
    }
    val best = s"greatest(${markerSql.map(_._1).map(l => s"n_$l").mkString(", ")})"
    val cases = markerSql.map(_._1)
      .map(l => s"WHEN n_$l > 0 AND n_$l = $best THEN '$l'")
      .mkString("\n                  ")
    s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |feats AS (
       |  SELECT d.doc_id,
       |         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS keep,
       |         ${markerSql.map { case (l, e) => s"$e AS n_$l" }.mkString(",\n         ")},
       |         len($toksSql) AS n_tokens,
       |         len(list_filter($toksSql, x -> $stop)) AS n_stop,
       |         CAST(len(regexp_extract_all(text, '[.,!?;]')) AS BIGINT) AS n_punct,
       |         CAST(length(text) AS BIGINT) AS n_chars_len
       |  FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id),
       |scored AS (
       |  SELECT keep,
       |         CASE WHEN (CASE $cases ELSE 'unknown' END) = 'en'
       |              THEN 1 ELSE 0 END AS lang_ok,
       |         CASE WHEN round((n_stop * 1.0 / n_tokens) * 0.5
       |               + (n_punct * 1.0 / n_chars_len) * 0.3
       |               + least(n_tokens / 100.0, 1.0) * 0.2, 6) >= 0.2
       |              THEN 1 ELSE 0 END AS q_ok
       |  FROM feats),
       |c AS (
       |  SELECT count(*) AS c0, CAST(sum(keep) AS BIGINT) AS c1,
       |         CAST(sum(keep * lang_ok) AS BIGINT) AS c2,
       |         CAST(sum(keep * lang_ok * q_ok) AS BIGINT) AS c3
       |  FROM scored)
       |SELECT stage, n_in, n_out, n_in - n_out AS n_dropped FROM (
       |  SELECT 'a_dedup_exact' AS stage, c0 AS n_in, c1 AS n_out FROM c
       |  UNION ALL SELECT 'b_lang_en', c1, c2 FROM c
       |  UNION ALL SELECT 'c_quality_02', c2, c3 FROM c)
       |ORDER BY stage""".stripMargin
  }

  private val pipelineFunnel = QueryDef(
    "pipeline_funnel",
    (s, d) => {
      val docs = t(s, d, "documents")
      val keep = docs.groupBy(F.md5(F.col("text")).as("_th"))
        .agg(F.min("doc_id").as("doc_id"))
        .select(F.col("doc_id"), F.lit(1L).as("_keep"))
      val cols = TextOps.qualityColumns(F.col("text")).toMap
      val flags = docs.join(keep, Seq("doc_id"), "left")
        .select(
          F.coalesce(F.col("_keep"), F.lit(0L)).as("keep"),
          F.when(TextOps.langId(F.col("text")) === "en", 1L).otherwise(0L)
            .as("lang_ok"),
          F.when(cols("quality") >= 0.2, 1L).otherwise(0L).as("q_ok"))
      val c = flags.agg(
        F.count(F.lit(1)).as("c0"),
        F.sum("keep").as("c1"),
        F.sum(F.expr("keep * lang_ok")).as("c2"),
        F.sum(F.expr("keep * lang_ok * q_ok")).as("c3"))
      c.selectExpr(
        """stack(3,
             'a_dedup_exact', c0, c1,
             'b_lang_en',     c1, c2,
             'c_quality_02',  c2, c3) AS (stage, n_in, n_out)""")
        .withColumn("n_dropped", F.expr("n_in - n_out"))
        .orderBy("stage")
    },
    Some(pipelineFunnelOracleSql))

  // --------------------------------------------------------------- E54
  /** Vocabulary coverage / OOV audit: per-source token coverage against
    * the top-100 vocabulary (E24's `vocabBuild`) — the tokenizer-prep
    * acceptance number ("what fraction of the corpus does this vocab
    * explain, and which source drags it down"). One explode + a
    * BROADCAST vocab join (the vocab is size-bounded by construction)
    * + one map-side-combined aggregate; OOV share in exact integer
    * micros. */
  private val vocabCoverage = QueryDef(
    "vocab_coverage",
    (s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextOps.vocabBuild(docs, "text", size = 100)
        .select(F.col("term"), F.lit(1L).as("_in_vocab"))
      docs.select(F.col("source"),
        F.explode(TextOps.tokens(F.col("text"))).as("term"))
        .join(F.broadcast(vocab), Seq("term"), "left")
        .groupBy("source").agg(
          F.count(F.lit(1)).as("n_tokens"),
          F.sum(F.when(F.col("_in_vocab").isNull, 1L).otherwise(0L))
            .as("n_oov"))
        .withColumn("oov_micros", F.expr("n_oov * 1000000 div n_tokens"))
        .orderBy("source")
    },
    Some(s"""
      WITH counts AS (
        SELECT term, count(*) AS freq
        FROM (SELECT unnest($toksSql) AS term FROM documents)
        GROUP BY 1),
      vocab AS (
        SELECT term FROM counts ORDER BY freq DESC, term LIMIT 100),
      toks AS (
        SELECT source, unnest($toksSql) AS term FROM documents)
      SELECT source, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000000
                  // count(*) AS BIGINT) AS oov_micros
      FROM toks LEFT JOIN vocab v USING (term)
      GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------- D26
  /** MinHash S-curve tuning audit: for every shingle-sharing pair with
    * J ≥ 0.2, the THEORETICAL banded-LSH candidate probability
    * P = 1 − (1 − J^r)^b (r = K/BANDS = 4 rows, b = 4 bands)
    * next to whether the pair ACTUALLY surfaced as a D3 candidate — the
    * number that tells you whether your (k, bands) choice matches your
    * similarity threshold before you run dedup on 100 TB. All
    * arithmetic exact: J in integer micros straight from the overlap
    * counts, the powers routed through DECIMAL(38,0)/HUGEINT (micros⁴
    * ≤ 1e24), so the S-curve itself is hash-verified — same
    * transcendental-free discipline as the surprisal family.
    *
    * Scale shape: reuses the capped-index overlap core (D5) and the
    * banded candidate join (D3); the audit join is pair-keyed. */
  private val minhashScurve = QueryDef(
    "minhash_scurve",
    (s, d) => {
      val docs = t(s, d, "documents")
      val overlap = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        shingleN = 3, minContainMicros = 0L, maxDocFreq = None)
        .withColumn("j_micros",
          F.expr("n_common * 1000000 div (n_a + n_b - n_common)"))
        .where(F.col("j_micros") >= 200000L)
      val cand = Staged.minhashPairs(s, d)
        .select(F.col("doc_a"), F.col("doc_b"), F.lit(1L).as("_cand"))
      overlap.join(cand, Seq("doc_a", "doc_b"), "left")
        .withColumn("p1", F.expr(
          "CAST((CAST(j_micros AS DECIMAL(38,0)) * j_micros * j_micros * j_micros) " +
            "div 1000000000000000000 AS BIGINT)"))
        .withColumn("p_cand_micros", F.expr(
          "1000000 - CAST((CAST(1000000 - p1 AS DECIMAL(38,0)) * (1000000 - p1) " +
            "* (1000000 - p1) * (1000000 - p1)) div 1000000000000000000 AS BIGINT)"))
        .select(F.col("doc_a"), F.col("doc_b"), F.col("j_micros"),
          F.col("p_cand_micros"),
          F.coalesce(F.col("_cand"), F.lit(0L)).as("was_candidate"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH RECURSIVE $minhashCtesSql,
      jshh AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM jshh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM jshh a JOIN jshh b
          ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      jm AS (
        SELECT doc_a, doc_b,
               CAST(n_common * 1000000 // (sa.n + sb.n - n_common) AS BIGINT)
                 AS j_micros
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id),
      p AS (
        SELECT doc_a, doc_b, j_micros,
               CAST(CAST(j_micros AS HUGEINT) * j_micros * j_micros * j_micros
                    // 1000000000000000000 AS BIGINT) AS p1
        FROM jm WHERE j_micros >= 200000)
      SELECT p.doc_a, p.doc_b, p.j_micros,
             1000000 - CAST(CAST(1000000 - p1 AS HUGEINT) * (1000000 - p1)
                  * (1000000 - p1) * (1000000 - p1)
                  // 1000000000000000000 AS BIGINT) AS p_cand_micros,
             CAST(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS was_candidate
      FROM p LEFT JOIN mh_pairs m
        ON p.doc_a = m.doc_a AND p.doc_b = m.doc_b
      ORDER BY p.doc_a, p.doc_b"""))

  // --------------------------------------------------------------- D25
  /** Duplicate-family size distribution: cluster the minhash candidate
    * graph (same pairs as D11/D15), then histogram the family sizes —
    * the dashboard number a dedup run is judged by ("how much template
    * spam, how big are the families"). Two metadata-sized aggregates on
    * top of the already-verified CC labelling; output bounded by the
    * largest family, not the corpus. */
  private val dedupClusterSizes = QueryDef(
    "dedup_cluster_sizes",
    (s, d) => {
      val pairs = Staged.minhashPairs(s, d)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", localThreshold = 0L)
        .groupBy("cluster_id").agg(F.count(F.lit(1)).as("size"))
        .groupBy("size").agg(F.count(F.lit(1)).as("n_clusters"))
        .orderBy("size")
    },
    Some(s"""WITH RECURSIVE $minhashCtesSql,
      edges AS (SELECT doc_a AS a, doc_b AS b FROM mh_pairs
                UNION SELECT doc_b, doc_a FROM mh_pairs),
      reach AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
                WHERE e.b <> r.a),
      labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                 FROM reach GROUP BY a),
      sizes AS (SELECT cluster_id, count(*) AS size FROM labels GROUP BY 1)
      SELECT size, count(*) AS n_clusters
      FROM sizes GROUP BY 1 ORDER BY size"""))

  // --------------------------------------------------------------- E52
  /** Directional n-gram containment pairs ([[Dedup.ngramContainmentPairs]]):
    * C(A in B) = |A∩B|/|A| in exact integer micros — the excerpt/superset
    * detector that Jaccard structurally misses (a short quote inside a
    * long doc has J ≈ 0, containment ≈ 1), which is why decontamination
    * gates on containment. Both directions per unordered pair, gate on
    * EITHER clearing 0.8. Same capped-index single-shuffle shape as D5. */
  private val ngramContainment = QueryDef(
    "ngram_containment",
    (s, d) => Dedup.ngramContainmentPairs(t(s, d, "documents"),
      "doc_id", "text", shingleN = 3, minContainMicros = 800000L,
      maxDocFreq = Some(1000))
      .orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH ${shingleCte(3)},
      shh0 AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS shingle_h FROM sh),
      shh AS (SELECT doc_id, shingle_h FROM shh0
              QUALIFY count(*) OVER (PARTITION BY shingle_h) <= 1000),
      sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shh a JOIN shh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      m AS (
        SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
               CAST(n_common * 1000000 // sa.n AS BIGINT) AS c_ab_micros,
               CAST(n_common * 1000000 // sb.n AS BIGINT) AS c_ba_micros
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                   JOIN sizes sb ON doc_b = sb.doc_id)
      SELECT doc_a, doc_b, n_common, n_a, n_b, c_ab_micros, c_ba_micros
      FROM m WHERE greatest(c_ab_micros, c_ba_micros) >= 800000
      ORDER BY doc_a, doc_b"""))

  // --------------------------------------------------------------- D24
  /** Multiprobe LSH [Lv et al. 2007]: probe the query's exact hyperplane
    * bucket PLUS every 1-bit-flip neighbor bucket (the buckets a
    * near-neighbor most likely fell into when one hyperplane
    * misclassified it) — recall rises toward multi-table LSH at the
    * cost of planes+1 probes per query, with ONE table instead of L.
    * Reported per query against the brute-force top-5: candidates
    * examined (the cost) and hits/recall (the win) — the audit IS the
    * query, same discipline as D14c's PQ recall.
    *
    * Scale shape: corpus bucketed once (narrow map); the probe
    * explode is queries×(planes+1) rows joining the bucket-keyed
    * corpus — never all-pairs; exact scoring touches only candidates. */
  private val lshMultiprobe = QueryDef(
    "lsh_multiprobe",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val b = Similarity.hyperplaneBuckets(emb, "vec_id", "embedding",
        planes = PLANES, dim = 64)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .transform(graft.operators.CacheScope.persist)
      val q = b.where(F.col("vec_id") < 10)
      val probeBuckets = F.col("bucket") +: (0 until PLANES).map(p =>
        F.col("bucket").bitwiseXOR(F.lit(1L << p)))
      val probes = q.select(F.col("vec_id").as("query_id"),
        F.col("embedding").as("qv"),
        F.explode(F.array(probeBuckets: _*)).as("bucket"))
      val cands = probes.join(
        b.select(F.col("bucket"), F.col("vec_id").as("match_id"),
          F.col("embedding").as("cv")), "bucket")
        .where(F.col("match_id") =!= F.col("query_id"))
        .transform(graft.operators.CacheScope.persist)
      val nCand = cands.groupBy("query_id")
        .agg(F.count(F.lit(1)).as("n_cand"))
      val approx = Retrieval.rank(cands
          .select(F.col("query_id"), F.col("match_id"),
            Similarity.cosine(F.col("qv"), F.col("cv")).as("cos")),
          "query_id", F.col("cos").desc, "match_id", ANN_RECALL_K)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      val exact = Similarity.bruteForceTopK(
        emb, emb.where(F.col("vec_id") < 10), "vec_id", "embedding",
        k = ANN_RECALL_K)
        .select(F.col("query_id"), F.col("match_id"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .join(nCand, "query_id")
        .select(F.col("query_id"), F.col("n_cand"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / ANN_RECALL_K, 6)
            .as("recall"))
        .orderBy("query_id")
    },
    Some {
      val flips = (0 until PLANES).map(p => s"xor(bucket, ${1L << p})")
      s"""
      WITH bk AS (
        SELECT vec_id, CAST($bucketBitsSql AS BIGINT) AS bucket, embedding
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, bucket, embedding AS qv
            FROM bk WHERE vec_id < 10),
      probes AS (
        SELECT query_id, qv,
               unnest([bucket, ${flips.mkString(", ")}]) AS bucket
        FROM q),
      cand AS (
        SELECT p.query_id, p.qv, c.vec_id AS match_id, c.embedding AS cv
        FROM probes p JOIN bk c USING (bucket)
        WHERE c.vec_id <> p.query_id),
      ncand AS (SELECT query_id, count(*) AS n_cand FROM cand GROUP BY 1),
      approx AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY ${cosSql("qv", "cv")} DESC, match_id) AS rn
          FROM cand) WHERE rn <= $ANN_RECALL_K),
      exact AS (
        SELECT query_id, match_id FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS match_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${cosSql("e.embedding", "q.embedding")} DESC,
                            e.vec_id) AS rn
          FROM embeddings e JOIN embeddings q
            ON q.vec_id < 10 AND e.vec_id <> q.vec_id)
          WHERE rn <= $ANN_RECALL_K)
      SELECT e.query_id, n.n_cand,
             CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits,
             round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
                   / $ANN_RECALL_K.0, 6) AS recall
      FROM exact e
      LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.match_id = a.match_id
      JOIN ncand n ON e.query_id = n.query_id
      GROUP BY e.query_id, n.n_cand ORDER BY e.query_id"""
    })

  // --------------------------------------------------------------- D27
  /** Matryoshka / prefix-dimension ANN audit (Kusupati et al. 2022,
    * arXiv:2205.13147): top-5 cosine neighbors computed on the FULL
    * 64-dim embedding vs on its 32-dim PREFIX, per-query overlap in
    * exact integer micros — the "can I run ANN at half the dims"
    * go/no-go read before shrinking a 100 TB vector index 2×. Both
    * sides are the existing brute-force operator (queries broadcast,
    * corpus scanned once each); the audit join is per-(query, match)
    * over 2·k·|Q| rows — metadata-sized. Truncation is a narrow
    * `slice` projection, zero shuffles added. */
  private val embedMatryoshka = QueryDef(
    "embed_matryoshka",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val full = Similarity.bruteForceTopK(emb,
        emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k = ANN_RECALL_K)
      val half = emb.withColumn("embedding",
        F.slice(F.col("embedding"), 1, 32))
      val halfTop = Similarity.bruteForceTopK(half,
        half.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k = ANN_RECALL_K)
      full.select("query_id", "match_id")
        .join(halfTop.select(F.col("query_id"), F.col("match_id"))
          .withColumn("_hit", F.lit(1L)), Seq("query_id", "match_id"), "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0L))).as("n_overlap"))
        .withColumn("recall_micros",
          F.expr(s"n_overlap * 1000000 div $ANN_RECALL_K"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      sf AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               ${cosSql("q.embedding", "c.embedding")} AS cos
        FROM q, embeddings c WHERE q.vec_id != c.vec_id),
      f AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, match_id) AS rank
          FROM sf) WHERE rank <= $ANN_RECALL_K),
      sh AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               ${cosSqlDim("q.embedding", "c.embedding", 32)} AS cos
        FROM q, embeddings c WHERE q.vec_id != c.vec_id),
      h AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, match_id) AS rank
          FROM sh) WHERE rank <= $ANN_RECALL_K)
      SELECT f.query_id AS query_id,
             CAST(count(h.match_id) AS BIGINT) AS n_overlap,
             CAST(count(h.match_id) * 1000000 // $ANN_RECALL_K AS BIGINT)
               AS recall_micros
      FROM f LEFT JOIN h ON f.query_id = h.query_id AND f.match_id = h.match_id
      GROUP BY f.query_id ORDER BY f.query_id"""))

  // --------------------------------------------------------------- D28
  /** b-bit minhash audit (Li & Koenig 2010, arXiv:0910.3349): for every
    * D3 candidate pair, the Jaccard estimate from full-width signature
    * component matches next to the estimate from only the LOWEST 4 BITS
    * of each component, with the standard collision correction
    * J = (p − 2⁻ᵇ)/(1 − 2⁻ᵇ) — the measurement behind shrinking a
    * 100 TB signature store 16× (64-bit → 4-bit components). All
    * arithmetic exact integer micros (2⁻ᵇ = 62 500 µ; the correction is
    * a clamped integer affine map), so both estimates are hash-checked.
    * Signatures are computed once and joined to the bounded candidate
    * set — pair-keyed, never corpus-quadratic. */
  private val minhashBbit = QueryDef(
    "minhash_bbit",
    (s, d) => {
      val docs = t(s, d, "documents")
      val sig = graft.operators.CacheScope.persist(
        Dedup.minhashSignatures(docs, "doc_id", "text", k = K, shingleN = 3))
      val pairs = Staged.minhashPairs(s, d).select("doc_a", "doc_b")
      val a = sig.select(F.col("doc_id").as("doc_a") +:
        (0 until K).map(i => F.col(s"h$i").as(s"a$i")): _*)
      val b = sig.select(F.col("doc_id").as("doc_b") +:
        (0 until K).map(i => F.col(s"h$i").as(s"b$i")): _*)
      val mFull = (0 until K).map(i =>
        F.when(F.col(s"a$i") === F.col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val mBbit = (0 until K).map(i =>
        F.when(F.col(s"a$i") % 16 === F.col(s"b$i") % 16, 1L).otherwise(0L))
        .reduce(_ + _)
      pairs.join(a, "doc_a").join(b, "doc_b")
        .select(F.col("doc_a"), F.col("doc_b"),
          mFull.as("m_full"), mBbit.as("m_bbit"))
        .withColumn("est_full_micros", F.expr(s"m_full * 1000000 div $K"))
        .withColumn("est_bbit_micros", F.expr(
          s"greatest(m_bbit * 1000000 div $K - 62500, 0L) * 16 div 15"))
        .orderBy("doc_a", "doc_b")
    },
    Some {
      val mf = (0 until K).map(i =>
        s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      val mb = (0 until K).map(i =>
        s"(CASE WHEN a.h$i % 16 = b.h$i % 16 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashCtesSql,
      j AS (
        SELECT p.doc_a, p.doc_b,
               CAST($mf AS BIGINT) AS m_full,
               CAST($mb AS BIGINT) AS m_bbit
        FROM mh_pairs p JOIN sig a ON p.doc_a = a.doc_id
                        JOIN sig b ON p.doc_b = b.doc_id)
      SELECT doc_a, doc_b, m_full, m_bbit,
             CAST(m_full * 1000000 // $K AS BIGINT) AS est_full_micros,
             CAST(greatest(m_bbit * 1000000 // $K - 62500, 0) * 16 // 15
               AS BIGINT) AS est_bbit_micros
      FROM j ORDER BY doc_a, doc_b"""
    })

  // ---------------------------------------------------------------- D33
  /** Incremental MinHash dedup — the nightly-crawl shape: band the
    * corpus ONCE, then join only the NEW batch's bands (doc_id ≡ 0 mod
    * 10, ~10% of docs) against the EXISTING corpus's bands. The join's
    * build side is batch-sized, not corpus-sized — the reason a daily
    * dedup run costs O(batch · bands), not O(corpus²); the banded
    * signature parquet is the checkpoint a production pipeline carries
    * between runs (here: the persisted bands frame). Output: every
    * (new, existing) band-colliding candidate with its collision
    * count — the D3 semantics restricted to the incremental frontier. */
  private val dedupMinhashBatch = QueryDef(
    "dedup_minhash_batch",
    (s, d) => {
      val bands = graft.operators.CacheScope.persist(
        Dedup.minhashBands(Dedup.minhashSignatures(
          t(s, d, "documents"), "doc_id", "text", K, 3), K, BANDS))
      val newB = bands.where(F.expr("doc_id % 10 = 0"))
        .select(F.col("doc_id").as("new_id"), F.col("band_idx"),
          F.col("band_hash"))
      val oldB = bands.where(F.expr("doc_id % 10 != 0"))
        .select(F.col("doc_id").as("old_id"), F.col("band_idx"),
          F.col("band_hash"))
      newB.join(oldB, Seq("band_idx", "band_hash"))
        .groupBy("new_id", "old_id")
        .agg(F.count(F.lit(1)).as("n_bands"))
        .orderBy("new_id", "old_id")
    },
    Some(s"""WITH $minhashCtesSql
      SELECT a.doc_id AS new_id, b.doc_id AS old_id,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
      GROUP BY 1, 2 ORDER BY new_id, old_id"""))

  // ---------------------------------------------------------------- D34
  /** IVF recall@5 against brute force — completes the ANN audit ladder
    * (D3b minhash recall, D14c PQ recall, D24 multiprobe recall): for
    * the same queries and k as D9's search, how many of the true top-5
    * does nprobe=2 IVF return? The honest number that decides whether
    * nprobe (or the centroid count) needs raising before a 100 TB
    * index build. */
  private val embedIvfRecall = QueryDef(
    "embed_ivf_recall",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(F.col("vec_id") < 3)
      val exact = graft.operators.Similarity.bruteForceTopK(
        emb, queries, "vec_id", "embedding", k = ANN_RECALL_K)
        .select(F.col("query_id"), F.col("match_id"))
      val approx = Ivf.searchAssigned(emb, Staged.ivfAssignments(s, d),
        Staged.ivfCentroids(s, d),
        queries, "vec_id", "embedding", k = ANN_RECALL_K, nprobe = 2)
        .select(F.col("query_id"), F.col("match_id").as("_am"))
      exact
        .join(approx,
          exact("query_id") === approx("query_id") &&
            exact("match_id") === approx("_am"), "left")
        .groupBy(exact("query_id"))
        .agg(F.sum(F.when(F.col("_am").isNotNull, 1L).otherwise(0L))
          .as("n_hits"))
        .select(F.col("query_id"), F.col("n_hits"),
          F.round(F.col("n_hits").cast("double") / ANN_RECALL_K, 6)
            .as("recall"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH $centroidCtes,
      assigned AS (
        SELECT vec_id AS match_id, ckey AS centroid_label FROM (
          SELECT vec_id, ckey,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, ckey) AS rn
          FROM (SELECT vec_id, ckey, ${cosSql("embedding", "centroid")} AS cos
                FROM embeddings, cvec)) WHERE rn = 1),
      probes AS (
        SELECT query_id, centroid_label FROM (
          SELECT query_id, ckey AS centroid_label,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, ckey) AS rn
          FROM (SELECT e.vec_id AS query_id, ckey,
                       ${cosSql("e.embedding", "centroid")} AS cos
                FROM embeddings e, cvec WHERE e.vec_id < 3)) WHERE rn <= 2),
      approx AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, match_id) AS rank
          FROM (SELECT p.query_id, a.match_id,
                       ${cosSql("q.embedding", "c.embedding")} AS cos
                FROM probes p
                     JOIN assigned a ON p.centroid_label = a.centroid_label
                     JOIN embeddings q ON q.vec_id = p.query_id
                     JOIN embeddings c ON c.vec_id = a.match_id
                WHERE p.query_id != a.match_id))
        WHERE rank <= $ANN_RECALL_K),
      exact AS (
        SELECT query_id, match_id FROM (
          SELECT query_id, match_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, match_id) AS rank
          FROM (SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                       ${cosSql("q.embedding", "c.embedding")} AS cos
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 3 AND q.vec_id != c.vec_id))
        WHERE rank <= $ANN_RECALL_K)
      SELECT e.query_id,
             CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits,
             round(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END)
                   / $ANN_RECALL_K.0, 6) AS recall
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.match_id = a.match_id
      GROUP BY e.query_id ORDER BY e.query_id"""))

  // ---------------------------------------------------------------- D76
  /** Capture-recapture estimate of the TRUE near-duplicate pair
    * population — the "how many duplicates is my dedup MISSING"
    * instrument: run two INDEPENDENT catchers (the banded-minhash
    * candidates and the simhash hamming ≤ 6 candidates — independent
    * because their hash families and blocking differ), verify each
    * catch by exact 3-gram Jaccard ≥ 0.5 computed ONLY for candidate
    * pairs (candidate-bounded — verification never enumerates the
    * corpus pair space, which is the whole point at 100 TB), and read
    * the population off the overlap: Lincoln-Petersen N̂ = n₁·n₂/m and
    * the small-m Chapman form (n₁+1)(n₂+1)/(m+1) − 1, both exact
    * integer divisions. The spec compares the estimates against the
    * enumerable truth at test scale; production runs this where truth
    * is unenumerable.
    *
    * Scale shape: both catchers are the existing bounded candidate
    * generators; verification joins the pair union against per-doc
    * shingle sets (|pairs|·shingles-per-doc rows); the finish is one
    * row. */
  private val dedupCapture = QueryDef(
    "dedup_capture",
    (s, d) => {
      val docs = t(s, d, "documents")
      val a = Staged.minhashPairs(s, d)
        .select("doc_a", "doc_b").distinct()
        .withColumn("_src", F.lit(1L))
      val withLang = Dedup.simhash(docs, "doc_id", "text", SIMHASH_BITS)
        .join(docs.select("doc_id", "lang"), "doc_id")
      val b = Dedup.simhashPairs(withLang, "lang", maxHamming = 6)
        .select("doc_a", "doc_b").distinct()
        .withColumn("_src", F.lit(2L))
      val cand = a.unionByName(b).groupBy("doc_a", "doc_b")
        .agg(F.sum("_src").as("_src")) // 1 = A only, 2 = B only, 3 = both
      // persisted (r15, §2.4): the hashed shingle frame feeds BOTH sides
      // of the verification join AND the size aggregate — unpersisted,
      // the corpus-scale shingle explode executed three times per run.
      // sizes derive from the hashed frame (1 row per shingle either
      // way), so the raw shingle strings never need a second pass.
      val vh = graft.operators.CacheScope.persist(
        TextOps.shingleDocs(docs, "doc_id", "text", 3)
          .select(F.col("doc_id"),
            Hashing.hash60(F.col("shingle")).as("h")))
      val sizes = vh.groupBy("doc_id").agg(F.count(F.lit(1)).as("n"))
      val inter = cand
        .join(vh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(vh.select(F.col("doc_id").as("doc_b"), F.col("h")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b", "_src")
        .agg(F.count(F.lit(1)).as("n_common"))
      val verified = inter
        .join(sizes.select(F.col("doc_id").as("doc_a"),
          F.col("n").as("_na")), "doc_a")
        .join(sizes.select(F.col("doc_id").as("doc_b"),
          F.col("n").as("_nb")), "doc_b")
        .where(F.expr(
          "round(n_common * 1.0 / (_na + _nb - n_common), 6) >= 0.5"))
      verified.agg(
          F.sum(F.expr("CASE WHEN _src IN (1, 3) THEN 1L ELSE 0L END"))
            .as("n_a"),
          F.sum(F.expr("CASE WHEN _src IN (2, 3) THEN 1L ELSE 0L END"))
            .as("n_b"),
          F.sum(F.expr("CASE WHEN _src = 3 THEN 1L ELSE 0L END"))
            .as("n_both"))
        .select(F.col("n_a"), F.col("n_b"), F.col("n_both"),
          F.expr("CASE WHEN n_both = 0 THEN -1L " +
            "ELSE n_a * n_b div n_both END").as("lp_est"),
          F.expr("(n_a + 1) * (n_b + 1) div (n_both + 1) - 1")
            .as("chapman_est"))
        .orderBy("n_a")
    },
    Some {
      val bits = (0 until SIMHASH_BITS).map { bq =>
        s"(CASE WHEN sum(cnt * (((h >> $bq) & 1) * 2 - 1)) > 0 " +
          s"THEN ${1L << bq} ELSE 0 END)"
      }.mkString("\n             + ")
      s"""WITH $minhashCtesSql,
         |tok AS (
         |  SELECT doc_id, tok, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |tokh AS (SELECT doc_id, cnt, ${Hashing.hash60Sql("tok")} AS h
         |         FROM tok),
         |sim AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |        FROM tokh GROUP BY doc_id),
         |shl AS (SELECT sim.doc_id, simhash, lang
         |        FROM sim JOIN documents USING (doc_id)),
         |sh_pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shl a JOIN shl b
         |    ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
         |cand AS (
         |  SELECT doc_a, doc_b, CAST(sum(src) AS BIGINT) AS src
         |  FROM (SELECT DISTINCT doc_a, doc_b, 1 AS src FROM mh_pairs
         |        UNION ALL
         |        SELECT DISTINCT doc_a, doc_b, 2 FROM sh_pairs)
         |  GROUP BY 1, 2),
         |vh AS (SELECT doc_id, ${Hashing.hash60Sql("shingle")} AS h
         |       FROM sh),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, c.src,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM cand c JOIN vh a ON a.doc_id = c.doc_a
         |       JOIN vh b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2, 3),
         |verified AS (
         |  SELECT i.src FROM inter i
         |  JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b
         |  WHERE round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6)
         |        >= 0.5),
         |agg AS (
         |  SELECT CAST(sum(CASE WHEN src IN (1, 3) THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN src IN (2, 3) THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_b,
         |         CAST(sum(CASE WHEN src = 3 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_both
         |  FROM verified)
         |SELECT n_a, n_b, n_both,
         |       CASE WHEN n_both = 0 THEN CAST(-1 AS BIGINT)
         |            ELSE CAST(n_a * n_b // n_both AS BIGINT) END AS lp_est,
         |       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT)
         |         AS chapman_est
         |FROM agg ORDER BY n_a""".stripMargin
    })

  // ---------------------------------------------------------------- D75
  /** Deterministic NEGATIVE SAMPLING for contrastive training pairs —
    * for every customer, k parts they did NOT buy, the negatives a
    * two-tower recommender or embedding model trains against. The
    * scale-critical shape is GENERATE, don't filter: candidates come
    * straight from hash arithmetic (candidate i of customer c is
    * hash60(c:i) mod |catalog| — m = 8 draws per customer, bounded fan
    * out, no customer×catalog cross join anywhere), then one anti-join
    * against the positives and a per-customer rank keeps the first k
    * surviving draws (collisions collapse to their first draw index;
    * heavy buyers can yield < k — published as-is, the honest sample).
    * Fully hash-deterministic: same corpus, same negatives, any engine.
    *
    * Scale shape: |customers|·m candidate rows, one (ck, pk)-keyed
    * anti-join against the distinct purchase pairs, per-customer
    * windows over ≤ m rows. */
  private val negativeSample = QueryDef(
    "negative_sample",
    (s, d) => {
      val nParts = t(s, d, "part").agg(F.count(F.lit(1)).as("n_parts"))
      val cand = t(s, d, "customer")
        .select(F.col("c_custkey").as("ck"))
        .crossJoin(F.broadcast(nParts))
        .select(F.col("ck"),
          F.explode(F.expr("sequence(0L, 7L)")).as("i"),
          F.col("n_parts"))
        .select(F.col("ck"), F.col("i"),
          F.pmod(Hashing.hash60(
            F.concat_ws(":", F.col("ck"), F.col("i"))),
            F.col("n_parts")).as("pk"))
        .groupBy("ck", "pk").agg(F.min("i").as("i"))
      val pos = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          F.col("o_orderkey") === F.col("l_orderkey"))
        .select(F.col("o_custkey").as("ck"),
          F.col("l_partkey").as("pk")).distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("ck").orderBy("i", "pk")
      cand.join(pos, Seq("ck", "pk"), "left_anti")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(F.col("ck"), F.col("rank").cast("long").as("rank"),
          F.col("pk").as("neg_pk"))
        .orderBy("ck", "rank")
    },
    Some(s"""
      WITH np AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part),
      cand0 AS (
        SELECT c_custkey AS ck, CAST(i AS BIGINT) AS i,
               ${Hashing.hash60Sql(
                 "CAST(c_custkey AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
                 % n_parts AS pk
        FROM customer, np, generate_series(0, 7) AS g(i)),
      cand AS (SELECT ck, pk, CAST(min(i) AS BIGINT) AS i
               FROM cand0 GROUP BY 1, 2),
      pos AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      neg AS (SELECT c.ck, c.pk, c.i FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM pos p
                                WHERE p.ck = c.ck AND p.pk = c.pk)),
      r AS (SELECT ck, pk,
                   CAST(row_number() OVER (PARTITION BY ck
                     ORDER BY i, pk) AS BIGINT) AS rank
            FROM neg)
      SELECT ck, rank, pk AS neg_pk
      FROM r WHERE rank <= 5 ORDER BY ck, rank"""))

  val all: Seq[QueryDef] = Seq(
    negativeSample, dedupCapture,
    dedupMinhashBatch, embedIvfRecall,
    phraseSearch, dedupMinhashRecall, langidConfusion,
    dedupExact, dedupFingerprint, dedupMinhash, dedupSimhash, simhashPairs,
    ngramJaccard,
    embedTopK, embedNearDup, embedLshBuckets, embedLshNearDup,
    embedIvfAssign, embedIvfSearch,
    textLangid, textQuality, textTokens, textNgrams, binaryMeta, joinSalted,
    multimodalMeta, sampleHash, sampleStratified, textNormalize, pipelineQuality,
    dedupApply, dedupRate, bm25Search, invertedIndex, corpusStats,
    saltedCount, ngramJaccardUnique, ngramJaccardCapped, dedupClusters,
    dedupClustersApply, pagerank, frameSample, triangleCount,
    ngramContainment, lshMultiprobe, pipelineFunnel, dedupClusterSizes,
    vocabCoverage, minhashScurve, embedMatryoshka, minhashBbit,
    dedupClustersStar, phashNeardup)
}
