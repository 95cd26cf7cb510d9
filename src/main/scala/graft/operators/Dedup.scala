package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Deduplication operators for LLM-pipeline data prep.
  *
  * Scale design: every method is groupBy/join on a derived key — a
  * single shuffle keyed by hash/shingle/band — never a cross join.
  * Candidate verification happens only within buckets, so 100 TB in
  * means (bucketed) candidates out, not O(n²).
  *
  * Caching: methods whose plans reference an intermediate twice persist
  * it (MEMORY_AND_DISK) through [[CacheScope]] — call
  * `CacheScope.release(spark)` after the consuming action to unpersist
  * this job's intermediates without touching other jobs' caches
  * (Verify/Bench do, per query).
  */
object Dedup {

  /** Exact dedup groups: md5 of the raw text. One shuffle. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(F.md5(F.col(textCol)).as("text_hash"))
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("n_dups"))

  /** Canonical-fingerprint dedup (the classic "fingerprint" method):
    * normalize → distinct tokens → sort → md5. Catches reorderings and
    * repetition that exact hashing misses. One shuffle. */
  def fingerprint(text: Column): Column =
    F.md5(F.array_join(F.array_sort(F.array_distinct(TextOps.tokens(text))), " "))

  def fingerprintGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(fingerprint(F.col(textCol)).as("fingerprint"))
      .agg(F.min(F.col(idCol)).as("keep_id"), F.count(F.lit(1)).as("n_members"))

  /** Mersenne prime 2³¹−1: the affine minhash family works in [0, M). */
  val M31: Long = 2147483647L

  /** Deterministic affine coefficients for hash function i (shared with
    * the oracle SQL generator). */
  def minhashCoef(i: Int): (Long, Long) =
    ((Hashing.hash60(s"minhash-a-$i") % (M31 - 1)) + 1,
      Hashing.hash60(s"minhash-b-$i") % M31)

  /** MinHash signatures over word `shingleN`-gram shingles: ONE md5 per
    * shingle, then k affine transforms h_i = (a_i·h + b_i) mod M31 (the
    * standard universal-hash family — 16× cheaper than k independent
    * md5s). One explode + one groupBy: the k mins are computed map-side
    * (partial agg), so the shuffle carries one row per doc, not per
    * shingle. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleN: Int = 3): DataFrame = {
    val sh = TextOps.shingleDocs(docs, idCol, textCol, shingleN)
      .withColumn("_h", Hashing.hash60(F.col("shingle")) % M31)
    val mins = (0 until k).map { i =>
      val (a, b) = minhashCoef(i)
      F.min((F.col("_h") * a + b) % M31).as(s"h$i")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Band the signature: band b's key is hash60 of its r joined mins
    * (a long — joins on 8-byte keys, not 32-char md5 strings).
    * Docs with < shingleN tokens have no signature and are excluded.
    *
    * BEHAVIOR CHANGE (r2): `k % bands != 0` now throws instead of
    * silently dropping the trailing `k % bands` signature components —
    * callers that relied on e.g. (k=16, bands=3) must pick parameters
    * where bands divides k (the dropped components weakened recall in a
    * way the caller couldn't see). */
  def minhashBands(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k ($k) must be divisible by bands ($bands) — trailing signature components would be silently dropped")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val key = Hashing.hash60(F.concat_ws(",",
        (0 until r).map(j => F.col(s"h${b * r + j}").cast("string")): _*))
      F.struct(F.lit(b).as("band_idx"), key.as("band_hash"))
    }
    sig.select(F.col("doc_id"), F.explode(F.array(bandStructs: _*)).as("band"))
      .select(F.col("doc_id"), F.col("band.band_idx"), F.col("band.band_hash"))
  }

  /** LSH candidate pairs: docs sharing ≥1 band bucket. The self-join
    * shuffles on (band_idx, band_hash) — AQE handles skewed buckets.
    * The banded signature (1 row per doc per band) is persisted so the
    * self-join's two sides don't re-run shingling+hashing — at 100 TB
    * this intermediate is exactly what you'd checkpoint. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val b = CacheScope.persist(
      minhashBands(minhashSignatures(docs, idCol, textCol, k, shingleN), k, bands))
    val left = b.select(F.col("doc_id").as("doc_a"), F.col("band_idx"), F.col("band_hash"))
    val right = b.select(F.col("doc_id").as("doc_b"), F.col("band_idx"), F.col("band_hash"))
    left.join(right, Seq("band_idx", "band_hash"))
      .filter(F.col("doc_a") < F.col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(F.count(F.lit(1)).as("n_bands"))
  }

  /** SimHash (bitsCount-bit, default 32): per-token hash60 bit votes
    * weighted by token count; bit b of the result is the majority sign.
    * Two aggregations, both with map-side combine. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bitsCount: Int = 32): DataFrame = {
    val tok = docs.select(
      F.col(idCol).as("doc_id"),
      F.explode(TextOps.tokens(F.col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).as("cnt"))
      .withColumn("h", Hashing.hash60(F.col("tok")))
    val bitVotes = (0 until bitsCount).map { b =>
      F.sum(F.col("cnt") * (F.shiftright(F.col("h"), b).bitwiseAND(1) * 2 - 1)).as(s"v$b")
    }
    val voted = tok.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val sim = (0 until bitsCount).map { b =>
      F.when(F.col(s"v$b") > 0, F.lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    voted.select(F.col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance within a blocking key
    * (avoids O(n²): only same-block pairs are compared). The signature
    * frame is persisted: the self-join references it twice and the
    * two token-aggregation shuffles behind it must not run twice. */
  def simhashPairs(docsWithSimhash: DataFrame, blockCol: String,
      maxHamming: Int): DataFrame = {
    val sigs = CacheScope.persist(docsWithSimhash)
    val a = sigs.select(F.col("doc_id").as("doc_a"),
      F.col("simhash").as("sim_a"), F.col(blockCol).as("blk"))
    val b = sigs.select(F.col("doc_id").as("doc_b"),
      F.col("simhash").as("sim_b"), F.col(blockCol).as("blk"))
    a.join(b, "blk").filter(F.col("doc_a") < F.col("doc_b"))
      .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
      .filter(F.col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    * shuffle keyed on the shingle HASH (8-byte join key — the inverted
    * index), intersection counts from the shingle join, sizes joined
    * back. No cross join; the hashed shingle index is persisted so the
    * self-join + size aggregation evaluate it once.
    *
    * `maxDocFreq` caps the inverted index: shingles appearing in more
    * than that many docs are dropped BEFORE the self-join (sizes are
    * computed on the capped set, so the Jaccard stays self-consistent).
    * Without a cap, a shingle shared by d docs contributes d² join rows —
    * on duplicate-heavy corpora that is quadratic (measured 20× blowup at
    * 10× duplication), so the SAFE capped path is the DEFAULT
    * (cap = 1000; r4 change — previously None): pass
    * `maxDocFreq = None` explicitly to opt into the exact uncapped
    * semantics on corpora known to be dedup'd. Compose with
    * [[ngramJaccardPairsUnique]] to collapse exact duplicates first. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame =
    hashJaccardPairs(
      TextOps.shingleDocs(docs, idCol, textCol, shingleN)
        .select(F.col("doc_id"), Hashing.hash60(F.col("shingle")).as("key_h")),
      minJaccard, maxDocFreq)

  /** Shared tail of the set-Jaccard pair operators: given distinct
    * (doc_id, key_h) memberships, emit pairs with Jaccard ≥ threshold —
    * shuffle keyed on the 8-byte key hash (the inverted index), df-cap
    * applied BEFORE the self-join (sizes computed on the capped set so
    * the Jaccard stays self-consistent), index persisted because the
    * self-join and the size aggregate both consume it. */
  private def hashJaccardPairs(keyed: DataFrame, minJaccard: Double,
      maxDocFreq: Option[Int]): DataFrame =
    pairOverlap(keyed, maxDocFreq)
      .withColumn("jaccard",
        F.round(F.col("n_common").cast("double") /
          (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
      .filter(F.col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_common", "jaccard")

  /** Shared overlap core for set-similarity pair operators: given
    * (doc_id, key_h) memberships, emit (doc_a < doc_b, n_common, n_a,
    * n_b) for pairs sharing ≥ 1 key — df-cap BEFORE the self-join
    * (sizes computed on the capped set so every derived measure stays
    * self-consistent), index persisted because the self-join and the
    * size aggregate both consume it. Jaccard, containment, overlap
    * coefficient etc. are one projection away. */
  private def pairOverlap(keyed: DataFrame,
      maxDocFreq: Option[Int]): DataFrame = {
    val capped = maxDocFreq match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("key_h")
        keyed.withColumn("_df", F.count(F.lit(1)).over(w))
          .filter(F.col("_df") <= cap).drop("_df")
      case None => keyed
    }
    val sh = CacheScope.persist(capped)
    val sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).as("n_keys"))
    val inter = sh.select(F.col("doc_id").as("doc_a"), F.col("key_h"))
      .join(sh.select(F.col("doc_id").as("doc_b"), F.col("key_h")), "key_h")
      .filter(F.col("doc_a") < F.col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_keys", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_keys", "n_b"), "doc_b")
  }

  /** Directional n-gram CONTAINMENT pairs [Broder 1997's containment,
    * the asymmetric cousin of resemblance]: C(A in B) = |A∩B| / |A| in
    * exact integer micros — catches the quote/excerpt/superset family
    * that Jaccard structurally misses (a 50-shingle excerpt inside a
    * 5000-shingle doc has J ≈ 0.01 but containment ≈ 1.0, which is why
    * decontamination pipelines gate on containment, not Jaccard).
    * Both directions are reported per unordered pair; the gate keeps a
    * pair when EITHER direction clears `minContainMicros`. Same
    * capped-inverted-index shape as [[ngramJaccardPairs]] via
    * [[pairOverlap]]. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minContainMicros: Long = 800000L,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame =
    pairOverlap(
      TextOps.shingleDocs(docs, idCol, textCol, shingleN)
        .select(F.col("doc_id"), Hashing.hash60(F.col("shingle")).as("key_h")),
      maxDocFreq)
      .withColumn("c_ab_micros", F.expr("n_common * 1000000 div n_a"))
      .withColumn("c_ba_micros", F.expr("n_common * 1000000 div n_b"))
      .filter(F.greatest(F.col("c_ab_micros"), F.col("c_ba_micros"))
        >= minContainMicros)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b",
        "c_ab_micros", "c_ba_micros")

  // --------------------------------------------- content-defined chunking
  /** Content-defined chunk segments of a text column (the CDC/rolling-
    * hash move from dedup storage systems, applied to tokens): a
    * segment boundary falls after every token whose hash ≡ 0 (mod p),
    * so boundaries are a property of the CONTENT — inserting or
    * deleting a sentence shifts fixed windows everywhere but disturbs
    * only the segments it touches. Expected segment length is p tokens:
    * the segment inverted index is ~p× smaller than an n-gram shingle
    * index carrying the same near-dup signal. Pure narrow expression
    * (transform → join → split): no shuffle, no UDF. */
  def cdcSegments(text: Column, p: Int = 8): Column = {
    val sep = "\u0001"
    val marked = F.transform(TextOps.tokens(text), t =>
      F.concat(t, F.when(Hashing.hash60(t) % p === 0, F.lit(sep))
        .otherwise(F.lit(""))))
    val segs = F.split(F.array_join(marked, " "),
      java.util.regex.Pattern.quote(sep))
    F.filter(F.transform(segs, s => F.trim(s)), s => s =!= "")
  }

  /** Set-Jaccard near-dup pairs over DISTINCT CDC segments — the same
    * bucketed inverted-index shape as [[ngramJaccardPairs]] (shared
    * tail, same df cap semantics) at ~p× fewer index rows. */
  def cdcJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      p: Int = 8, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame =
    hashJaccardPairs(
      docs.select(F.col(idCol).as("doc_id"),
          F.explode(F.array_distinct(cdcSegments(F.col(textCol), p))).as("seg"))
        .select(F.col("doc_id"), Hashing.hash60(F.col("seg")).as("key_h")),
      minJaccard, maxDocFreq)

  /** Exact substring-window duplication stats — the corpus-level
    * substring-dedup measure of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499),
    * re-expressed relationally: every `w`-token window of every
    * document at EVERY position (not distinct — intra-document
    * repetition is duplication too, and the paper's suffix-array match
    * counts occurrences), keyed by its hash; a window instance is
    * duplicated when its hash occurs ≥ 2 times corpus-wide. Per
    * document: total windows, duplicated windows, duplicated fraction.
    * Documents with fewer than `w` tokens have no windows and are
    * absent — callers treat them as 0-duplication.
    *
    * Scale shape: window instances collapse to (doc, hash, k_local)
    * FIRST (map-side combined shuffle on the (doc, 8-byte-hash) key —
    * repeated windows inside a doc never cross twice), the corpus-wide
    * count is one re-aggregate of that index on the hash, and the
    * final rejoin + per-doc rollup carry distinct (doc, hash) rows
    * only. The index is persisted (the global count and the rejoin
    * both consume it). No suffix array needed: fixed-w windows give
    * the same "is this span repeated" signal at w-gram resolution,
    * and W·n window hashes bucket-shuffle where a distributed suffix
    * array would need global ordering. */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame = {
    val wins = docs
      .select(F.col(idCol).as("doc_id"), TextOps.tokens(F.col(textCol)).as("_toks"))
      .select(F.col("doc_id"),
        F.explode(TextOps.shinglesOf(F.col("_toks"), w)).as("win"))
      .select(F.col("doc_id"), Hashing.hash60(F.col("win")).as("wh"))
    val local = CacheScope.persist(
      wins.groupBy("doc_id", "wh").agg(F.count(F.lit(1)).as("k_local")))
    val global = local.groupBy("wh")
      .agg(F.sum(F.col("k_local")).as("k_global"))
    local.join(global, "wh")
      .groupBy("doc_id")
      .agg(
        F.sum(F.col("k_local")).as("n_windows"),
        F.sum(F.when(F.col("k_global") >= 2, F.col("k_local")).otherwise(0L))
          .as("n_dup_windows"))
      .select(F.col("doc_id"),
        F.col("n_windows"), F.col("n_dup_windows"),
        F.round(F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6)
          .as("dup_frac"))
  }

  /** Longest-duplicated-span ladder — the CUT-vs-DROP decision of
    * production exact-substring dedup (Lee et al. 2022,
    * arXiv:2107.06499 §4: spans over a length threshold are CUT from
    * the document; documents that are substantially duplicated are
    * DROPPED), approximated without a suffix array by running the
    * [[substringDupStats]] fixed-w window discipline at a bounded
    * LADDER of widths: a doc's longest duplicated span is bracketed by
    * the largest w at which it still has a corpus-duplicated window
    * (a duplicated span of length L covers duplicated w-windows for
    * every w ≤ L — so the ladder flags are provably monotone, which
    * the spec asserts as a theorem).
    *
    * Output per doc: base-width window count, duplicated-window count
    * at EVERY ladder width (the span profile), `max_dup_w` = largest
    * width with any duplication (0 = clean), and the decision —
    * 'drop' when max_dup_w ≥ `dropW` (a long shared span: the doc is
    * substantially duplicated material), 'cut' when duplication exists
    * only below dropW (excise the spans, keep the doc), 'keep' when
    * clean.
    *
    * Scale shape: ONE tokens pass fans out to |ladder| window explodes
    * (total instances ≤ |ladder|·corpus tokens — the bounded cost that
    * replaces a distributed suffix array's global ordering), every
    * width collapses map-side to (w, doc, hash, count) before the one
    * shuffle keyed (w, doc, hash), the corpus-wide count re-aggregates
    * the persisted index on (w, hash), and the per-doc rollup is pure
    * conditional aggregation over ≤|ladder| rows per doc. */
  def spanLadder(docs: DataFrame, idCol: String, textCol: String,
      ws: Seq[Int], dropW: Int): DataFrame = {
    require(ws == ws.sorted && ws.distinct == ws, "ladder must ascend")
    val toks = docs.select(F.col(idCol).as("doc_id"),
      TextOps.tokens(F.col(textCol)).as("_toks"))
    val wins = ws.map { w =>
      toks.select(F.col("doc_id"), F.lit(w).as("w"),
        F.explode(TextOps.shinglesOf(F.col("_toks"), w)).as("win"))
    }.reduce(_ unionAll _)
      .select(F.col("doc_id"), F.col("w"),
        Hashing.hash60(F.col("win")).as("wh"))
    val local = CacheScope.persist(
      wins.groupBy("w", "doc_id", "wh").agg(F.count(F.lit(1)).as("k_local")))
    val global = local.groupBy("w", "wh")
      .agg(F.sum(F.col("k_local")).as("k_global"))
    val perW = local.join(global, Seq("w", "wh"))
      .groupBy("doc_id", "w")
      .agg(F.sum(F.col("k_local")).as("n_windows"),
        F.sum(F.when(F.col("k_global") >= 2, F.col("k_local"))
          .otherwise(0L)).as("n_dup"))
    val dupCols = ws.map { w =>
      F.coalesce(F.sum(F.when(F.col("w") === w, F.col("n_dup"))),
        F.lit(0L)).as(s"dup_w$w")
    }
    val base = perW.groupBy("doc_id").agg(
      F.coalesce(F.sum(F.when(F.col("w") === ws.head,
        F.col("n_windows"))), F.lit(0L)).as(s"n_w${ws.head}"),
      dupCols: _*)
    // max_dup_w / dup_at_max as pure CASE chains over the profile
    // columns (identical text both engines — no arg-max semantics to
    // match); descending so the first hit is the largest width
    val desc = ws.reverse
    val maxDupW = desc.tail.foldLeft(
      F.when(F.col(s"dup_w${desc.head}") > 0, F.lit(desc.head))) {
      (acc, w) => acc.when(F.col(s"dup_w$w") > 0, F.lit(w))
    }.otherwise(F.lit(0)).cast("int")
    val dupAtMax = desc.tail.foldLeft(
      F.when(F.col(s"dup_w${desc.head}") > 0, F.col(s"dup_w${desc.head}"))) {
      (acc, w) => acc.when(F.col(s"dup_w$w") > 0, F.col(s"dup_w$w"))
    }.otherwise(F.lit(0L)).cast("long")
    base
      .withColumn("max_dup_w", maxDupW)
      .withColumn("dup_at_max", dupAtMax)
      .withColumn("decision",
        F.when(F.col("max_dup_w") >= dropW, "drop")
          .when(F.col("max_dup_w") > 0, "cut")
          .otherwise("keep"))
  }

  /** Semantic dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540) as one composition: k-means-cluster the
    * embeddings ([[Ivf.kmeansCentroids]] — pass `trainFraction` there
    * when composing by hand at 100 TB), compare cosines only WITHIN a
    * cluster (the clustering is the blocking key that keeps the pair
    * space feasible — the whole point of the paper), connect pairs
    * ≥ `minCosine` transitively ([[connectedComponents]]) and keep the
    * min-id representative per semantic cluster.
    *
    * Output: (vec_id, centroid_label, keep) for every corpus vector —
    * keep=1 for representatives and semantically-isolated vectors.
    *
    * Scale shape: assignment is a narrow broadcast-literal map; the
    * within-cluster self-join shuffles on the cluster label (k ≫ 4 in
    * production keeps cluster populations bounded; AQE splits skewed
    * clusters); the CC rounds are metadata-sized (pairs, not corpus).
    * Per-vector norms are computed ONCE before the pair join — the
    * pair stage then costs one dot + one divide per candidate instead
    * of three dots (norm(a)·norm(b) inline would re-derive both norms
    * per pair: measured 3× the flops at sf0.1), and
    * `round(dot/(n_a·n_b), 6)` runs the identical double ops in the
    * identical order as [[Similarity.cosine]], so results hash-match. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, minCosine: Double = 0.9): DataFrame = {
    val cents = Ivf.kmeansCentroids(corpus, idCol, vecCol, k, iters)
    val assigned = CacheScope.persist(
      Ivf.assign(corpus, cents, idCol, vecCol)
        .select(F.col("vec_id"), F.col("centroid_label"))
        .join(corpus.select(F.col(idCol).as("vec_id"), F.col(vecCol).as("_v"),
          Similarity.norm(F.col(vecCol)).as("_n")), "vec_id"))
    val a = assigned.select(F.col("vec_id").as("vec_a"),
      F.col("centroid_label").as("_lbl"), F.col("_v").as("_va"), F.col("_n").as("_na"))
    val b = assigned.select(F.col("vec_id").as("vec_b"),
      F.col("centroid_label").as("_lbl"), F.col("_v").as("_vb"), F.col("_n").as("_nb"))
    val pairs = a.join(b, "_lbl")
      .filter(F.col("vec_a") < F.col("vec_b"))
      .select(F.col("vec_a"), F.col("vec_b"),
        F.round(Similarity.dot(F.col("_va"), F.col("_vb"))
          / (F.col("_na") * F.col("_nb")), 6).as("cos"))
      .filter(F.col("cos") >= minCosine)
    // pointer-jumping CC, not plain propagation: a cosine-threshold
    // graph over a clustered corpus is a sprawling random graph whose
    // component diameter grows with cluster population (measured ~7 s
    // of propagation rounds at sf0.1) — the O(log n)-round variant
    // converges in a handful of rounds regardless of diameter
    val cc = connectedComponentsStarContract(pairs, "vec_a", "vec_b")
      .withColumnRenamed("doc_id", "vec_id")
    assigned.select(F.col("vec_id"), F.col("centroid_label"))
      .join(cc, Seq("vec_id"), "left")
      .select(F.col("vec_id"), F.col("centroid_label"),
        F.when(F.col("cluster_id").isNull || F.col("cluster_id") === F.col("vec_id"), 1L)
          .otherwise(0L).as("keep"))
  }

  /** Scale composition for duplicate-heavy corpora: collapse exact
    * duplicates to one representative (min id) FIRST, then run n-gram
    * Jaccard among unique texts only. A corpus with d copies per doc
    * costs d² in the naive shingle join but 1× here — pair results are
    * between representatives; join back to [[exactGroups]] to expand.
    *
    * Collapse shape (one pass, the 100 TB-right one): groupBy on the
    * 16-byte BINARY md5 (`unhex` — half the key bytes of the hex
    * string), map-side partial agg keeps ONE text per group per task,
    * so the shuffle carries each distinct text once. The two-pass
    * alternative (hash→min-id winners, then a semi-join back on id)
    * was profiled and rejected: the semi-join shuffles the text column
    * anyway PLUS a second corpus scan. (r5 profile at sf0.1: this
    * variant runs at ~1× `ngram_jaccard_capped` in isolation — the
    * 7.3 s r4 full-suite outlier was JVM-context noise, not plan cost.) */
  def ngramJaccardPairsUnique(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = Some(1000)): DataFrame = {
    val uniq = docs
      .groupBy(F.unhex(F.md5(F.col(textCol))).as("_th"))
      .agg(F.min(F.col(idCol)).as(idCol), F.first(F.col(textCol)).as(textCol))
      .drop("_th")
    ngramJaccardPairs(uniq, idCol, textCol, shingleN, minJaccard, maxDocFreq)
  }

  /** Connected components over a near-dup PAIR graph → per-doc cluster
    * id (the min doc id of its component). This is the step every
    * production dedup pipeline needs between candidate pairs (D3–D5)
    * and keep/drop decisions: near-duplication is transitive in intent
    * (A≈B, B≈C ⇒ keep one of {A,B,C}) but pairs alone only say A–B.
    *
    * Distributed min-label propagation: each round every vertex takes
    * the min of its own label and its neighbors' labels — one shuffle
    * per round over (edges ⋈ labels), converging in O(component
    * diameter) rounds. Dedup graphs are band-bucket cliques stitched by
    * shared members (diameter ≲ 5), so rounds stay single digits at any
    * scale; the per-round cost is linear in |edges|. (For adversarial
    * long-path graphs you'd switch to pointer-jumping / large-star
    * small-star — O(log n) rounds — which this API could adopt without
    * signature change.) The per-round lineage cut, free and convergence
    * test are [[CacheScope.iterate]]'s `changed`-column policy: the
    * loop's one job per round materializes the round and returns whether
    * any label changed.
    *
    * Output: (doc_id, cluster_id) for every vertex that appears in ≥ 1
    * pair. Isolated docs are absent — join back against the corpus with
    * a coalesce(cluster_id, doc_id) for the full assignment.
    *
    * BEHAVIOR CHANGE (r4): non-convergence now THROWS
    * `IllegalStateException` instead of returning the best-effort
    * labelling — a silent cut-off splits one true component into
    * several "clusters" with no signal. Callers on graphs whose
    * diameter may exceed `maxRounds` must either raise it (rounds are
    * cheap: one shuffle each) or use [[connectedComponentsStarContract]]
    * (O(log n) rounds on any topology). Note the loop runs up to
    * `maxRounds + 1` rounds: convergence is only observable via a
    * confirming no-change round.
    *
    * `localThreshold` (r5): when the DEDUPLICATED edge list is at most
    * this many rows (and vertex ids are integral), the components are
    * finished with driver-side union-find instead of iterating — the
    * hybrid every production CC uses (distributed while big, local
    * when metadata-sized). A dedup pair graph is the heavily-reduced
    * OUTPUT of LSH/blocking; when it fits in tens of MB, per-round job
    * scheduling dominates any distributed loop (measured: 6 s of
    * rounds for a 1 706-edge graph vs 0.2 s of union-find). The
    * default cutoff (100k edges ≈ 1.6 MB collected) is deliberately
    * conservative; pass 0 to force the distributed loop. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 25, localThreshold: Long = 100000L): DataFrame = {
    val edges = Graph.undirected(pairs, aCol, bCol, assumeUnique = false)
    val finishedLocally = localFinish(pairs, edges, aCol, localThreshold)
    if (finishedLocally.isDefined) return finishedLocally.get
    val init = CacheScope.persist(
      edges.select(F.col("src").as("v")).distinct()
        .withColumn("lbl", F.col("v")))
    // maxRounds + 1: convergence is only OBSERVABLE via a round with no
    // improvement, so a graph whose last improvement lands exactly in
    // round maxRounds needs one confirming round — without it a
    // provably-final labelling would be reported as unconverged
    val (last, converged, _) = CacheScope.iterate(init, maxRounds + 1)(
      ccRound(edges), changed = Some("_changed"))
    // a silent cut-off would split one true component into several
    // "clusters" with no signal (a 30-hop drift chain at maxRounds=25
    // reports two representatives of one duplicate family) — fail loud,
    // the caller raises maxRounds or switches to pointer-jumping
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after ${maxRounds + 1} rounds " +
          s"(maxRounds=$maxRounds + 1 confirming round) — a component's " +
          "diameter exceeds maxRounds; raise maxRounds (rounds are cheap: " +
          "one shuffle each) or use connectedComponentsStarContract " +
          "(O(log n) rounds) for this graph")
    last.select(F.col("v").as("doc_id"), F.col("lbl").as("cluster_id"))
  }

  /** One [[connectedComponents]] round over doubled edges (src, dst):
    * labels (v, lbl) → (v, lbl, _changed), the min over {own label} ∪
    * {neighbor labels}. */
  private[graft] def ccRound(edges: DataFrame)(labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.withColumnRenamed("v", "src"), "src")
      .groupBy(F.col("dst").as("v"))
      .agg(F.min(F.col("lbl")).as("_nlbl"))
    labels.join(neighborMin, Seq("v"), "left")
      .select(F.col("v"),
        F.least(F.col("lbl"), F.coalesce(F.col("_nlbl"), F.col("lbl"))).as("lbl"),
        (F.col("_nlbl") < F.col("lbl")).as("_changed"))
  }

  /** One [[connectedComponentsStarContract]] round: jump, then
    * propagate; (v, lbl) → (v, lbl, _changed). */
  private[graft] def ccStarRound(edges: DataFrame)(labels: DataFrame): DataFrame = {
    // 1. jump: follow the label's own label — a self-join of the
    // MATERIALIZED previous round (checkpointed partitions, so the
    // two branches re-read, never recompute). A label always names a
    // tracked vertex (ids only ever come from the label column), so
    // the inner join cannot drop rows.
    val jumpTo = labels.select(F.col("v").as("_jv"), F.col("lbl").as("_jlbl"))
    val jumped = labels.join(jumpTo, F.col("lbl") === F.col("_jv"))
      .select(F.col("v"),
        F.col("_jlbl").as("lbl"),
        (F.col("_jlbl") < F.col("lbl")).as("_c1"))
    // 2. propagate: min over {own label} ∪ {neighbor labels}. `jumped`
    // feeds both branches — one edges⋈jumped shuffle plus the merge.
    val neighborMin = edges
      .join(jumped.select(F.col("v").as("src"), F.col("lbl")), "src")
      .groupBy(F.col("dst").as("v"))
      .agg(F.min(F.col("lbl")).as("_nlbl"))
    jumped.join(neighborMin, Seq("v"), "left")
      .select(F.col("v"),
        F.least(F.col("lbl"), F.coalesce(F.col("_nlbl"), F.col("lbl"))).as("lbl"),
        (F.col("_c1") || (F.col("_nlbl") < F.col("lbl"))).as("_changed"))
  }

  /** Small-graph finishing layer shared by both CC variants: when the
    * deduplicated (doubled) edge list is within `localThreshold` rows
    * and vertex ids are integral, collect it (≤ 2·threshold rows of
    * two longs — metadata-sized BY CONSTRUCTION of the cutoff) and run
    * union-find with path compression on the driver; labels are the
    * component min, identical to the converged distributed loop.
    * Returns None when the graph is too big or ids aren't integral —
    * callers fall through to the distributed iteration. */
  private def localFinish(pairs: DataFrame, edges: DataFrame, aCol: String,
      localThreshold: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
    val aType = pairs.schema(aCol).dataType
    if (localThreshold <= 0 || !integral.contains(aType)) return None
    if (edges.count() > 2 * localThreshold) return None
    val es = edges
      .select(F.col("src").cast("long"), F.col("dst").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != cur) {
        val nxt = parent(cur); parent(cur) = root; cur = nxt
      }
      root
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by MIN root: labels stay the component min
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    val vertices = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val labels = vertices.toSeq.sorted.map(v => (v, find(v)))
    val spark = pairs.sparkSession
    import spark.implicits._
    Some(labels.toDF("doc_id", "cluster_id")
      .select(F.col("doc_id").cast(aType), F.col("cluster_id").cast(aType)))
  }

  /** Connected components by min-label propagation + POINTER JUMPING —
    * the O(log n)-round variant for adversarial-diameter graphs (long
    * drift chains), same signature and output as
    * [[connectedComponents]] (which stays the default: dedup graphs are
    * low-diameter band cliques where plain propagation needs fewer
    * shuffles per round).
    *
    * Each round is two steps:
    *   1. propagate — `lbl(v) := min(lbl(v), min_{u∈N(v)} lbl(u))`
    *      (the hooking step: one edges⋈labels shuffle);
    *   2. jump — `lbl(v) := lbl(lbl(v))` (the Shiloach–Vishkin
    *      shortcut: one labels⋈labels shuffle).
    * Propagation moves a label one hop; jumping re-points v at where
    * its label has ALREADY moved, so label reach doubles per round —
    * a D-hop path converges in O(log D) rounds instead of D.
    * Correctness invariants: labels are ids of same-component vertices,
    * non-increasing, bounded below by the component min (which labels
    * itself forever), so the fixpoint — no neighbor smaller, jump a
    * no-op — is exactly "every vertex labelled its component min".
    * Same [[CacheScope.iterate]] round policy, loud non-convergence and
    * small-graph union-find finishing (`localThreshold`) as the
    * propagation variant. */
  def connectedComponentsStarContract(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 40,
      localThreshold: Long = 100000L): DataFrame = {
    val edges = Graph.undirected(pairs, aCol, bCol, assumeUnique = false)
    val finishedLocally = localFinish(pairs, edges, aCol, localThreshold)
    if (finishedLocally.isDefined) return finishedLocally.get
    val init = CacheScope.persist(
      edges.select(F.col("src").as("v")).distinct()
        .withColumn("lbl", F.col("v")))
    val (last, converged, _) = CacheScope.iterate(init, maxRounds + 1)(
      ccStarRound(edges), changed = Some("_changed"))
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStarContract did not converge after " +
          s"${maxRounds + 1} rounds (maxRounds=$maxRounds + 1 confirming " +
          "round) — rounds double label reach, so this indicates a " +
          "component of diameter > 2^maxRounds or a bug; raise maxRounds")
    last.select(F.col("v").as("doc_id"), F.col("lbl").as("cluster_id"))
  }

  // ---------------------------------------------------- incremental dedup
  /** Incremental (batch-vs-store) exact dedup: classify each incoming
    * document against a fingerprint store of previously-accepted docs —
    * the shape of a CONTINUOUSLY-INGESTING corpus, where re-scanning the
    * whole corpus per batch is not an option.
    *
    * Status per incoming doc:
    *  - `dup_store` — fingerprint already in the store;
    *  - `dup_batch` — new to the store but a lower-id doc in the SAME
    *    batch carries the fingerprint;
    *  - `new`       — the batch winner; what gets appended to the store.
    *
    * Scale shape: one distinct on the store side and one shuffle join on
    * the fingerprint key (both map-side combined), plus one batch-keyed
    * aggregate for the within-batch winner. The batch is typically ≪
    * the store, so at cluster scale the planner's broadcast threshold /
    * AQE can flip the join build side automatically; nothing here
    * assumes either side fits in memory. */
  def incrementalDedup(
      incoming: DataFrame, store: DataFrame,
      idCol: String, textCol: String, storeFpCol: String): DataFrame = {
    val inFp = incoming.select(
      F.col(idCol).as("doc_id"), fingerprint(F.col(textCol)).as("fingerprint"))
    val storeFps = store.select(F.col(storeFpCol).as("fingerprint"))
      .distinct().withColumn("_in_store", F.lit(1L))
    val winner = inFp.groupBy("fingerprint")
      .agg(F.min("doc_id").as("_keep_id"))
    inFp
      .join(storeFps, Seq("fingerprint"), "left")
      .join(winner, Seq("fingerprint"))
      .select(
        F.col("doc_id"), F.col("fingerprint"),
        F.when(F.col("_in_store") === 1L, "dup_store")
          .when(F.col("doc_id") =!= F.col("_keep_id"), "dup_batch")
          .otherwise("new").as("status"))
  }

  // --------------------------------------------------------- line dedup
  /** CCNet-style line-level dedup (Wenzek et al. 2020): drop every LINE
    * that occurs in more than `maxDocFreq` distinct documents — the
    * standard boilerplate-removal move (navigation bars, cookie
    * banners, legal footers repeat across a crawl; prose does not) —
    * and reassemble each document from its surviving lines in order.
    *
    * Scale shape: one Generate (posexplode on the separator split),
    * line doc-frequencies from a distinct + count pair of
    * map-side-combined shuffles keyed on the 8-byte line hash, one
    * join back on that hash, and a final doc-keyed aggregate. The
    * reassembly buffer holds ONE DOCUMENT's own lines (bounded by the
    * input row, the same state any per-doc transform carries), never a
    * cross-document group. The exploded line frame is persisted — the
    * df aggregate and the join-back both consume it.
    *
    * Line identity is the 60-bit md5 hash ([[Hashing.hash60]]) so the
    * df join moves 8-byte keys, not line strings. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDocFreq: Int = 5): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = CacheScope.persist(
      docs.select(F.col(idCol).as("doc_id"),
          F.posexplode(F.split(F.col(textCol), java.util.regex.Pattern.quote(sep)))
            .as(Seq("line_idx", "line")))
        .withColumn("_lh", Hashing.hash60(F.col("line"))))
    val df = lines.select("doc_id", "_lh").distinct()
      .groupBy("_lh").agg(F.count(F.lit(1)).as("_df"))
    val keep = F.col("_df") <= maxDocFreq
    lines.join(df, "_lh")
      .groupBy("doc_id")
      .agg(
        F.count(F.lit(1)).as("n_lines"),
        F.sum(F.when(keep, 1L).otherwise(0L)).as("n_kept"),
        F.concat_ws(sep,
          F.transform(
            F.array_sort(F.collect_list(
              F.when(keep, F.struct(F.col("line_idx"), F.col("line"))))),
            x => x.getField("line"))).as("clean_text"))
      .withColumn("removed_frac",
        F.round((F.col("n_lines") - F.col("n_kept")).cast("double") /
          F.col("n_lines"), 6))
  }

  // ---------------------------------------------------- tf-idf cosine
  /** Sparse TF-IDF cosine near-dup pairs over the shared-term inverted
    * index — the lexical-similarity step between exact fingerprints
    * (order-sensitive) and embeddings (model-dependent). Pairs are
    * generated by a self-join keyed on the TERM (never a cross join);
    * `maxDocFreq` caps the index before the join, so a stopword shared
    * by d documents can never contribute d² join rows (same quadratic
    * guard as [[ngramJaccardPairs]], default ON).
    *
    * Weights are INTEGER surprisal TF-IDF: w = tf · (⌊log₂ N⌋ −
    * ⌊log₂ df⌋) via [[TextOps.floorLog2]] — dot products and norms are
    * exact long arithmetic, so the only floating-point ops are the
    * final sqrt and divide (both correctly-rounded IEEE, bit-portable
    * across engines; a float idf would drift by ULPs in the sums).
    *
    * The weighted index is persisted: norms and both join sides consume
    * it. Zero-norm docs (every term capped out or at idf 0) are
    * excluded — their cosine is 0/0. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      minCosine: Double = 0.5, maxDocFreq: Int = 1000): DataFrame = {
    val tf = docs
      .select(F.col(idCol).as("doc_id"), TextOps.tokens(F.col(textCol)).as("_toks"))
      .select(F.col("doc_id"), F.explode(F.col("_toks")).as("term"))
      .groupBy("doc_id", "term").agg(F.count(F.lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(F.count(F.lit(1)).as("_df"))
      .filter(F.col("_df") <= maxDocFreq)
    val nDocs = docs.agg(F.count(F.lit(1)).as("_n"))
    val w = CacheScope.persist(
      tf.join(df, "term").crossJoin(F.broadcast(nDocs))
        .select(F.col("doc_id"), F.col("term"),
          (F.col("tf") *
            (TextOps.floorLog2(F.col("_n")) - TextOps.floorLog2(F.col("_df"))))
            .as("w")))
    val norms = w.groupBy("doc_id")
      .agg(F.sum(F.col("w") * F.col("w")).as("_n2"))
      .filter(F.col("_n2") > 0)
    val num = w.select(F.col("doc_id").as("doc_a"), F.col("term"), F.col("w").as("_wa"))
      .join(w.select(F.col("doc_id").as("doc_b"), F.col("term"), F.col("w").as("_wb")),
        "term")
      .filter(F.col("doc_a") < F.col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(F.sum(F.col("_wa") * F.col("_wb")).as("_num"))
    num
      .join(norms.select(F.col("doc_id").as("doc_a"), F.col("_n2").as("_n2a")), "doc_a")
      .join(norms.select(F.col("doc_id").as("doc_b"), F.col("_n2").as("_n2b")), "doc_b")
      .withColumn("cosine",
        F.round(F.col("_num").cast("double") /
          F.sqrt(F.col("_n2a").cast("double") * F.col("_n2b")), 6))
      .filter(F.col("cosine") >= minCosine)
      .select("doc_a", "doc_b", "cosine")
  }

  // ------------------------------------------------------ priority dedup
  /** Source-priority dedup: among documents sharing a fingerprint, keep
    * the one from the highest-priority source ("prefer curated over
    * crawled"), tie-breaking on min doc_id. Unlisted sources rank below
    * every listed one.
    *
    * Scale shape: ONE aggregate on the fingerprint key — the winner is
    * an O(1)-state min(struct(−priority, doc_id, source)) with map-side
    * partial aggregation, NOT a corpus-wide row_number window (which
    * would sort every group's members; the struct-min carries one row
    * per group per task across the shuffle). */
  def priorityDedup(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      priorities: Map[String, Int]): DataFrame = {
    val prio = priorities.foldRight(F.lit(0): Column) { case ((k, v), els) =>
      F.when(F.col(sourceCol) === k, F.lit(v)).otherwise(els)
    }
    docs
      .select(fingerprint(F.col(textCol)).as("fingerprint"),
        F.struct((-prio).cast("long").as("_np"),
          F.col(idCol).cast("long").as("id"),
          F.col(sourceCol).as("src")).as("_w"))
      .groupBy("fingerprint")
      .agg(F.min("_w").as("_win"), F.count(F.lit(1)).as("n_members"))
      .select(
        F.col("fingerprint"),
        F.col("_win.id").as("keep_id"),
        F.col("_win.src").as("keep_source"),
        F.col("n_members"))
  }

  // ------------------------------------------------------- split leakage
  /** Train/holdout leakage audit: hash-split the corpus, fingerprint
    * both sides, and count holdout documents whose fingerprint also
    * appears in train — the pre-training check that the eval split isn't
    * memorizable from the training set.
    *
    * Single-pass shape: ONE shuffle on the fingerprint key producing
    * per-fingerprint (train_count, holdout_count) pairs, then a
    * metadata-sized global aggregate. No self-join, no second corpus
    * scan — the naive formulation (distinct train fingerprints
    * semi-joined against holdout) scans the corpus twice. */
  def splitLeakage(
      docs: DataFrame, idCol: String, textCol: String,
      splits: Int = 10, holdoutBucket: Int = 9): DataFrame = {
    require(holdoutBucket >= 0 && holdoutBucket < splits,
      s"holdoutBucket must be in [0, $splits), got $holdoutBucket")
    val isHoldout =
      F.pmod(Hashing.hash60(F.col(idCol).cast("string")), F.lit(splits.toLong)) ===
        holdoutBucket.toLong
    val perFp = docs
      .select(fingerprint(F.col(textCol)).as("fingerprint"),
        F.when(isHoldout, 1L).otherwise(0L).as("_h"))
      .groupBy("fingerprint")
      .agg(F.sum(F.lit(1L) - F.col("_h")).as("_train_c"),
        F.sum("_h").as("_holdout_c"))
    // coalesce: global sums over an EMPTY corpus are null, which would
    // surface a null audit row instead of zero counts
    perFp.agg(
      F.coalesce(F.sum("_train_c"), F.lit(0L)).as("n_train"),
      F.coalesce(F.sum("_holdout_c"), F.lit(0L)).as("n_holdout"),
      F.coalesce(
        F.sum(F.when(F.col("_train_c") > 0, F.col("_holdout_c")).otherwise(0L)),
        F.lit(0L)).as("n_leaked"))
      .select(
        F.col("n_train"), F.col("n_holdout"), F.col("n_leaked"),
        F.round(F.col("n_leaked").cast("double") /
          F.greatest(F.col("n_holdout"), F.lit(1L)), 6).as("leak_frac"))
  }
}
