package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Embedding similarity search over `Array[Float]` columns.
  *
  * Scale paths:
  *   - [[bruteForceTopK]]: exact top-k vs a *broadcast* query set — the
  *     big side streams once, no shuffle of the corpus.
  *   - [[blockedNearDupPairs]]: threshold pairs within a blocking key.
  *   - [[hyperplaneBuckets]]: random-hyperplane LSH — the 100 TB path:
  *     bucket first (narrow map), then compare only within buckets.
  *
  * Dot products run in double via zip_with+aggregate (codegen'd, no UDF).
  */
object Similarity {

  /** Sequential dot product of two float-array columns, in double —
    * backed by the native codegen'd [[graft.functions.FloatDotProduct]]
    * (same accumulation order as a zip_with/aggregate fold, ~10× faster:
    * primitive loop inside whole-stage codegen, no lambda frames). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.floatDot(a, b)

  def norm(a: Column): Column = F.sqrt(dot(a, a))

  /** Cosine similarity rounded to 6dp (ULP-stable across engines). */
  def cosine(a: Column, b: Column): Column =
    F.round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Exact cosine top-k of the corpus for each query vector. Queries are
    * broadcast (must be small); corpus is scanned once. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val scored = pairs(corpus, queries, idCol, vecCol)
      .select(F.col("query_id"), F.col("match_id"),
        cosine(F.col("_q"), F.col("_c")).as("cos"))
    Retrieval.rank(scored, "query_id", F.col("cos").desc, "match_id", k)
      .select("query_id", "rank", "match_id", "cos")
  }

  /** The self-excluding candidate join of the exact top-k kernels:
    * (match_id, _c, query_id, _q) for every corpus row against every
    * broadcast query but itself. */
  private def pairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, col: String): DataFrame = {
    val q = queries.select(F.col(idCol).as("query_id"), F.col(col).as("_q"))
    val c = corpus.select(F.col(idCol).as("match_id"), F.col(col).as("_c"))
    c.join(F.broadcast(q), F.col("query_id") =!= F.col("match_id"))
  }

  /** 1-bit SIGN quantization — the cheapest rung of the quantization
    * ladder (float32 → int8 → PQ → 1 bit/dim): pack each 64-dim float
    * vector's sign bits into ONE BIGINT (bit i set iff v[i+1] > 0 —
    * nulls and non-positives clear the bit; NaN compares greater than 0
    * in both engines). 64 floats → 8 bytes is 32× compression and
    * Hamming distance becomes ONE xor + popcount per candidate. The
    * packing is `dims` constant IF terms (disjoint bits, so + is
    * bitwise or) — whole-stage codegen, no lambda HOF on the corpus
    * pass.
    *
    * DIMENSION CONTRACT (fail-fast, not silent): every vector must be
    * exactly `dims` long (dims ≤ 64 — one BIGINT of sign bits). A
    * shorter vector would otherwise pack missing positions as 0-bits
    * (element_at out of range is null, IF null clears the bit) and
    * extra dims would be silently ignored — both quietly corrupt every
    * downstream Hamming distance, so a mismatched row raises instead. */
  def signPack(corpus: DataFrame, idCol: String, vecCol: String,
      dims: Int = 64): DataFrame = {
    require(dims >= 1 && dims <= 64,
      s"signPack packs into one BIGINT: dims must be in [1, 64], got $dims")
    val terms = (0 until dims).map(i =>
      s"IF(element_at($vecCol, ${i + 1}) > CAST(0.0 AS FLOAT), " +
        s"shiftleft(1L, $i), 0L)")
    corpus.select(F.col(idCol).as("vec_id"),
      F.expr(
        s"CASE WHEN size($vecCol) = $dims THEN ${terms.mkString(" + ")} " +
          s"ELSE raise_error(concat('signPack: expected $dims-dim vector, " +
          s"got ', CAST(size($vecCol) AS STRING))) END").as("bits"))
  }

  /** Binary-code ANN serve: Hamming-distance shortlist over [[signPack]]
    * codes, then [[Retrieval.rerank]] of the shortlist only (the D14d
    * pattern). The scored pass is ONE codegen'd `bit_count(bits ^ qb)`
    * per (query, candidate) — 8 bytes of state per corpus vector, the
    * cheapest possible first-stage filter at 100 TB. Returns (query_id,
    * rank, match_id, hamming, cos), rank ≤ k by exact cosine.
    *
    * QUERY CONTRACT — queries ⊆ corpus (self-top-k, like the
    * bruteForceTopK family): the rerank resolves each query's float
    * vector from `corpus` itself, so a query_id in `queryCodes` that is
    * absent from `corpus` is silently DROPPED after the Hamming stage
    * rather than erroring. Callers with external query vectors must
    * union them into `corpus`. */
  def binaryTopK(corpus: DataFrame, codes: DataFrame,
      queryCodes: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlistK: Int): DataFrame = {
    val q = queryCodes.select(F.col("vec_id").as("query_id"),
      F.col("bits").as("_qb"))
    val scored = codes.join(F.broadcast(q),
        F.col("query_id") =!= F.col("vec_id"))
      .select(F.col("query_id"), F.col("vec_id").as("match_id"),
        F.expr("CAST(bit_count(bits ^ _qb) AS BIGINT)").as("hamming"))
    val shortlist = Retrieval.rank(scored, "query_id", F.col("hamming").asc,
        "match_id", shortlistK)
      .select("query_id", "match_id", "hamming")
    Retrieval.rerank(shortlist, corpus, corpus, idCol, vecCol, k)
  }

  /** Cosine-threshold near-duplicate pairs within a blocking column. */
  def blockedNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minCosine: Double): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val a = corpus.select(F.col(idCol).as("vec_a"), F.col(vecCol).as("va"),
      F.col(blockCol).as("blk"))
    val b = corpus.select(F.col(idCol).as("vec_b"), F.col(vecCol).as("vb"),
      F.col(blockCol).as("blk"))
    a.join(b, "blk").filter(F.col("vec_a") < F.col("vec_b"))
      .select(F.col("vec_a"), F.col("vec_b"), cosine(F.col("va"), F.col("vb")).as("cos"))
      .filter(F.col("cos") >= minCosine)
  }

  /** Deterministic ±1 hyperplanes: component i of plane p is the low
    * md5 bit of "p,i". Computable identically driver-side and in SQL. */
  def planeSigns(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, i) =>
      if ((Hashing.hash60(s"$p,$i") & 1L) == 1L) 1.0 else -1.0
    }

  /** Random-hyperplane LSH bucket id (0 until 2^planes) per vector.
    * Narrow map only — the downstream near-dup join shuffles on the
    * bucket key instead of comparing all pairs. */
  def hyperplaneBucket(vec: Column, signs: Array[Array[Double]]): Column = {
    val bits = signs.zipWithIndex.map { case (plane, p) =>
      // ±1 is exact in float, so the native float dot is identical to the
      // double-plane fold the oracle computes
      val planeCol = F.array(plane.map(v => F.lit(v.toFloat)): _*)
      val d = dot(vec, planeCol)
      F.when(d > 0, F.lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  def hyperplaneBuckets(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, dim: Int = 64): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    corpus.select(F.col(idCol).as("vec_id"),
      hyperplaneBucket(F.col(vecCol), planeSigns(planes, dim)).as("bucket"))
  }

  // ------------------------------------------------------- normalization
  /** L2-normalize an embedding column to unit vectors (cosine search
    * over unit vectors degrades to a plain dot product — one multiply
    * fewer per candidate at query time). Pure narrow map, no shuffle.
    * Every step is bit-portable IEEE (sequential double dot, correctly-
    * rounded sqrt, per-element division); components are rounded to 6dp
    * only so downstream hashes tolerate engines that print doubles
    * differently. Zero vectors yield null components (try_divide: ANSI
    * mode would otherwise throw on the 0/0) — kept, so callers can
    * filter explicitly. */
  def l2Normalize(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    // materialize the norm BEFORE the transform: ArrayTransform
    // re-evaluates its lambda body per element, so an inlined norm would
    // cost a full dot product + sqrt per COMPONENT (O(dim²) per row —
    // the same per-element re-evaluation trap TextOps.shinglesOf
    // documents); a column reference is evaluated once per row
    corpus
      .select(F.col(idCol).as("vec_id"), F.col(vecCol).as("_v"),
        norm(F.col(vecCol)).as("_n"))
      .select(
        F.col("vec_id"),
        F.round(F.col("_n"), 6).as("l2_norm"),
        F.transform(F.col("_v"),
          x => F.round(F.try_divide(x.cast("double"), F.col("_n")), 6)).as("unit"))

  /** Integer dot product of two long-array columns (quantized vectors)
    * — exact integer arithmetic, so scores are engine-portable with no
    * rounding discipline at all. Backed by the native codegen'd
    * [[graft.functions.LongDotProduct]] (primitive loop in whole-stage
    * codegen; the zip_with/aggregate fold boxes every element). */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.longDot(a, b)

  /** Exact top-k by int8-quantized dot product vs a broadcast query set
    * — the cheap first stage of a quantize → shortlist → float-rerank
    * pipeline. Same scale shape as [[bruteForceTopK]] (corpus streams
    * once, no corpus shuffle) but the scoring inner loop is integer
    * multiply-adds over 4×-smaller vectors. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qCol: String, k: Int): DataFrame = {
    val scored = pairs(corpus, queries, idCol, qCol)
      .select(F.col("query_id"), F.col("match_id"),
        intDot(F.col("_q"), F.col("_c")).as("score"))
    Retrieval.rank(scored, "query_id", F.col("score").desc, "match_id", k)
      .select("query_id", "rank", "match_id", "score")
  }

  // -------------------------------------------------------- quantization
  /** Int8 scalar quantization against per-dimension corpus min/max —
    * the classic 4× memory cut before ANN indexing (float32 → int8 per
    * component): q_i = clamp(floor((x_i − min_i)·255/(max_i − min_i)),
    * 0, 255) − 128, with constant dimensions mapping to −128.
    *
    * Scale shape: pass 1 aggregates per-dimension min/max via posexplode
    * — ONE shuffle on ≤ dim keys (dim is 64–4096, metadata-sized);
    * the 2·dim doubles come back as a one-row broadcast; pass 2 is a
    * narrow map over the corpus. floor (not round) keeps the bucket
    * function unambiguous across engines. */
  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = corpus
      .select(F.posexplode(F.col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(
        F.min(F.col("x").cast("double")).as("mn"),
        F.max(F.col("x").cast("double")).as("mx"))
      .agg(
        F.transform(F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("mn")))),
          s => s.getField("mn")).as("mins"),
        F.transform(F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("mx")))),
          s => s.getField("mx")).as("maxs"))
    corpus.crossJoin(F.broadcast(stats))
      .select(
        F.col(idCol).as("vec_id"),
        F.transform(F.col(vecCol), (x, i) => {
          val mn = F.element_at(F.col("mins"), i + 1)
          val mx = F.element_at(F.col("maxs"), i + 1)
          (F.when(mx === mn, F.lit(0L)).otherwise(
            F.least(F.lit(255L), F.greatest(F.lit(0L),
              F.floor((x.cast("double") - mn) * 255.0 / (mx - mn))))) - 128L)
        }).as("q"))
  }
}
