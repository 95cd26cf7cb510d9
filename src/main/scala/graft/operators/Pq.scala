package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Product quantization (PQ) for embedding compression + approximate
  * MIPS search [Jégou et al. 2011, "Product Quantization for Nearest
  * Neighbor Search"]: split each vector into `m` subvectors, learn a
  * tiny codebook per subspace, and store each vector as `m` small codes
  * — the memory step BEYOND int8 scalar quantization (64 float dims →
  * m=4 bytes is 64×), which is what makes a 100 TB embedding corpus
  * index fit a cluster's RAM.
  *
  * Scale shape:
  *  - [[codebooks]] — m runs of the deterministic Lloyd quantizer
  *    ([[Ivf.kmeansCentroids]]) over sliced subvectors; each iteration
  *    is a narrow broadcast-literal assignment + one mean shuffle. At
  *    100 TB pass `trainFraction` so codebooks train on a hash-sampled
  *    slice (codebook quality needs ~100k vectors, not the corpus).
  *  - [[encode]] — one Generate (m subvectors per row) + a broadcast
  *    join against the m·k codebook rows; the per-(vector, subspace)
  *    winner is an O(1)-state max(struct) aggregate, never a window
  *    sort; codes reassemble per vector (m elements — bounded).
  *  - [[adcTopK]] — asymmetric distance computation: the query-side
  *    lookup table (m·k partial dot products per query) is computed
  *    once and BROADCAST; scoring the corpus is then a pure lookup
  *    join + sum — no per-candidate dot products at all, the whole
  *    point of ADC.
  *
  * Determinism: partial dots are floored into integer MICRO-units
  * (floor(dot·1e6) — floor of an identical double is engine-unambiguous
  * where rounding a decimal cast is not), so ADC scores are exact long
  * sums needing no cross-engine float discipline; codebooks inherit the
  * float32-cast means and (cos, min-key) tie-breaks of the k-means
  * quantizer. */
object Pq {

  /** Per-subspace codebooks: (sub, ckey, centroid float[subDim]).
    * `trainFraction` < 1 trains every subspace quantizer on the same
    * deterministic hash-sample (see [[Ivf.kmeansCentroids]]) — the
    * 100 TB configuration promised in the scale notes above; default
    * 1.0 keeps the exact-oracle behavior. */
  def codebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, subDim: Int = 16, k: Int = 4, iters: Int = 2,
      trainFraction: Double = 1.0): DataFrame = {
    val subs = (0 until m).map { s =>
      val sliced = corpus.select(F.col(idCol),
        F.slice(F.col(vecCol), s * subDim + 1, subDim).as("_sub"))
      Ivf.kmeansCentroids(sliced, idCol, "_sub", k, iters, trainFraction)
        .withColumn("sub", F.lit(s))
    }
    subs.reduce(_ unionByName _).select("sub", "ckey", "centroid")
  }

  /** PQ-encode the corpus: (vec_id, codes array<long>[m]). */
  def encode(corpus: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val exploded = corpus.select(F.col(idCol).as("vec_id"),
      F.posexplode(F.array((0 until m).map(s =>
        F.slice(F.col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "_sv")))
    exploded.join(F.broadcast(codebooks), "sub")
      .select(F.col("vec_id"), F.col("sub"),
        F.struct(
          Similarity.cosine(F.col("_sv"), F.col("centroid")).as("cos"),
          (-F.col("ckey")).cast("long").as("_nk")).as("_s"))
      .groupBy("vec_id", "sub").agg(F.max("_s").as("_b"))
      .groupBy("vec_id")
      .agg(F.transform(
        F.array_sort(F.collect_list(
          F.struct(F.col("sub"), (-F.col("_b._nk")).as("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** ADC top-k: approximate dot(query, vector) ≈ Σ_sub table lookup,
    * in integer micro-units. Queries must be small (the lookup table
    * broadcasts); the corpus side is one code explode + one
    * (query, match) aggregate — never a per-candidate dot product. */
  def adcTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    graft.functions.VectorFunctions.register(codes.sparkSession)
    val qsub = queries.select(F.col(idCol).as("query_id"),
      F.posexplode(F.array((0 until m).map(s =>
        F.slice(F.col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "_qv")))
    val table = qsub.join(codebooks, "sub")
      .select(F.col("query_id"), F.col("sub"),
        F.col("ckey").cast("long").as("code"),
        F.floor(Similarity.dot(F.col("_qv"), F.col("centroid")) * 1e6)
          .cast("long").as("_p"))
    val ccodes = codes.select(F.col("vec_id").as("match_id"),
      F.posexplode(F.col("codes")).as(Seq("sub", "code")))
    val scored = ccodes.join(F.broadcast(table), Seq("sub", "code"))
      .filter(F.col("match_id") =!= F.col("query_id"))
      .groupBy("query_id", "match_id")
      .agg(F.sum("_p").as("score_micro"))
    Retrieval.rank(scored, "query_id", F.col("score_micro").desc,
        "match_id", k)
      .select("query_id", "rank", "match_id", "score_micro")
  }

  /** The composed production ANN index — FAISS-style IVFPQ [Jégou et
    * al. 2011 §V]: route each query to its `nprobe` nearest IVF lists,
    * ADC-score ONLY those lists' PQ codes, then exact-rerank the
    * shortlist: [[Retrieval.route]] → ADC → [[Retrieval.rank]] →
    * [[Retrieval.rerank]], the shape a 100 TB vector index serves
    * queries in. ADC touches |probed lists| codes instead of the corpus
    * — the list restriction happens BEFORE the lookup join, so the
    * per-query candidate fan-out is bounded by nprobe·list-size, never
    * corpus size. Scores are integer-micro ADC partial dots. Returns
    * (query_id, rank, match_id, cos) with rank ≤ k by EXACT cosine over
    * the ADC shortlist. */
  def ivfpqTopK(corpus: DataFrame, listCentroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      shortlistK: Int, m: Int = 4, subDim: Int = 16): DataFrame =
    ivfpqServe(corpus,
      Ivf.assign(corpus, listCentroids, idCol, vecCol),
      encode(corpus, codebooks, idCol, vecCol, m, subDim),
      listCentroids, codebooks, queries,
      idCol, vecCol, k, nprobe, shortlistK, m, subDim)

  /** FAISS-style IVFADC on RESIDUALS [Jégou et al. 2011 §V.A]: the
    * corpus is PQ-encoded as x − centroid(list(x)) instead of raw x —
    * the standard recall win at the same code budget, because residuals
    * concentrate near 0 once the coarse quantizer removes the list
    * mean, so the same m·k codebook spends its precision on what the
    * routing didn't already explain. Serving differs from [[ivfpqServe]]
    * only in the score: dot(q, x) ≈ dot(q, c_list) + dot(q, r̂), i.e.
    * the ADC lookup sum over RESIDUAL codebooks plus a per-(query,
    * probed-list) bias floor(dot(q, c)·1e6) — both integer micros, so
    * scores stay exact long sums. `resCodes`/`resCodebooks` must be
    * built over the residual corpus (see Staged.pqResidualCorpus). */
  def ivfpqResidualServe(corpus: DataFrame, assignments: DataFrame,
      resCodes: DataFrame, listCentroids: DataFrame,
      resCodebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      shortlistK: Int, m: Int = 4, subDim: Int = 16): DataFrame =
    serveCore(corpus, assignments, resCodes, listCentroids, resCodebooks,
      queries, idCol, vecCol, k, nprobe, shortlistK, m, subDim,
      listBias = true)

  /** [[ivfpqTopK]] against a PREBUILT index: `assignments` (vec_id,
    * centroid_label — a prior [[Ivf.assign]]) and `codes` (vec_id,
    * codes — a prior [[encode]]), e.g. staged parquet artifacts. This
    * is the serve half of the build/serve split a production index
    * runs: the corpus-sided build (assign pass + encode pass) happens
    * ONCE at index-build time; each query batch touches only the
    * routed lists' codes plus the broadcast shortlist rerank. Same
    * result as [[ivfpqTopK]] given artifacts built from the same
    * centroids/codebooks. */
  def ivfpqServe(corpus: DataFrame, assignments: DataFrame,
      codes: DataFrame, listCentroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      shortlistK: Int, m: Int = 4, subDim: Int = 16): DataFrame =
    serveCore(corpus, assignments, codes, listCentroids, codebooks,
      queries, idCol, vecCol, k, nprobe, shortlistK, m, subDim,
      listBias = false)

  /** Shared IVF+PQ serve pipeline behind [[ivfpqServe]] (raw codes,
    * `listBias = false`) and [[ivfpqResidualServe]] (residual codes,
    * `listBias = true` — the ADC sum gains the per-(query, probed-list)
    * dot(q, c_list) bias, constant within a (query, match) group since
    * each match lives in exactly one list). */
  private def serveCore(corpus: DataFrame, assignments: DataFrame,
      codes: DataFrame, listCentroids: DataFrame,
      codebooks: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      shortlistK: Int, m: Int, subDim: Int,
      listBias: Boolean): DataFrame = {
    // 1. route queries to their nprobe nearest lists; the residual path
    //    carries each probed list's integer-micro bias along (the raw
    //    path scores each (query, centroid) pair with cosine only)
    val bias =
      if (listBias)
        Seq(F.floor(Similarity.dot(F.col(vecCol), F.col("centroid")) * 1e6)
          .cast("long").as("qc_micro"))
      else Seq.empty
    val probes = Retrieval.route(queries, listCentroids, idCol, vecCol,
      nprobe, bias: _*).drop("cos")
    // 2. the standing index: per-vector list assignment + PQ codes
    val asg = assignments
      .select(F.col("vec_id").as("match_id"), F.col("centroid_label"))
    val ccodes = codes
      .select(F.col("vec_id").as("match_id"),
        F.posexplode(F.col("codes")).as(Seq("sub", "code")))
      .join(asg, "match_id")
    // 3. ADC lookup table per (query, sub, code) — m·k rows per query
    //    (raw query subvectors; against residual codebooks when serving
    //    a residual index)
    val qsub = queries.select(F.col(idCol).as("query_id"),
      F.posexplode(F.array((0 until m).map(s =>
        F.slice(F.col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "_qv")))
    val table = qsub.join(F.broadcast(codebooks), "sub")
      .select(F.col("query_id"), F.col("sub"),
        F.col("ckey").cast("long").as("code"),
        F.floor(Similarity.dot(F.col("_qv"), F.col("centroid")) * 1e6)
          .cast("long").as("_p"))
    // 4. restrict to probed lists FIRST, then lookup-join and sum
    val scored = ccodes
      .join(F.broadcast(probes), "centroid_label")
      .join(F.broadcast(table), Seq("query_id", "sub", "code"))
      .filter(F.col("match_id") =!= F.col("query_id"))
      .groupBy("query_id", "match_id")
      .agg((if (listBias) F.sum("_p") + F.max("qc_micro")
            else F.sum("_p")).as("score_micro"))
    val shortlist = Retrieval.rank(scored, "query_id",
        F.col("score_micro").desc, "match_id", shortlistK)
      .select("query_id", "match_id")
    // 5. exact rerank of the shortlist only
    Retrieval.rerank(shortlist, queries, corpus, idCol, vecCol, k)
  }
}
