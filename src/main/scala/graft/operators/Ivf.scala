package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** IVF-style approximate nearest neighbour: coarse-quantize the corpus
  * into centroid lists, then search only the lists nearest to the query
  * (the 100 TB scale path — a brute-force scan touches every vector;
  * IVF touches `nprobe / nlists` of them). Routing and ranking are
  * [[Retrieval.route]] and [[Retrieval.rank]].
  *
  * Centroids here come from any labelling (a clustering column, a prior
  * k-means, a category) — [[centroidsByKey]] computes the mean vector
  * per key. Components are cast to float32, which absorbs the ±1-ULP
  * double drift of unordered averaging and keeps results engine-portable.
  */
object Ivf {

  /** Mean embedding per key → (ckey, centroid float32[dim]).
    * Two shuffles ((key,pos) then key), both with partial aggregation. */
  def centroidsByKey(corpus: DataFrame, keyCol: String, vecCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    corpus
      .select(F.col(keyCol).as("ckey"), F.posexplode(F.col(vecCol)).as(Seq("pos", "v")))
      .groupBy("ckey", "pos")
      .agg(F.avg(F.col("v").cast("double")).as("cv"))
      .groupBy("ckey")
      .agg(F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("cv")))),
        s => s.getField("cv").cast("float")).as("centroid"))
      // k tiny rows referenced by several branches (corpus assign + query
      // probes): persist so the two-shuffle mean never re-runs
      .transform(CacheScope.persist)
  }

  /** Deterministic Lloyd k-means quantizer (the self-contained IVF
    * path when no natural clustering column exists).
    *
    * Determinism: seeds are the k vectors with the smallest
    * (hash60(id), id); each iteration assigns by cosine against
    * DRIVER-COLLECTED centroid literals (k·dim doubles — tiny), so
    * assignment is a narrow map with no join, then recomputes means in
    * one shuffle. iters·2 jobs total; corpus is never collected.
    *
    * `trainFraction` < 1 trains on a DETERMINISTIC hash-sample of the
    * corpus (hash60(id) mod 1e6 < frac·1e6 — the same portable sampler
    * as `sample_hash`): codebook quality needs ~100k vectors, not the
    * corpus, so at 100 TB every Lloyd iteration scanning the full data
    * is pure waste. The sample is persisted across iterations (iters
    * scans of the sample, ONE of the corpus). Seeds come from the same
    * sample, so the result is identical to running on the pre-filtered
    * corpus. Default 1.0 preserves the exact-oracle configuration. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5, trainFraction: Double = 1.0): DataFrame = {
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._

    val train =
      if (trainFraction >= 1.0) corpus
      else CacheScope.persist(corpus.filter(
        Hashing.hash60(F.col(idCol).cast("string")) % 1000000L <
          F.lit(math.floor(trainFraction * 1e6).toLong)))

    def collectVecs(df: DataFrame, col: String): Array[Array[Float]] =
      df.select(col).collect().map(_.getSeq[Float](0).toArray)

    var centroids: Array[Array[Float]] = collectVecs(
      train.orderBy(Hashing.hash60(F.col(idCol).cast("string")), F.col(idCol))
        .limit(k), vecCol)

    // empty corpus → zero seeds; the assignment expression below would
    // otherwise build an untyped empty array and fail analysis
    if (centroids.isEmpty)
      return Seq.empty[(Int, Seq[Float])].toDF("ckey", "centroid")
        .select(F.col("ckey"), F.col("centroid").cast("array<float>"))

    for (_ <- 1 to iters) {
      val scored = (0 until centroids.length).map { i =>
        val c = F.array(centroids(i).map(F.lit): _*)
        // struct(cos, -idx): array_max picks highest cos, ties → lowest idx
        F.struct(Similarity.cosine(F.col(vecCol), c).as("cos"),
          F.lit(-i).as("negIdx"))
      }
      val best = F.array_max(F.array(scored: _*))
      val assigned = train.select(F.col(vecCol).as("v"),
        (-best.getField("negIdx")).as("ck"))
      val means = assigned
        .select(F.col("ck"), F.posexplode(F.col("v")).as(Seq("pos", "x")))
        .groupBy("ck", "pos").agg(F.avg(F.col("x").cast("double")).as("m"))
        .groupBy("ck")
        .agg(F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
        .orderBy("ck")
      // ONE collect for keys and vectors (a second collect would re-run
      // the whole assignment + aggregation)
      val byCk = means.collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      // empty clusters keep their previous centroid
      centroids = centroids.indices.map(i => byCk.getOrElse(i, centroids(i))).toArray
    }
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ckey", "centroid")
      .select(F.col("ckey"), F.col("centroid").cast("array<float>"))
  }

  /** Assign each vector to its nearest centroid: [[Retrieval.route]]
    * with one probe, (vec_id, centroid_label, cos). */
  def assign(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    Retrieval.route(corpus, centroids, idCol, vecCol, 1)
      .withColumnRenamed("query_id", "vec_id")

  /** ANN search: probe the `nprobe` centroid lists nearest each query,
    * rank candidates by true cosine. Corpus shuffles once on its
    * assigned list; queries (small) broadcast. Builds the list
    * assignment inline — production serving should prefer
    * [[searchAssigned]] against a PERSISTED assignment (build once,
    * serve many; at 100 TB the assign pass is a full-corpus broadcast
    * map you don't want under every query batch). */
  def search(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    searchAssigned(corpus, assign(corpus, centroids, idCol, vecCol),
      centroids, queries, idCol, vecCol, k, nprobe)

  /** [[search]] against a PREBUILT per-vector list assignment
    * (`assignments`: vec_id, centroid_label — e.g. a staged parquet of
    * a prior [[assign]] pass): the serve half of the build/serve split.
    * Same result as [[search]] given the same centroids. */
  def searchAssigned(corpus: DataFrame, assignments: DataFrame,
      centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val assigned = assignments
      .select(F.col("vec_id").as("match_id"), F.col("centroid_label"))
      .join(corpus.select(F.col(idCol).as("match_id"), F.col(vecCol).as("c_vec")), "match_id")
    val probes = Retrieval.route(queries, centroids, idCol, vecCol, nprobe)
      .select("query_id", "centroid_label")
    val qVec = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("q_vec"))
    val cands = F.broadcast(probes.join(qVec, "query_id"))
      .join(assigned, "centroid_label")
      .filter(F.col("query_id") =!= F.col("match_id"))
      .select(F.col("query_id"), F.col("match_id"),
        Similarity.cosine(F.col("q_vec"), F.col("c_vec")).as("cos"))
    Retrieval.rank(cands, "query_id", F.col("cos").desc, "match_id", k)
      .select("query_id", "rank", "match_id", "cos")
  }
}

/** Skew-handling patterns: deterministic two-phase (salted) shapes whose
  * results equal the unsalted plan — so the same oracle SQL verifies them. */
object Skew {

  /** Two-phase count: partial count per (input-partition, key), then
    * final sum per key. The skewed key's rows never meet in one task. */
  def saltedCount(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(F.spark_partition_id().as("_salt"), F.col(keyCol))
      .agg(F.count(F.lit(1)).as("_partial"))
      .groupBy(keyCol)
      .agg(F.sum("_partial").as("n"))

  /** Declare a grouping key SKEWED: wraps the column in
    * [[graft.plans.SkewHint]], the opt-in marker
    * [[graft.plans.SaltedAggRewrite]] rewrites into the two-phase
    * salted plan [[saltedCount]] builds by hand. Pass-through if the
    * rule bails out or isn't installed — the hint can never change
    * results. Learn WHICH keys to tag from `Audit.skewProfile` (C40). */
  def skewHint(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.SkewHint(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Declare a fact-side JOIN key SKEWED: wraps the column in
    * [[graft.plans.SkewJoinHint]], the opt-in marker
    * [[graft.plans.SaltedJoinRewrite]] rewrites into the two-phase
    * salted join [[saltedJoin]] builds by hand. Pass-through if the
    * rule bails out or isn't installed. */
  def skewJoinHint(c: org.apache.spark.sql.Column,
      salts: Int = 8): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.SkewJoinHint(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), salts))

  /** Salted fact⋈dim join: fact rows get a deterministic salt (their
    * input partition id mod `salts`), the dim side is replicated once
    * per salt, and the join key becomes (key, salt) — a skewed fact key
    * spreads over `salts` reducers. Equivalent to the plain join when
    * dim keys are unique. Since r15 this shape is what the OPTIMIZER
    * emits from a [[skewJoinHint]]-tagged plain join
    * ([[graft.plans.SaltedJoinRewrite]]); kept as the composable
    * hand-built form. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      F.pmod(F.spark_partition_id().cast("long"), F.lit(salts.toLong)))
    val explodedDim = dim.withColumn("_salt",
      F.explode(F.sequence(F.lit(0L), F.lit(salts.toLong - 1))))
    saltedFact.join(explodedDim, Seq(key, "_salt")).drop("_salt")
  }
}
