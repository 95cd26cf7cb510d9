package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** The one retrieval pipeline every embedding top-k is built from:
  * [[route]] a query to its nearest centroid lists, score a candidate
  * join, keep a bounded top-k per query with [[rank]], and [[rerank]] a
  * shortlist by exact cosine — a bounded filter stage, then an exact
  * refine stage. A kernel supplies only the candidate join and the
  * score expression.
  *
  * Tie-break: every rank orders by the score, then the candidate id
  * ascending, the `ORDER BY score DESC, id` every DuckDB oracle writes.
  * [[rank]] is the only place it is spelled out. */
object Retrieval {

  /** The `k` best rows per `group`: `row_number() over (partition by
    * group order by by, id) <= k`, numbered in column `as`. `by` carries
    * the score's direction (`cos.desc`, `hamming.asc`); ties go to the
    * smaller `id`. One Window plus its Filter: Spark's WindowGroupLimit
    * bounds it, and [[graft.plans.TopKRewrite]] turns it into a heap
    * when every ASC key is non-nullable. */
  def rank(scored: DataFrame, group: String, by: Column, id: String,
      k: Int, as: String = "rank"): DataFrame =
    scored.withColumn(as, F.row_number().over(
        Window.partitionBy(group).orderBy(by, F.col(id))))
      .filter(F.col(as) <= k)

  /** Route each query to its `nprobe` nearest centroids by cosine. The
    * centroids (ckey, centroid) broadcast into a cross join, so the
    * queries never shuffle for it. Returns (query_id, centroid_label,
    * cos, extra…); each `extra` column is evaluated over the (query,
    * centroid) pair, e.g. a per-list score bias. */
  def route(queries: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, nprobe: Int, extra: Column*): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    graft.functions.VectorFunctions.register(queries.sparkSession)
    val scored = queries.crossJoin(F.broadcast(centroids))
      .select(Seq(F.col(idCol).as("query_id"),
        F.col("ckey").as("centroid_label"),
        Similarity.cosine(F.col(vecCol), F.col("centroid")).as("cos"))
        ++ extra: _*)
    rank(scored, "query_id", F.col("cos").desc, "centroid_label", nprobe)
      .drop("rank")
  }

  /** Exact-cosine rerank of a (query_id, match_id, extra…) shortlist:
    * the shortlist joined to its query vectors broadcasts, and the
    * corpus vectors stream once against it — the float scoring touches
    * the shortlist only, never the corpus. Returns (query_id, rank,
    * match_id, extra…, cos), rank ≤ k by exact cosine. A shortlist
    * query_id absent from `queries` drops out. */
  def rerank(shortlist: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val extra = shortlist.columns.toSeq.filterNot(Set("query_id", "match_id"))
    val qv = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).as("_qvec"))
    val cv = corpus.select(F.col(idCol).as("match_id"),
      F.col(vecCol).as("_cvec"))
    val scored = F.broadcast(shortlist.join(qv, "query_id"))
      .join(cv, "match_id")
      .select((Seq("query_id", "match_id") ++ extra).map(F.col) :+
        Similarity.cosine(F.col("_qvec"), F.col("_cvec")).as("cos"): _*)
    rank(scored, "query_id", F.col("cos").desc, "match_id", k)
      .select((Seq("query_id", "rank", "match_id") ++ extra :+ "cos")
        .map(F.col): _*)
  }
}
