package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}

/** Data-quality audits a warehouse runs nightly over its biggest facts:
  * referential-integrity sweeps, per-column profiles, Benford
  * first-digit drift. The reference ships these as validator-layer
  * checks (flycatcher validators/membership.py, validators/uniqueness
  * semantics); here each is ONE declarative plan whose output is
  * metadata-sized regardless of input scale.
  */
object Audit {

  /** Referential-integrity audit of one FK relation, both directions:
    * orphaned children (FK points at no parent) and childless parents
    * (parent no child references — a completeness signal, e.g. orders
    * that never got lineitems).
    *
    * Scale shape: the child collapses FIRST to (key, count) via a
    * map-side-combined aggregate — the two anti-joins and the totals
    * then run over DISTINCT KEYS, not rows, so a 100 TB fact with a
    * few hundred million keys anti-joins cheaply; the three 1-row
    * summaries cross-join as pure metadata. The per-key frame is
    * persisted once and feeds all three scans. */
  def fkCheck(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String, relation: String): DataFrame = {
    val ck = CacheScope.persist(
      child.groupBy(F.col(childKey).as("_k"))
        .agg(F.count(F.lit(1)).as("_cnt")))
    val pk = parent.select(F.col(parentKey).as("_k")).distinct()
    val totals = ck.agg(
      F.sum("_cnt").cast("long").as("child_rows"),
      F.count(F.lit(1)).as("child_keys"))
    val orphans = ck.join(pk, Seq("_k"), "left_anti").agg(
      F.coalesce(F.sum("_cnt"), F.lit(0L)).cast("long").as("orphan_rows"),
      F.count(F.lit(1)).as("orphan_keys"))
    val childless = pk.join(ck, Seq("_k"), "left_anti")
      .agg(F.count(F.lit(1)).as("childless_parents"))
    totals.crossJoin(orphans).crossJoin(childless)
      .select(F.lit(relation).as("relation"), F.col("child_rows"),
        F.col("child_keys"), F.col("orphan_rows"), F.col("orphan_keys"),
        F.col("childless_parents"))
  }

  /** Per-column profile — (rows, nulls, exact distinct) for each named
    * column, unpivoted to one row per column.
    *
    * Scale shape: ONE aggregate computes every column's stats in a
    * single scan; multiple exact count-distincts plan via Spark's
    * Expand (k× row multiply before partial aggregation) — the
    * documented 100 TB drop-in is `approx = true`
    * (`approx_count_distinct`, HLL++), which removes the Expand
    * entirely (O(1) sketch state per column, single-multiplicity scan)
    * while the exact form stays the oracle config; both configs are
    * A/B-measurable with `runMain graft.Bench <names>`. The unpivot
    * of the 1-row result is free. */
  def tableProfile(df: DataFrame, cols: Seq[String],
      approx: Boolean = false): DataFrame = {
    def dist(c: String) =
      if (approx) F.approx_count_distinct(F.col(c)).as(s"_dist_$c")
      else F.countDistinct(F.col(c)).as(s"_dist_$c")
    val aggs = F.count(F.lit(1)).as("_n") +:
      cols.flatMap { c => Seq(
        F.sum(F.when(F.col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        dist(c))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', _null_$c, _dist_$c").mkString(", ")
    one.select(
      F.expr(s"stack(${cols.size}, $stackArgs)")
        .as(Seq("col_name", "n_null", "n_distinct")),
      F.col("_n").as("n"))
      .select("col_name", "n", "n_null", "n_distinct")
      .orderBy("col_name")
  }

  /** Benford first-digit audit [Benford 1938; Hill 1995]: observed
    * first-significant-digit counts of floor(value) vs the Benford
    * expectation. Shares are integer micros (n·1e6 div total) and the
    * expected distribution is a hardcoded integer-micro table (no libm
    * in either engine), so the whole audit is hash-portable. A uniform
    * synthetic column FAILS this audit loudly — that is the point.
    *
    * Scale shape: one narrow projection + a 9-row map-side-combined
    * aggregate; the total broadcasts back as a 1-row frame. */
  val benfordMicro: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Join-key skew profile — the diagnostic you run BEFORE picking a
    * join strategy at 100 TB: per-key counts bucketed by power-of-two
    * magnitude (count-of-counts histogram), with each bucket's key
    * population, row mass, and extremes. A heavy bucket at the top end
    * says "salt this key" (C11) long before the shuffle OOMs.
    *
    * The bucket is `length(bin(cnt)) - 1` == floor(log2(cnt)) computed
    * on the INTEGER bit pattern — both engines ship `bin`, no libm.
    * Scale shape: map-side-combined per-key aggregate, then a
    * metadata-sized bucket aggregate. */
  def skewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = df.groupBy(F.col(keyCol).as("_k"))
      .agg(F.count(F.lit(1)).as("_cnt"))
    perKey
      .withColumn("bucket",
        (F.length(F.bin(F.col("_cnt"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(
        F.count(F.lit(1)).as("n_keys"),
        F.sum("_cnt").cast("long").as("rows"),
        F.min("_cnt").as("min_cnt"),
        F.max("_cnt").as("max_cnt"))
      .orderBy("bucket")
  }

  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val digit = F.substring(
      F.floor(F.col(valCol)).cast("long").cast("string"), 1, 1)
    val counts = df.where(F.col(valCol) >= 1.0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(F.count(F.lit(1)).as("n"))
    val total = counts.agg(F.sum("n").cast("long").as("_total"))
    val expected = benfordMicro.foldLeft(F.lit(null).cast("long")) {
      case (acc, (d, m)) => F.when(F.col("digit") === d.toString, m)
        .otherwise(acc)
    }
    counts.crossJoin(F.broadcast(total))
      .select(F.col("digit"), F.col("n"),
        F.expr("n * 1000000L div _total").as("share_micro"),
        expected.as("benford_micro"))
      .withColumn("abs_dev_micro",
        F.abs(F.col("share_micro") - F.col("benford_micro")))
      .orderBy("digit")
  }
}
