package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.DecimalType
import Tables.t

/** Wave-3 inventory: JSON extraction, portable exact statistics, set
  * operations, collect aggregates, GROUPING SETS, ranking windows,
  * source/sink round-trips (csv/json, partitioned parquet, bucketed
  * tables) and deterministic k-means IVF quantization.
  *
  * Oracle-parity: decimal-exact internal sums surfaced via the
  * string→double round-trip (see CoreQueries.pd); double formulas are
  * written with the identical expression tree on both engines.
  */
object ExtendedQueries {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def pd(c: Column): Column = c.cast("string").cast("double")

  // ------------------------------------------------------------ B7 json
  /** JSON property extraction from the events.props payload column. */
  private val jsonExtract = QueryDef(
    "json_extract",
    (s, d) => t(s, d, "events").select(
      F.col("event_id"),
      F.get_json_object(F.col("props"), "$.k").cast("long").as("prop_k"),
      F.get_json_object(F.col("props"), "$.missing").isNull.as("no_extra"))
      .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
             json_extract_string(props, '$.missing') IS NULL AS no_extra
      FROM events ORDER BY event_id"""))

  // ----------------------------------------------------------- C18 stats
  /** Sample variance / stddev / covariance / correlation from EXACT
    * decimal power sums — the final double formula is evaluated with the
    * identical expression tree in both engines, so the moments are
    * bit-portable (a naive stddev_samp aggregates doubles in partition
    * order and drifts by ULPs between engines). */
  private val aggStats = QueryDef(
    "agg_stats",
    (s, d) => {
      val x = dec(F.col("l_quantity"))
      val y = dec(F.col("l_extendedprice"))
      val li = t(s, d, "lineitem")
      val agged = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).as("n_rows"),
        pd(F.sum(x)).as("_sx"), pd(F.sum((x * x).cast(DecimalType(38, 8)))).as("_sxx"),
        pd(F.sum(y)).as("_sy"), pd(F.sum((y * y).cast(DecimalType(38, 8)))).as("_syy"),
        pd(F.sum((x * y).cast(DecimalType(38, 8)))).as("_sxy"))
      val n = F.col("n_rows").cast("double")
      val sx = F.col("_sx"); val sxx = F.col("_sxx")
      val sy = F.col("_sy"); val syy = F.col("_syy"); val sxy = F.col("_sxy")
      agged.select(
        F.col("l_returnflag"), F.col("n_rows"),
        F.round((sxx - sx * sx / n) / (n - 1.0), 6).as("var_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1.0)), 6).as("std_qty"),
        F.round((sxy - sx * sy / n) / (n - 1.0), 6).as("covar_qp"),
        F.round((sxy - sx * sy / n) /
          (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)), 6).as("corr_qp"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH sums AS (
        SELECT l_returnflag, count(*) AS n_rows,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                    * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                    * CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                    * CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n_rows,
             round((sxx - sx * sx / n) / (n - 1.0), 6) AS var_qty,
             round(sqrt((sxx - sx * sx / n) / (n - 1.0)), 6) AS std_qty,
             round((sxy - sx * sy / n) / (n - 1.0), 6) AS covar_qp,
             round((sxy - sx * sy / n)
                   / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6) AS corr_qp
      FROM (SELECT *, CAST(n_rows AS DOUBLE) AS n FROM sums)
      ORDER BY l_returnflag"""))

  // ------------------------------------------------------------ C19 sets
  /** INTERSECT / EXCEPT / UNION-distinct between two key sets. */
  private val setOps = QueryDef(
    "set_ops",
    (s, d) => {
      // each side feeds three set-op branches — persist so the scans
      // and the distinct shuffle run once
      val building = t(s, d, "customer")
        .filter(F.col("c_mktsegment") === "BUILDING").select("c_custkey")
        .transform(graft.operators.CacheScope.persist)
      val urgent = t(s, d, "orders")
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .select(F.col("o_custkey").as("c_custkey")).distinct()
        .transform(graft.operators.CacheScope.persist)
      building.intersect(urgent).withColumn("op", F.lit("intersect"))
        .unionByName(building.except(urgent).withColumn("op", F.lit("except")))
        .unionByName(building.union(urgent).distinct().withColumn("op", F.lit("union")))
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    },
    Some("""
      SELECT 'intersect' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      UNION ALL
      SELECT 'union' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      ORDER BY op, c_custkey"""))

  // --------------------------------------------------------- C20 collect
  /** collect_set (bounded domain: order statuses) + a bounded-heap
    * bottom-k for the first keys, surfaced as joined strings
    * (engine-portable representation of list results). first_keys is
    * NOT collect_list+slice — that buffers the whole group's keys in
    * one aggregation state before truncating (OOM at 100×); the heap
    * state is O(10) per group. */
  private val aggCollect = QueryDef(
    "agg_collect",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        F.array_join(F.array_sort(F.collect_set(F.col("o_orderstatus"))), ",")
          .as("statuses"),
        F.array_join(
          graft.functions.TopKFunctions.bottomKLong(F.col("o_orderkey"), 10)
            .cast("array<string>"), ",").as("first_keys"),
        F.count(F.lit(1)).as("n"))
      .orderBy("o_orderpriority"),
    Some("""
      SELECT o_orderpriority,
             array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
             array_to_string(list_transform(list_sort(list(o_orderkey))[1:10],
                                            x -> CAST(x AS VARCHAR)), ',') AS first_keys,
             count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // --------------------------------------------- C21 explicit grouping sets
  private val groupingSets = QueryDef(
    "grouping_sets",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("g_orders3")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g1,
               CAST(grouping(o_orderpriority) AS INT) AS g2,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_price,
               count(*) AS n
        FROM g_orders3
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g1, g2, o_orderstatus, o_orderpriority""")
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INTEGER) AS g1,
             CAST(grouping(o_orderpriority) AS INTEGER) AS g2,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price,
             count(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g1, g2, o_orderstatus, o_orderpriority"""))

  // ----------------------------------------------------- C22 rank family
  /** rank / dense_rank / percent_rank / cume_dist / ntile. Rank functions
    * order by the raw value (ties collapse deterministically); ntile needs
    * a total order so its window adds the key tie-break. */
  private val windowNtile = QueryDef(
    "window_ntile",
    (s, d) => {
      val wRank = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
      val wPos = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      t(s, d, "orders").select(
        F.col("o_orderkey"), F.col("o_orderpriority"),
        F.rank().over(wRank).cast("long").as("rnk"),
        F.dense_rank().over(wRank).cast("long").as("drnk"),
        F.percent_rank().over(wRank).as("pct"),
        F.cume_dist().over(wRank).as("cume"),
        F.ntile(4).over(wPos).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderpriority,
             CAST(rank() OVER wr AS BIGINT) AS rnk,
             CAST(dense_rank() OVER wr AS BIGINT) AS drnk,
             percent_rank() OVER wr AS pct,
             cume_dist() OVER wr AS cume,
             CAST(ntile(4) OVER wp AS BIGINT) AS quartile
      FROM orders
      WINDOW wr AS (PARTITION BY o_orderpriority ORDER BY o_totalprice),
             wp AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey"""))

  // ------------------------------------------------------------------ H2
  /** csv + json round-trip with explicit schema enforcement: write the
    * supplier table to both formats, read each back with the declared
    * schema, verify content equals the source (the oracle reads the
    * source directly). Doubles survive because both writers emit the
    * shortest round-trip representation. */
  private val sourceRoundtrip = QueryDef(
    "source_roundtrip",
    (s, d) => {
      val base = Harness.scratch(s, "source_roundtrip")
      val sup = t(s, d, "supplier")
      sup.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      sup.write.mode("overwrite").json(s"$base/json")
      val csv = s.read.schema(sup.schema).option("header", "true")
        .csv(s"$base/csv").withColumn("fmt", F.lit("csv"))
      val json = s.read.schema(sup.schema).json(s"$base/json")
        .withColumn("fmt", F.lit("json"))
      csv.unionByName(json).orderBy("fmt", "s_suppkey")
    },
    Some("""
      SELECT *, 'csv' AS fmt FROM supplier
      UNION ALL
      SELECT *, 'json' AS fmt FROM supplier
      ORDER BY fmt, s_suppkey"""))

  // ------------------------------------------------------------------ H9
  /** ORC round-trip (Spark's second columnar native format): write the
    * supplier table as ORC with zlib, read it back, verify content
    * equals the source (oracle reads the source directly — DuckDB has
    * no ORC reader, so content-equality against the parquet source IS
    * the check). Types survive exactly: ORC stores doubles/longs
    * natively, no text round-trip involved. */
  private val orcRoundtrip = QueryDef(
    "orc_roundtrip",
    (s, d) => {
      val base = Harness.scratch(s, "orc_roundtrip")
      val sup = t(s, d, "supplier")
      sup.write.mode("overwrite").option("compression", "zlib")
        .orc(s"$base/orc")
      s.read.orc(s"$base/orc").orderBy("s_suppkey")
    },
    Some("SELECT * FROM supplier ORDER BY s_suppkey"))

  // ----------------------------------------------------------------- H10
  /** Transactional DSv2 sink round-trip
    * ([[graft.sources.GraftAtomicSinkProvider]], r14): the supplier
    * table is written through the manifest-gated atomic sink
    * (SaveMode.Overwrite → SupportsTruncate) and read back through the
    * same provider's scan — schema and file list from the committed
    * manifest, files read by Spark's Parquet scan. The oracle reads the
    * source directly, so the hash compare covers the WHOLE write+read
    * path: task staging, commit messages, manifest publication, Spark's
    * Parquet encode/decode (ints, longs, strings, and bit-exact
    * doubles).
    * Commit/abort atomicity itself is proven by GraftSinkSpec's
    * injected task failures. */
  private val sinkRoundtrip = QueryDef(
    "sink_roundtrip",
    (s, d) => {
      val base = s"${Harness.scratch(s, "sink_roundtrip")}/sink"
      val sup = t(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      sup.write.format("graft.sources.GraftAtomicSinkProvider")
        .option("path", base).mode("overwrite").save()
      s.read.format("graft.sources.GraftAtomicSinkProvider")
        .option("path", base).load()
        .orderBy("s_suppkey")
    },
    Some("""
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier ORDER BY s_suppkey"""))

  // ----------------------------------------------------------------- H11
  /** Sink TIME TRAVEL over the parquet encoding (r15): two committed
    * snapshots — an Overwrite of the even-key suppliers as COLUMNAR
    * parquet files, then an append of the rest — and the read resolves
    * `option("version", 1)`: exactly the FIRST commit's content, with
    * the append invisible. The oracle recomputes commit 1's content
    * from the source, so the hash compare proves both the snapshot-
    * chain resolution (an append never rewrites prior manifests) and
    * the sink's data files (Spark's own Parquet writer and scan; null
    * cells, exact doubles). Every call writes a fresh table in its
    * own scratch dir, so the chain is always exactly versions 1 and 2.
    * Version-resolution errors and overlapping-writer serialization
    * are GraftSinkSpec's; this query is the driver-graded read. */
  private val sinkTimeTravel = QueryDef(
    "sink_time_travel",
    (s, d) => {
      val base = s"${Harness.scratch(s, "sink_time_travel")}/sink"
      val fmt = "graft.sources.GraftAtomicSinkProvider"
      val sup = t(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      sup.where(F.col("s_suppkey") % 2 === 0)
        .write.format(fmt).option("path", base)
        .option("format", "parquet").mode("overwrite").save()
      sup.where(F.col("s_suppkey") % 2 =!= 0)
        .write.format(fmt).option("path", base)
        .option("format", "parquet").mode("append").save()
      s.read.format(fmt).option("path", base).option("version", "1")
        .load().orderBy("s_suppkey")
    },
    Some("""
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier WHERE s_suppkey % 2 = 0 ORDER BY s_suppkey"""))

  // ----------------------------------------------------------------- H21
  /** Sink CHANGE-FEED read (r15, the batch twin of the G34 streaming
    * delta): after the H20 chain (even-key overwrite = v1, odd-key
    * append = v2), `option("startVersion", 1)` plans exactly the files
    * versions (1, latest] ADDED — the incremental-consumer pattern
    * ("give me what changed since the version I processed") without a
    * streaming checkpoint. The oracle recomputes commit 2's content,
    * so the hash compare proves the version set-difference loses and
    * duplicates nothing. Every call writes a fresh table in its own
    * scratch dir; the read still pins BOTH bounds — version = 2 AND
    * startVersion = 1 — so it names the (v1, v2] delta it grades. */
  private val sinkChangeFeed = QueryDef(
    "sink_change_feed",
    (s, d) => {
      val base = s"${Harness.scratch(s, "sink_change_feed")}/sink"
      val fmt = "graft.sources.GraftAtomicSinkProvider"
      val sup = t(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      sup.where(F.col("s_suppkey") % 2 === 0)
        .write.format(fmt).option("path", base)
        .mode("overwrite").save()
      sup.where(F.col("s_suppkey") % 2 =!= 0)
        .write.format(fmt).option("path", base)
        .mode("append").save()
      s.read.format(fmt).option("path", base)
        .option("version", "2").option("startVersion", "1")
        .load().orderBy("s_suppkey")
    },
    Some("""
      SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      FROM supplier WHERE s_suppkey % 2 = 1 ORDER BY s_suppkey"""))

  // ------------------------------------------------------------------ H3
  /** Partitioned parquet write + partition-pruned read: orders land
    * hive-partitioned by priority; the read back filters ONE partition
    * (explain shows PartitionFilters, no full scan) and aggregates. */
  private val partitionedPrune = QueryDef(
    "partitioned_prune",
    (s, d) => {
      val out = s"${Harness.scratch(s, "partitioned_prune")}/orders"
      // repartition on the partition column first: every write task
      // otherwise emits a file per priority it sees (tasks × 5 small
      // files — the classic partitioned-write small-files explosion; at
      // 100 TB you'd add a salt to this repartition to bound task size)
      t(s, d, "orders").repartition(F.col("o_orderpriority"))
        .write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(out)
      s.read.parquet(out)
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
          F.count(F.lit(1)).as("n_orders"),
          pd(F.sum(dec(F.col("o_totalprice")))).as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_orders,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ------------------------------------------------------------------ H4
  /** Co-bucketed join: both sides bucketed+sorted on the join key with
    * the same bucket count → sort-merge join with NO exchange on either
    * side (asserted in BucketingSpec; this query verifies the results
    * through the managed-table write/read path). */
  private val bucketedJoin = QueryDef(
    "bucketed_join",
    (s, d) => {
      val sf = new java.io.File(d).getName.replace(".", "_").replace("-", "_")
      // run-id suffix: managed-table DIRS are shared across JVMs via the
      // warehouse dir even though the in-memory catalog is not. The
      // tables die at release (DROP deletes a managed table's dir); the
      // DROP here covers a re-run before release.
      val ob = s"g_orders_bkt_${Harness.runId}_$sf"
      val cb = s"g_cust_bkt_${Harness.runId}_$sf"
      Seq(ob, cb).foreach { n =>
        s.sql(s"DROP TABLE IF EXISTS $n")
        graft.operators.CacheScope.track(s,
          () => s.sql(s"DROP TABLE IF EXISTS $n"))
      }
      // repartition(8, key) matches the bucket hash (both are
      // pmod(murmur3, 8)), so each task holds exactly one bucket and
      // writes ONE file — without it every task emits a file per bucket
      // it sees (tasks × 8 small files, and 8× the open writers)
      t(s, d, "orders").repartition(8, F.col("o_custkey"))
        .write.format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ob)
      t(s, d, "customer").repartition(8, F.col("c_custkey"))
        .write.format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(cb)
      s.table(ob).hint("MERGE")
        .join(s.table(cb), F.col("o_custkey") === F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          F.count(F.lit(1)).as("n_orders"),
          pd(F.sum(dec(F.col("o_totalprice")))).as("total_price"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------- C25 max_by
  /** max_by / min_by (argmax) aggregates. The ordering value is the
    * (price, key) pair encoded as one exact scaled BIGINT so ties are
    * deterministic in both engines (DuckDB's arg_max has no tuple
    * ordering). Encoding domain: o_orderkey < 10⁷ and o_totalprice <
    * 9.2×10⁷ (holds through TPC-H sf≈1; beyond that, widen the key
    * multiplier or switch to a struct-ordered max_by Spark-side). */
  private val aggMaxBy = QueryDef(
    "agg_maxby",
    (s, d) => {
      val encoded = (dec(F.col("o_totalprice")) * 10000).cast("long") * 10000000L +
        F.col("o_orderkey")
      t(s, d, "orders").groupBy("o_orderpriority")
        .agg(
          F.max_by(F.col("o_orderkey"), encoded).as("top_key"),
          F.min_by(F.col("o_orderkey"), encoded).as("bottom_key"),
          F.max(F.col("o_totalprice")).as("max_price"),
          F.min(F.col("o_totalprice")).as("min_price"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority,
             arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                                 * 10000000 + o_orderkey) AS top_key,
             arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                                 * 10000000 + o_orderkey) AS bottom_key,
             max(o_totalprice) AS max_price,
             min(o_totalprice) AS min_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // ------------------------------------------------------ C28 mode/median
  /** Exact mode (most frequent value, ties broken by SMALLEST value so
    * the winner is engine-independent — both Spark's and DuckDB's
    * native mode() are tie-arbitrary) and exact interpolated median.
    * Mode = min(struct(-count, value)) over per-(group, value) counts:
    * two map-side-combined shuffles, O(1) aggregate state. Median uses
    * exact `percentile` (Spark) == `quantile_cont` (DuckDB) — same
    * p·(n−1) linear interpolation; quantities are small integers in
    * doubles, so the (a+b)·fraction arithmetic is bit-portable. */
  private val aggMode = QueryDef(
    "agg_mode",
    (s, d) => {
      val li = t(s, d, "lineitem")
      val counts = li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count(F.lit(1)).as("_c"))
      val mode = counts.groupBy("l_returnflag")
        .agg(F.min(F.struct((-F.col("_c")).as("_nc"), F.col("l_quantity")))
          .as("_m"))
        .select(F.col("l_returnflag"),
          F.col("_m._nc").as("_negc"), F.col("_m.l_quantity").as("mode_qty"))
      val med = li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.expr("percentile(l_quantity, 0.5D)"), 6).as("median_qty"))
      med.join(mode, "l_returnflag")
        .select(F.col("l_returnflag"), F.col("n"), F.col("mode_qty"),
          (-F.col("_negc")).as("mode_count"), F.col("median_qty"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS c
                 FROM lineitem GROUP BY 1, 2),
      m AS (SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY c DESC, l_quantity ASC) AS rn
            FROM c),
      a AS (SELECT l_returnflag, count(*) AS n,
                   round(quantile_cont(l_quantity, 0.5), 6) AS median_qty
            FROM lineitem GROUP BY 1)
      SELECT a.l_returnflag, n, mode_qty, mode_count, median_qty
      FROM a JOIN m ON a.l_returnflag = m.l_returnflag AND rn = 1
      ORDER BY a.l_returnflag"""))

  // ----------------------------------------------- C29 percent_rank
  /** percent_rank + cume_dist per order-priority partition. Both
    * definitions ((rank−1)/(n−1), peers/n) are identical across
    * engines and tie-stable (equal prices share a value, so the output
    * is deterministic even though the sort isn't total). Scale note:
    * 5 priority partitions would bottleneck a 100 TB sort — at scale,
    * pre-aggregate to (partition, value, count) and prefix-sum counts
    * (the C27 histogram shape) instead of ranking raw rows. */
  private val windowPercent = QueryDef(
    "window_percent",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority").orderBy("o_totalprice")
      t(s, d, "orders").select(
        F.col("o_orderkey"), F.col("o_orderpriority"),
        F.round(F.percent_rank().over(w), 6).as("pct_rank"),
        F.round(F.cume_dist().over(w), 6).as("cume"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderpriority,
             round(percent_rank() OVER (PARTITION BY o_orderpriority
                                        ORDER BY o_totalprice), 6) AS pct_rank,
             round(cume_dist() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice), 6) AS cume
      FROM orders ORDER BY o_orderkey"""))

  // ------------------------------------------------------- G2b hopping
  /** Hopping (sliding) windows: 1-hour windows every 30 minutes — each
    * event lands in two windows. The oracle unnests the two candidate
    * window starts per event. */
  private val windowHopping = QueryDef(
    "window_hopping",
    (s, d) => t(s, d, "events")
      .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"),
        pd(F.sum(dec(F.col("value")))).as("sum_value"))
      .select(F.col("window.start").as("win_start"), F.col("event_type"),
        F.col("n"), F.col("sum_value"))
      .orderBy("win_start", "event_type"),
    Some("""
      SELECT ws AS win_start, event_type, count(*) AS n,
             CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      FROM (SELECT event_type, value,
              unnest([time_bucket(INTERVAL '30 minutes', ts),
                      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
            FROM events)
      GROUP BY ws, event_type ORDER BY win_start, event_type"""))

  // ----------------------------------------------------------- C23 scalar
  /** Correlated scalar subquery: orders beating 1.5× their customer's
    * average. The average is decimal-exact then string→double so the
    * comparison threshold is bit-identical in both engines. */
  private val scalarSubquery = QueryDef(
    "scalar_subquery",
    (s, d) => {
      t(s, d, "orders").createOrReplaceTempView("g_orders4")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM g_orders4 o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                 / count(*)
          FROM g_orders4 o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice > 1.5 * (
        SELECT CAST(CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               / count(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_orderkey"""))

  // --------------------------------------------------------- C24 interval
  /** Time-range (interval) join: for each error event, the click events
    * by the same user in the preceding 10 minutes. Equi-join on user_id
    * carries the shuffle; the range predicate filters inside the join —
    * at scale this is the bucketed-by-time pattern, not a cross join. */
  private val intervalJoin = QueryDef(
    "interval_join",
    (s, d) => {
      val ev = t(s, d, "events")
      val errors = ev.filter(F.col("event_type") === "error")
        .select(F.col("event_id").as("err_id"), F.col("user_id"),
          F.col("ts").as("err_ts"))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select(F.col("event_id").as("click_id"), F.col("user_id"),
          F.col("ts").as("click_ts"))
      errors.join(clicks, Seq("user_id"))
        .filter(F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES")
          && F.col("click_ts") < F.col("err_ts"))
        .select("user_id", "err_id", "click_id")
        .orderBy("err_id", "click_id")
    },
    Some("""
      SELECT e.user_id, e.event_id AS err_id, c.event_id AS click_id
      FROM events e JOIN events c
        ON e.user_id = c.user_id
       AND e.event_type = 'error' AND c.event_type = 'click'
       AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
      ORDER BY err_id, click_id"""))

  // ------------------------------------------------- C24b binned interval
  /** The same attribution join as C24, but with the shuffle key
    * (user_id, 10-min time bin): each error probes its own bin and the
    * previous one (two bins cover the whole trailing window because the
    * bin width equals the window), so per-key join fan-out is bounded
    * by time DENSITY, not by a user's total history — the scale fix for
    * C24's hot-user quadratic blowup. Same result, checked against the
    * identical oracle. */
  private val intervalJoinBinned = QueryDef(
    "interval_join_binned",
    (s, d) => {
      val binSec = 600L // == the 10-min window, so 2 bins cover it
      def bin(ts: Column): Column =
        F.floor(ts.cast("long").cast("double") / binSec).cast("long")
      val ev = t(s, d, "events")
      val errors = ev.filter(F.col("event_type") === "error")
        .select(F.col("event_id").as("err_id"), F.col("user_id"),
          F.col("ts").as("err_ts"))
        .withColumn("bin",
          F.explode(F.array(bin(F.col("err_ts")) - 1, bin(F.col("err_ts")))))
      val clicks = ev.filter(F.col("event_type") === "click")
        .select(F.col("event_id").as("click_id"), F.col("user_id"),
          F.col("ts").as("click_ts"))
        .withColumn("bin", bin(F.col("click_ts")))
      errors.join(clicks, Seq("user_id", "bin"))
        .filter(F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES")
          && F.col("click_ts") < F.col("err_ts"))
        .select("user_id", "err_id", "click_id")
        .orderBy("err_id", "click_id")
    },
    Some("""
      SELECT e.user_id, e.event_id AS err_id, c.event_id AS click_id
      FROM events e JOIN events c
        ON e.user_id = c.user_id
       AND e.event_type = 'error' AND c.event_type = 'click'
       AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
      ORDER BY err_id, click_id"""))

  // --------------------------------------------------- C30 bloom prune
  /** Broadcast Bloom-filter semi-join pruning: at 100 TB the fact side
    * of `fact SEMI JOIN filtered_dim` should not shuffle — a Bloom
    * filter built from the (selective) build side broadcasts to the
    * fact scan and drops most non-matching rows before any exchange,
    * with an exact join cleaning up the false positives. (Spark injects
    * exactly this via `runtime.bloomFilter.enabled`; its native filter
    * is engine-opaque, so this query builds the portable image — k=3
    * md5-derived bit positions mod m=65536, membership = all 3 present
    * in the build side's distinct-position set — and AUDITS it: the
    * measured false-positive rate is the number that decides whether
    * the prune pays for itself.) No false negatives by construction
    * (members hit all their own positions); spec-asserted too. */
  private val bloomPrune = QueryDef(
    "bloom_prune",
    (s, d) => {
      val m = 65536L
      val k = 3
      def positions(key: Column): Column = F.array((0 until k).map(i =>
        F.pmod(graft.operators.Hashing.hash60(
          F.concat(F.lit(s"bf$i:"), key.cast("string"))), F.lit(m))): _*)
      val build = t(s, d, "orders")
        .filter(F.col("o_orderpriority") === "1-URGENT")
        .select(F.col("o_orderkey"))
      val bits = build
        .select(F.explode(positions(F.col("o_orderkey"))).as("pos"))
        .distinct()
      val probe = t(s, d, "lineitem").select(F.col("l_orderkey")).distinct()
      val probePos = probe.select(F.col("l_orderkey"),
        F.explode(positions(F.col("l_orderkey"))).as("pos"))
      val hits = probePos
        .join(F.broadcast(bits.withColumn("_hit", F.lit(1L))), Seq("pos"), "left")
        .groupBy("l_orderkey")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0L))).as("_nhit"))
        .select(F.col("l_orderkey"), (F.col("_nhit") === k).as("_might"))
      val members = build.select(F.col("o_orderkey").as("l_orderkey"),
        F.lit(true).as("_member"))
      hits.join(F.broadcast(members), Seq("l_orderkey"), "left")
        .agg(
          F.count(F.lit(1)).as("n_probe"),
          F.sum(F.when(F.col("_might"), 1L).otherwise(0L)).as("n_might"),
          F.sum(F.when(F.col("_member").isNotNull, 1L).otherwise(0L))
            .as("n_member"),
          F.sum(F.when(F.col("_might") && F.col("_member").isNull, 1L)
            .otherwise(0L)).as("n_false_pos"))
        .select(F.col("n_probe"), F.col("n_might"), F.col("n_member"),
          F.col("n_false_pos"),
          F.round(F.col("n_false_pos").cast("double")
            / (F.col("n_probe") - F.col("n_member")), 6).as("fpr"))
    },
    Some(s"""
      WITH build AS (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'),
      bits AS (SELECT DISTINCT
                 ${graft.operators.Hashing.hash60Sql(
                   "'bf' || CAST(i AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)")}
                   % 65536 AS pos
               FROM build, unnest([0, 1, 2]) AS u(i)),
      probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
      pp AS (SELECT l_orderkey,
                    ${graft.operators.Hashing.hash60Sql(
                      "'bf' || CAST(i AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR)")}
                      % 65536 AS pos
             FROM probe, unnest([0, 1, 2]) AS u(i)),
      hits AS (SELECT l_orderkey, count(b.pos) AS nhit
               FROM pp LEFT JOIN bits b USING (pos) GROUP BY 1),
      j AS (SELECT h.l_orderkey, nhit = 3 AS might,
                   b.o_orderkey IS NOT NULL AS member
            FROM hits h LEFT JOIN build b ON h.l_orderkey = b.o_orderkey)
      SELECT CAST(count(*) AS BIGINT) AS n_probe,
             CAST(sum(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS n_might,
             CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_member,
             CAST(sum(CASE WHEN might AND NOT member THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_false_pos,
             round(CAST(sum(CASE WHEN might AND NOT member THEN 1 ELSE 0 END)
                        AS DOUBLE)
                   / (count(*) - sum(CASE WHEN member THEN 1 ELSE 0 END)), 6)
               AS fpr
      FROM j"""))

  // ---------------------------------------------------- H5 z-order layout
  /** Z-order (Morton) layout audit: interleave (user_id mod 1024,
    * event-minute mod 1024) into one z-value, bucket by its top 6 bits
    * (= 64 contiguous z-ranges — the per-file granularity a
    * `zOrderBy(64)` write would produce) and report each bucket's
    * min/max extent in BOTH dimensions. Tight per-bucket extents on
    * both dims are exactly what makes parquet min/max stats prune
    * two-dimensional predicates — the measurable image of the layout
    * win, since file boundaries themselves aren't portable to an
    * oracle. `LayoutSpec` additionally asserts the physical claim:
    * after [[graft.operators.Layout.zOrderBy]] every partition's
    * per-dim extent shrinks vs the unordered layout. */
  private val zorderLayout = QueryDef(
    "zorder_layout",
    (s, d) => {
      import graft.operators.Layout
      val ev = t(s, d, "events").select(
        F.pmod(F.col("user_id").cast("long"), F.lit(1024L)).as("da"),
        F.pmod(F.floor(F.col("ts").cast("long").cast("double") / 60)
          .cast("long"), F.lit(1024L)).as("db"))
      ev.select(F.col("da"), F.col("db"),
        F.shiftright(Layout.zValue(F.col("da"), F.col("db"), 10), 14)
          .as("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n"),
          F.min("da").as("min_a"), F.max("da").as("max_a"),
          F.min("db").as("min_b"), F.max("db").as("max_b"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH dims AS (SELECT user_id % 1024 AS da,
                           (CAST(floor(epoch(ts)) AS BIGINT) // 60) % 1024
                             AS db
                    FROM events),
      z AS (SELECT da, db,
                   ${graft.operators.Layout.zValueSql("da", "db", 10)} >> 14
                     AS bucket
            FROM dims)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             min(da) AS min_a, max(da) AS max_a,
             min(db) AS min_b, max(db) AS max_b
      FROM z GROUP BY 1 ORDER BY bucket"""))

  // --------------------------------------------- C31 gaps-and-islands
  /** Gaps-and-islands state compression (the SCD2/sessionization
    * sibling): collapse each user's consecutive runs of the same
    * event_type into one island row. The classic two-window build —
    * lag() marks state changes, a running sum numbers islands — then
    * ONE aggregate per island. Windows are per-user ordered (event_id
    * tiebreak makes ties deterministic); at 100 TB this partitions by
    * the key exactly like C8 sessionize, no global sort anywhere. */
  private val stateIslands = QueryDef(
    "state_islands",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val chg = F.when(F.lag("event_type", 1).over(w).isNull
        || F.lag("event_type", 1).over(w) =!= F.col("event_type"), 1L)
        .otherwise(0L)
      t(s, d, "events")
        .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
          F.col("ts"))
        .withColumn("island", F.sum(chg).over(w))
        .groupBy("user_id", "island")
        .agg(F.min("event_type").as("state"),
          F.count(F.lit(1)).as("n_events"),
          F.min("ts").as("start_ts"), F.max("ts").as("end_ts"))
        .orderBy("user_id", "island")
    },
    Some("""
      WITH m AS (SELECT user_id, event_id, event_type, ts,
                        CASE WHEN lag(event_type) OVER w IS NULL
                               OR lag(event_type) OVER w <> event_type
                             THEN 1 ELSE 0 END AS chg
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      i AS (SELECT user_id, event_type, ts,
                   CAST(sum(chg) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                     AS island
            FROM m)
      SELECT user_id, island, min(event_type) AS state,
             count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts
      FROM i GROUP BY 1, 2 ORDER BY user_id, island"""))

  // ------------------------------------------------- C32 resample/fill
  /** Time-series resampling: per-user hourly grid from first to last
    * event (sequence + explode — grid size bounded by span/granularity,
    * never by row count), hourly exact-decimal averages joined on, gaps
    * forward-filled with last_value IGNORE NULLS. The per-key ordered
    * window is the standard TS-store resample shape; the grid's first
    * row always holds a real value (it IS the first event's hour), so
    * the fill never reads an empty history. The user_id % 13 slice
    * bounds the grid (users × span-hours ≈ 1M rows at sf0.1 unsliced)
    * — the operator is per-user independent, so the slice loses no
    * generality. */
  private val resampleInterp = QueryDef(
    "resample_interp",
    (s, d) => {
      val ev = t(s, d, "events").filter(F.pmod(F.col("user_id"), F.lit(13)) === 0)
      val hourly = ev
        .groupBy(F.col("user_id"), F.date_trunc("hour", F.col("ts")).as("hour_ts"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(pd(F.sum(dec(F.col("value")))) / F.count(F.lit(1)), 6)
            .as("avg_value"))
      val grid = ev
        .groupBy("user_id")
        .agg(F.date_trunc("hour", F.min("ts")).as("_h0"),
          F.date_trunc("hour", F.max("ts")).as("_h1"))
        .select(F.col("user_id"),
          F.explode(F.sequence(F.col("_h0"), F.col("_h1"),
            F.expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      val w = Window.partitionBy("user_id").orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour_ts"), "left")
        .select(F.col("user_id"), F.col("hour_ts"),
          F.coalesce(F.col("n_events"), F.lit(0L)).as("n_events"),
          F.last(F.col("avg_value"), ignoreNulls = true).over(w)
            .as("avg_value"),
          F.col("avg_value").isNull.as("filled"))
        .orderBy("user_id", "hour_ts")
    },
    Some("""
      WITH ev AS (SELECT * FROM events WHERE user_id % 13 = 0),
      hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_ts,
               count(*) AS n_events,
               round(CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
                          AS DOUBLE) / count(*), 6) AS avg_value
        FROM ev GROUP BY 1, 2),
      grid AS (
        SELECT user_id,
               unnest(generate_series(date_trunc('hour', min(ts)),
                                      date_trunc('hour', max(ts)),
                                      INTERVAL 1 HOUR)) AS hour_ts
        FROM ev GROUP BY user_id)
      SELECT g.user_id, g.hour_ts,
             coalesce(n_events, 0) AS n_events,
             last_value(avg_value IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.hour_ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS avg_value,
             avg_value IS NULL AS filled
      FROM grid g LEFT JOIN hourly h
        ON g.user_id = h.user_id AND g.hour_ts = h.hour_ts
      ORDER BY 1, 2"""))

  // ------------------------------------------------------ C33 winsorize
  /** Winsorized (p05/p95-clamped) robust mean per group: exact
    * percentile bounds broadcast back, values clamped in pure
    * double comparisons (no arithmetic → bit-exact picks), then
    * floor-quantized to 0.1-milli units so the mean is an exact long
    * sum closed by one double division — the robust-statistics
    * complement of C18's exact moments. */
  private val winsorize = QueryDef(
    "winsorize",
    (s, d) => {
      val li = t(s, d, "lineitem")
      val stats = li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.05D)").as("_p05"),
          F.expr("percentile(l_extendedprice, 0.95D)").as("_p95"))
      val w = F.least(F.greatest(F.col("l_extendedprice"), F.col("_p05")),
        F.col("_p95"))
      li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          F.count(F.lit(1)).as("n"),
          F.sum(F.when(F.col("l_extendedprice") < F.col("_p05"), 1L)
            .otherwise(0L)).as("n_low"),
          F.sum(F.when(F.col("l_extendedprice") > F.col("_p95"), 1L)
            .otherwise(0L)).as("n_high"),
          F.round(F.first("_p05"), 6).as("p05"),
          F.round(F.first("_p95"), 6).as("p95"),
          F.round(
            (F.sum(F.floor(w * 10000).cast("long")).cast("double") / 10000.0)
              / F.count(F.lit(1)), 6).as("robust_mean"))
        .orderBy("l_returnflag")
    },
    Some("""
      WITH s AS (SELECT l_returnflag,
                        quantile_cont(l_extendedprice, 0.05) AS p05,
                        quantile_cont(l_extendedprice, 0.95) AS p95
                 FROM lineitem GROUP BY 1)
      SELECT li.l_returnflag, count(*) AS n,
             CAST(sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_high,
             round(any_value(p05), 6) AS p05, round(any_value(p95), 6) AS p95,
             round((CAST(sum(CAST(floor(least(greatest(l_extendedprice, p05),
                                              p95) * 10000) AS BIGINT))
                         AS DOUBLE) / 10000.0) / count(*), 6) AS robust_mean
      FROM lineitem li JOIN s ON li.l_returnflag = s.l_returnflag
      GROUP BY li.l_returnflag ORDER BY li.l_returnflag"""))

  // ------------------------------------------------------- H6 table diff
  /** Checksum-based reconciliation ([[graft.operators.Reconcile]]):
    * version B derives from lineitem by a deterministic drop
    * (key-mix % 997) and a deterministic edit (% 991); the operator
    * locates the differing rows via per-bucket (count, bit_xor)
    * digests and rescans ONLY dirty buckets. The oracle diffs the two
    * versions directly with a full key-join — structurally independent
    * of the bucket optimization, so it checks the result, not the
    * shortcut. */
  private val tableDiff = QueryDef(
    "table_diff",
    (s, d) => {
      // orders: o_orderkey is the unique PK (lineitem's natural key is
      // NOT unique in this synthetic data); the edited value is a
      // string so the row hash never touches float formatting
      val a = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
      val b = a.filter(F.pmod(F.col("o_orderkey"), F.lit(997)) =!= 0)
        .withColumn("o_orderpriority",
          F.when(F.pmod(F.col("o_orderkey"), F.lit(991)) === 0, F.lit("X-EDIT"))
            .otherwise(F.col("o_orderpriority")))
      val h = graft.operators.Hashing.hash60(F.concat_ws("|",
        F.col("o_orderkey").cast("string"), F.col("o_orderpriority")))
      graft.operators.Reconcile.diffRows(a, b, Seq("o_orderkey"), h)
        .orderBy("o_orderkey")
    },
    Some("""
      WITH a AS (SELECT o_orderkey, o_orderpriority FROM orders),
      b AS (SELECT o_orderkey,
                   CASE WHEN o_orderkey % 991 = 0 THEN 'X-EDIT'
                        ELSE o_orderpriority END AS o_orderpriority
            FROM a WHERE o_orderkey % 997 <> 0)
      SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN b.o_orderkey IS NULL THEN 'missing_in_b'
                  WHEN a.o_orderkey IS NULL THEN 'missing_in_a'
                  ELSE 'changed' END AS diff_type
      FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
      WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
         OR a.o_orderpriority <> b.o_orderpriority
      ORDER BY o_orderkey"""))

  // ------------------------------------------------------------ D9c
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private[queries] def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  /** Deterministic Lloyd k-means (k=4, 2 iterations, md5-hash-ordered
    * seeds) + final nearest-centroid assignment, summarized per cluster.
    * The oracle unrolls both iterations as CTEs; float32-cast means and
    * 6dp-rounded cosines keep every step engine-portable. */
  private val embedKmeans = QueryDef(
    "embed_kmeans",
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = graft.operators.Ivf.kmeansCentroids(
        emb, "vec_id", "embedding", k = 4, iters = 2)
      graft.operators.Ivf.assign(emb, cents, "vec_id", "embedding")
        .groupBy("centroid_label")
        .agg(
          F.count(F.lit(1)).as("n_members"),
          F.min("cos").as("min_cos"),
          F.max("cos").as("max_cos"))
        .orderBy("centroid_label")
    },
    Some {
      s"""WITH $kmeansA3Ctes
         |SELECT CAST(ck AS INTEGER) AS centroid_label, count(*) AS n_members,
         |       min(cos) AS min_cos, max(cos) AS max_cos
         |FROM a3 GROUP BY ck ORDER BY centroid_label""".stripMargin
    })

  /** Shared oracle fragment: the deterministic-k-means CTE chain
    * (`seeds` … `a3`, k=4, 2 unrolled Lloyd iterations over the
    * `embeddings` table, empty-cluster fallback chaining to the
    * previous iterate) reproducing [[graft.operators.Ivf.kmeansCentroids]]
    * + [[graft.operators.Ivf.assign]]. `a3` is the final per-vector
    * assignment (vec_id, ck, cos). Reused by `embed_kmeans` and
    * `semantic_dedup`. */
  private[queries] def kmeansA3Ctes: String = {
    def assignCte(score: String, from: String): String =
      s"""(SELECT vec_id, ck, cos FROM (
         |    SELECT e.vec_id, c.ck, $score AS cos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY $score DESC, c.ck) AS rn
         |    FROM embeddings e, $from c) WHERE rn = 1)""".stripMargin
    def meansCte(assign: String): String =
      s"""(SELECT ck, list_transform(list(cv ORDER BY i), x -> CAST(x AS REAL)) AS centroid
         |  FROM (SELECT a.ck, i, avg(CAST(e.embedding[i] AS DOUBLE)) AS cv
         |        FROM $assign a JOIN embeddings e USING (vec_id),
         |             generate_series(1, 64) AS t(i)
         |        GROUP BY 1, 2) GROUP BY ck)""".stripMargin
    val cos = cosSql("e.embedding", "c.centroid")
    s"""seeds AS (
       |  SELECT ck, centroid FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INTEGER) AS ck,
       |           embedding AS centroid
       |    FROM (SELECT vec_id, ${graft.operators.Hashing.hash60Sql("CAST(vec_id AS VARCHAR)")} AS h,
       |                 embedding FROM embeddings)) WHERE ck < 4),
       |a1 AS ${assignCte(cos, "seeds")},
       |c1 AS ${meansCte("a1")},
       |c1f AS (SELECT * FROM c1 UNION ALL
       |        SELECT s.ck, s.centroid FROM seeds s
       |        WHERE s.ck NOT IN (SELECT ck FROM c1)),
       |a2 AS ${assignCte(cos, "c1f")},
       |c2 AS ${meansCte("a2")},
       |c2f AS (SELECT * FROM c2 UNION ALL
       |        SELECT s.ck, s.centroid FROM c1f s
       |        WHERE s.ck NOT IN (SELECT ck FROM c2)),
       |a3 AS ${assignCte(cos, "c2f")}""".stripMargin
  }

  // ---------------------------------------------------------------- C43
  /** Full correlation matrix over the fact table's numeric columns —
    * C18's exact-decimal-sums discipline widened to every pair: ONE
    * whole-table aggregate computes all 4 power sums, 4 square sums and
    * 6 cross sums as exact decimals (order-independent, so the matrix
    * hash-checks despite being "floating point"); the closing Pearson
    * algebra runs on the 1-row frame and unpivots to (col_x, col_y)
    * rows. One scan at any scale; no per-pair rescans. */
  private val corrMatrix = QueryDef(
    "corr_matrix", {
      (s, d) =>
        val li = t(s, d, "lineitem")
        val cols = Seq("l_quantity" -> "q", "l_extendedprice" -> "p",
          "l_discount" -> "di", "l_tax" -> "tx")
        val pairs = cols.combinations(2).toSeq
        val aggs = F.count(F.lit(1)).as("n") +: (
          cols.flatMap { case (c, a) => Seq(
            pd(F.sum(dec(F.col(c)))).as(s"s_$a"),
            pd(F.sum((dec(F.col(c)) * dec(F.col(c)))
              .cast(DecimalType(38, 8)))).as(s"ss_$a"))
          } ++ pairs.map { case Seq((cx, ax), (cy, ay)) =>
            pd(F.sum((dec(F.col(cx)) * dec(F.col(cy)))
              .cast(DecimalType(38, 8)))).as(s"sp_${ax}_$ay")
          })
        val one = li.agg(aggs.head, aggs.tail: _*)
        val nn = F.col("n").cast("double")
        def corr(ax: String, ay: String) =
          F.round((F.col(s"sp_${ax}_$ay") -
              F.col(s"s_$ax") * F.col(s"s_$ay") / nn) /
            (F.sqrt(F.col(s"ss_$ax") -
               F.col(s"s_$ax") * F.col(s"s_$ax") / nn) *
             F.sqrt(F.col(s"ss_$ay") -
               F.col(s"s_$ay") * F.col(s"s_$ay") / nn)), 6)
        val rows = pairs.map { case Seq((cx, ax), (cy, ay)) =>
          F.struct(F.lit(cx).as("col_x"), F.lit(cy).as("col_y"),
            corr(ax, ay).as("corr"))
        }
        one.select(F.col("n"), F.explode(F.array(rows: _*)).as("r"))
          .select(F.col("r.col_x"), F.col("r.col_y"), F.col("n"),
            F.col("r.corr"))
          .orderBy("col_x", "col_y")
    },
    Some {
      val cols = Seq("l_quantity" -> "q", "l_extendedprice" -> "p",
        "l_discount" -> "di", "l_tax" -> "tx")
      val pairs = cols.combinations(2).toSeq
      def s1(c: String, a: String) =
        s"CAST(CAST(sum(CAST($c AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS s_$a"
      def s2(cx: String, cy: String, a: String) =
        s"""CAST(CAST(sum(CAST(CAST($cx AS DECIMAL(19,4))
           * CAST($cy AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE) AS $a"""
      val sums = (Seq("count(*) AS n") ++
        cols.flatMap { case (c, a) => Seq(s1(c, a), s2(c, c, s"ss_$a")) } ++
        pairs.map { case Seq((cx, ax), (cy, ay)) =>
          s2(cx, cy, s"sp_${ax}_$ay") }).mkString(",\n        ")
      val rows = pairs.map { case Seq((cx, ax), (cy, ay)) =>
        s"""SELECT '$cx' AS col_x, '$cy' AS col_y, CAST(n AS BIGINT) AS n,
           round((sp_${ax}_$ay - s_$ax * s_$ay / nn)
                 / (sqrt(ss_$ax - s_$ax * s_$ax / nn)
                    * sqrt(ss_$ay - s_$ay * s_$ay / nn)), 6) AS corr FROM s"""
      }.mkString("\nUNION ALL\n")
      s"""
      WITH sums0 AS (SELECT $sums FROM lineitem),
      s AS (SELECT *, CAST(n AS DOUBLE) AS nn FROM sums0)
      $rows
      ORDER BY col_x, col_y"""
    })

  // ----------------------------------------------------------------- H10
  /** Dynamic partition pruning: the fact stages PARTITIONED on the join
    * key (order priority), the dim side carries the selective filter —
    * Spark injects the dim's surviving keys as a runtime partition
    * filter into the fact scan (the DPP subquery), so the fact reads
    * ONLY the 2-of-5 matching partitions even though the fact-side
    * predicate is not known until the dim is evaluated. THE mechanism
    * that makes star-schema joins read-bounded at 100 TB when static
    * pruning (H3) can't apply; `FunnelSpec` asserts `dynamicpruning`
    * actually fires in the physical plan. The dim stages to parquet and
    * reads BACK before filtering — a literal frame would constant-fold
    * into a LocalTableScan with no Filter node, and Spark's
    * PartitionPruning rule only prunes against a side that still shows
    * a selective predicate. */
  private val dppJoin = QueryDef(
    "dpp_join",
    (s, d) => {
      import s.implicits._
      val base = Harness.scratch(s, "dpp_join")
      t(s, d, "orders").repartition(F.col("o_orderpriority"))
        .write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(s"$base/fact")
      Seq(
        ("1-URGENT", "expedite"), ("2-HIGH", "expedite"),
        ("3-MEDIUM", "standard"), ("4-NOT SPECIFIED", "standard"),
        ("5-LOW", "deferred"))
        .toDF("priority", "sla_class")
        .write.mode("overwrite").parquet(s"$base/dim")
      val dim = s.read.parquet(s"$base/dim")
      s.read.parquet(s"$base/fact")
        .join(F.broadcast(dim.filter(F.col("sla_class") === "expedite")),
          F.col("o_orderpriority") === F.col("priority"))
        .groupBy("o_orderstatus")
        .agg(
          F.count(F.lit(1)).as("n_orders"),
          pd(F.sum(dec(F.col("o_totalprice")))).as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      WITH dim AS (
        SELECT * FROM (VALUES
          ('1-URGENT', 'expedite'), ('2-HIGH', 'expedite'),
          ('3-MEDIUM', 'standard'), ('4-NOT SPECIFIED', 'standard'),
          ('5-LOW', 'deferred')) AS t(priority, sla_class))
      SELECT o_orderstatus, count(*) AS n_orders,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
                  AS DOUBLE) AS total_price
      FROM orders JOIN dim ON o_orderpriority = priority
      WHERE sla_class = 'expedite'
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ----------------------------------------------------------------- H11
  /** Read through the from-scratch DataSource V2 ([[graft.sources
    * .SynthDocsProvider]]): the range predicate on doc_id is PUSHED
    * INTO THE SOURCE (partitions outside [1000, 60000) are never even
    * planned — the source-level analog of partition pruning), columns
    * prune to what the aggregate needs, and the scan parallelizes over
    * 8 input partitions. Because every row is a pure function of
    * doc_id (md5 text, id-mod source), DuckDB reproduces the entire
    * source from range()+md5() — so the driver's hash compare covers
    * the custom read path end to end. Spec asserts the pruned range
    * and slice count on the physical plan. */
  private val synthSource = QueryDef(
    "synth_source",
    (s, _) => {
      s.read.format("graft.sources.SynthDocsProvider")
        .option("rows", "100000").option("slices", "8").load()
        .where(F.col("doc_id") >= 1000 && F.col("doc_id") < 60000)
        .groupBy("source").agg(
          F.count(F.lit(1)).as("n"),
          F.min("doc_id").as("min_id"),
          F.max("doc_id").as("max_id"),
          F.countDistinct(F.substring(F.col("text"), 1, 1)).as("n_first_hex"))
        .orderBy("source")
    },
    Some("""
      WITH synth AS (
        SELECT r.range AS doc_id,
               md5(CAST(r.range AS VARCHAR)) AS text,
               'src' || CAST(r.range % 4 AS VARCHAR) AS source
        FROM range(0, 100000) r)
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             CAST(count(DISTINCT substr(text, 1, 1)) AS BIGINT) AS n_first_hex
      FROM synth WHERE doc_id >= 1000 AND doc_id < 60000
      GROUP BY 1 ORDER BY source"""))

  val all: Seq[QueryDef] = Seq(
    jsonExtract, aggStats, setOps, aggCollect, groupingSets, windowNtile,
    sourceRoundtrip, partitionedPrune, bucketedJoin, embedKmeans,
    scalarSubquery, intervalJoin, aggMaxBy, windowHopping, aggMode,
    windowPercent, intervalJoinBinned, bloomPrune, zorderLayout,
    stateIslands, resampleInterp, winsorize, tableDiff, corrMatrix,
    orcRoundtrip, dppJoin, synthSource, sinkRoundtrip, sinkTimeTravel,
    sinkChangeFeed)
}
