package graft.queries

import org.apache.spark.sql.{functions => F}
import Tables.t

/** Wave-23 inventory (r6): the hard sources/sinks cases production
  * actually breaks on — CSV round-trips of adversarial text (embedded
  * newlines, quotes, delimiters: the H2 supplier round-trip never
  * exercises quoting), schema-evolution reads across heterogeneous
  * parquet generations (mergeSchema + null backfill), and dynamic
  * partition overwrite (the idempotent-backfill write mode).
  *
  * Each call writes under its own [[Harness.scratch]] dir, so neither
  * a re-run nor a concurrent JVM can clobber a write mid-read; the dir
  * is deleted at the caller's `CacheScope.release`.
  */
object IoQueries {

  // ---------------------------------------------------------------- H13
  /** CSV round-trip of ADVERSARIAL text — the documents corpus (which
    * contains whatever bytes the generator emitted) is written as
    * quoted CSV and read back with multiLine parsing; output compares
    * a per-source row count with an order-independent integer checksum
    * of md5(text) — any quoting/escaping/newline loss changes the sum.
    * The oracle computes the same checksum from the ORIGINAL table:
    * equality proves the round trip lossless. multiLine=true is the
    * production flag this query exists to pin: without it a quoted
    * embedded newline silently splits one document into two corrupt
    * rows. */
  private val csvTextRoundtrip = QueryDef(
    "csv_text_roundtrip",
    (s, d) => {
      val base = Harness.scratch(s, "csv_text")
      val docs = t(s, d, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(s"$base/csv")
      s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(s"$base/csv")
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(graft.operators.Hashing.hash60(F.col("text")) %
            F.lit(1000000007L)).as("text_checksum"),
          F.sum(F.length(F.col("text"))).as("total_chars"))
        .orderBy("source")
    },
    Some(s"""
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(${graft.operators.Hashing.hash60Sql("text")}
                      % 1000000007) AS BIGINT) AS text_checksum,
             CAST(sum(length(text)) AS BIGINT) AS total_chars
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- H14
  /** Schema-evolution read across parquet generations: generation v1
    * is written WITHOUT the quality column, generation v2 WITH it (the
    * "new field added to the pipeline mid-history" case); a single
    * mergeSchema read unifies both — v1 rows surface the new column as
    * NULL, and the per-generation aggregate proves the backfill
    * semantics (null count == v1 rows) plus content preservation. The
    * oracle reproduces the union with an explicit NULL column. */
  private val mergeSchemaRead = QueryDef(
    "merge_schema_read",
    (s, d) => {
      val base = Harness.scratch(s, "merge_schema")
      val docs = t(s, d, "documents")
      docs.where(F.expr("doc_id % 2 = 0"))
        .select(F.col("doc_id"), F.col("source"), F.col("n_chars"),
          F.lit("v1").as("gen"))
        .write.mode("overwrite").parquet(s"$base/gen=1")
      docs.where(F.expr("doc_id % 2 = 1"))
        .select(F.col("doc_id"), F.col("source"), F.col("n_chars"),
          F.lit("v2").as("gen"),
          F.expr("n_chars div 100").as("quality_band"))
        .write.mode("overwrite").parquet(s"$base/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$base/gen=1", s"$base/gen=2")
        .groupBy("gen", "source")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("n_chars").as("sum_chars"),
          F.sum(F.when(F.col("quality_band").isNull, 1L).otherwise(0L))
            .as("n_null_band"),
          F.coalesce(F.sum("quality_band"), F.lit(0L)).as("sum_band"))
        .orderBy("gen", "source")
    },
    Some("""
      WITH u AS (
        SELECT doc_id, source, n_chars, 'v1' AS gen,
               CAST(NULL AS BIGINT) AS quality_band
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, source, n_chars, 'v2' AS gen,
               n_chars // 100 AS quality_band
        FROM documents WHERE doc_id % 2 = 1)
      SELECT gen, source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(CASE WHEN quality_band IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_band,
             CAST(coalesce(sum(quality_band), 0) AS BIGINT) AS sum_band
      FROM u GROUP BY gen, source ORDER BY gen, source"""))

  // ---------------------------------------------------------------- H15
  /** Dynamic partition overwrite — the idempotent-backfill write mode:
    * a source-partitioned table is fully written, then ONE partition is
    * re-written (its rows transformed) with
    * partitionOverwriteMode=dynamic; untouched partitions must survive
    * byte-identically and the overwritten one must show the new
    * content. The oracle applies the same transform with a CASE. This
    * is the semantics a daily re-run relies on: re-emitting one day
    * never truncates the table. */
  private val partitionOverwrite = QueryDef(
    "partition_overwrite",
    (s, d) => {
      val base = s"${Harness.scratch(s, "partition_overwrite")}/tbl"
      val docs = t(s, d, "documents")
        .select("doc_id", "source", "n_chars")
      docs.write.mode("overwrite").partitionBy("source").parquet(base)
      val firstSource = "src1" // fixed target partition, present at all SFs
      docs.where(F.col("source") === firstSource)
        .withColumn("n_chars", F.col("n_chars") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(base)
      s.read.parquet(base)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n"), F.sum("n_chars").as("sum_chars"))
        .orderBy("source")
    },
    Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN source = 'src1' THEN n_chars * 2
                           ELSE n_chars END) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source ORDER BY source"""))

  // ---------------------------------------------------------------- H18
  /** JSONL round-trip of the same adversarial corpus H13 pins for CSV —
    * line-delimited JSON is the other interchange format a training-
    * data pipeline actually ships (crawl dumps, annotation exports),
    * and its failure mode is the same: an unescaped newline splits a
    * document. The documents table is written as JSONL and read back
    * with an explicit schema (schema-on-read, no inference pass at
    * 100 TB); output is H13's per-source count + order-independent
    * text checksum + char total, and the oracle computes them from the
    * ORIGINAL parquet — hash equality proves the round trip lossless
    * through JSON string escaping. */
  private val jsonlRoundtrip = QueryDef(
    "jsonl_roundtrip",
    (s, d) => {
      val base = Harness.scratch(s, "jsonl")
      val docs = t(s, d, "documents")
        .select("doc_id", "text", "lang", "source")
      docs.write.mode("overwrite").json(s"$base/jsonl")
      s.read.schema(docs.schema).json(s"$base/jsonl")
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(graft.operators.Hashing.hash60(F.col("text")) %
            F.lit(1000000007L)).as("text_checksum"),
          F.sum(F.length(F.col("text"))).as("total_chars"))
        .orderBy("source")
    },
    Some(s"""
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(${graft.operators.Hashing.hash60Sql("text")}
                      % 1000000007) AS BIGINT) AS text_checksum,
             CAST(sum(length(text)) AS BIGINT) AS total_chars
      FROM documents GROUP BY source ORDER BY source"""))

  val all: Seq[QueryDef] = Seq(csvTextRoundtrip, mergeSchemaRead,
    partitionOverwrite, jsonlRoundtrip)
}
