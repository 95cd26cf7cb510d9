package graft

import graft.operators.Multimodal
import org.apache.spark.sql.{functions => F}

/** SURVEY §2 F2 (multimodal plumbing) + H2/H3 (sources/sinks). */
class MultimodalSourcesSpec extends SparkSpec {

  import spark.implicits._

  test("F2: batched binary decode pipeline preserves schema and rows") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("payload", F.col("text").cast("binary"))
    val out = Multimodal.withMediaMeta(docs, "payload", batchSize = 16)
    assert(out.count() == docs.count())
    assert(out.schema.fieldNames.last == "media_meta")
    val meta = out.select("media_meta.*").head()
    assert(meta.getAs[String]("format") == "raw") // text bytes, not jpeg/png
    assert(meta.getAs[Long]("n_bytes") > 0L)
    // deterministic across runs
    val a = out.select("media_meta.width").collect().map(_.getInt(0)).toSeq
    val b = Multimodal.withMediaMeta(docs, "payload", batchSize = 16)
      .select("media_meta.width").collect().map(_.getInt(0)).toSeq
    assert(a == b)
  }

  test("F2: magic-byte format sniffing in the stub decoder") {
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2)
    assert(Multimodal.FakeDecoder.decode(jpeg)._1 == "jpeg")
    val png = Array[Byte](0x89.toByte, 0x50, 1, 2)
    assert(Multimodal.FakeDecoder.decode(png)._1 == "png")
  }

  test("F2: frame sampling emits stride-spaced offsets") {
    val d = Seq((1L, Array.fill[Byte](1000)(7))).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(d, "payload", "id", frameBytes = 100, stride = 2)
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(frames.map(_._2).toSeq == Seq(0, 200, 400, 600, 800))
  }

  test("F2: empty and NULL payloads yield zero frames") {
    val d = Seq((1L, Array.empty[Byte]), (2L, null.asInstanceOf[Array[Byte]]),
      (3L, Array.fill[Byte](150)(1))).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(d, "payload", "id", frameBytes = 100, stride = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(frames.toSeq == Seq((3L, 0), (3L, 100)))
  }

  test("H2: csv and json round-trip with schema enforcement") {
    val dir = SparkSpec.tempDir("sources").toString
    val schema = graft.queries.Schemas.documents
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)

    docs.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val csvBack = spark.read.option("header", "true").schema(schema.structType)
      .csv(s"$dir/csv")
    assert(schema.validator.filterValid(csvBack).count() == 50)

    docs.write.mode("overwrite").json(s"$dir/json")
    val jsonBack = spark.read.schema(schema.structType).json(s"$dir/json")
    assert(jsonBack.schema("doc_id").dataType.typeName == "long")
    assert(jsonBack.count() == 50)
  }

  test("H3: partitioned write + partition-pruned read") {
    val dir = SparkSpec.tempDir("part").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/by_lang")

    val pruned = spark.read.parquet(s"$dir/by_lang").filter(F.col("lang") === "en")
    val expected = docs.filter(F.col("lang") === "en").count()
    assert(pruned.count() == expected)
    // partition pruning visible in the plan: only lang=en directory scanned
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("lang"))
  }
}
