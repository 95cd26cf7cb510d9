package graft

import org.apache.spark.sql.functions._

/** Transactional proof for the DSv2 atomic sink (H10): the
  * manifest-gated commit must make a write all-or-nothing —
  *
  *  - a clean overwrite/append round-trips every supported type
  *    (including nulls, tabs/newlines/backslashes in strings, and
  *    bit-exact doubles);
  *  - an INJECTED task failure mid-write aborts the job with NO
  *    visible effect: a fresh path still has no committed snapshot
  *    (reads throw), an appended-onto path still reads EXACTLY its
  *    previous snapshot, and the staging directory is gone either way.
  */
class GraftSinkSpec extends SparkSpec {

  private val FMT = "graft.sources.GraftAtomicSinkProvider"

  private def tmpDir(): String = SparkSpec.tempDir("sink").toString + "/t"

  test("overwrite + append round-trip all supported types, nulls and " +
    "escaped control characters exactly") {
    val path = tmpDir()
    import spark.implicits._
    val df1 = Seq(
      (1, 10L, 1.5, "plain"),
      (2, 20L, math.Pi, "tab\there"),
      (3, 30L, -0.0, "line\nbreak \r and \\N backslash \\ tail"),
      (4, 40L, Double.MaxValue, null.asInstanceOf[String]))
      .toDF("i", "l", "d", "s")
    val df2 = Seq((5, 50L, 1e-300, "")).toDF("i", "l", "d", "s")
    df1.write.format(FMT).option("path", path).mode("overwrite").save()
    val got1 = spark.read.format(FMT).option("path", path).load()
      .orderBy("i")
    assert(got1.schema == df1.schema)
    assert(got1.collect().toSeq == df1.orderBy("i").collect().toSeq)
    // bit-exactness of the double round-trip (covers -0.0 and MaxValue)
    val bits = got1.collect().map(r => java.lang.Double
      .doubleToRawLongBits(r.getDouble(2))).toSeq
    val want = df1.orderBy("i").collect().map(r => java.lang.Double
      .doubleToRawLongBits(r.getDouble(2))).toSeq
    assert(bits == want)

    df2.write.format(FMT).option("path", path).mode("append").save()
    val got2 = spark.read.format(FMT).option("path", path).load()
    assert(got2.count() == 5)
    assert(got2.where(col("i") === 5).collect().head.getString(3) == "")
    // overwrite truncates: only the new snapshot remains
    df2.write.format(FMT).option("path", path).mode("overwrite").save()
    assert(spark.read.format(FMT).option("path", path).load()
      .collect().map(_.getInt(0)).toSeq == Seq(5))
  }

  /** A frame whose write fails mid-job: one row raises at evaluation
    * time AFTER other rows/partitions have already been written. */
  private def poisoned = spark.range(0, 1000, 1, 4)
    .select(col("id"),
      when(col("id") === 777L,
        raise_error(lit("injected task failure")).cast("long"))
        .otherwise(col("id") * 2).as("v"))

  test("a failed first write publishes nothing: no committed snapshot, " +
    "no staging residue") {
    val path = tmpDir()
    val err = intercept[Exception] {
      poisoned.write.format(FMT).option("path", path)
        .mode("overwrite").save()
    }
    assert(err.getMessage != null)
    // no manifest -> reads must refuse, not return partial rows
    val readErr = intercept[Exception] {
      spark.read.format(FMT).option("path", path).load().collect()
    }
    assert(readErr.getMessage.contains("no committed snapshot"),
      s"got: ${readErr.getMessage}")
    // abort dropped the staging dir (data/ may exist but is unreachable)
    val staging = new java.io.File(path, "_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty,
      "staging directory survived the abort")
  }

  test("a failed append leaves the previous snapshot intact and fully " +
    "readable") {
    val path = tmpDir()
    import spark.implicits._
    val base = (0L until 100L).map(i => (i, i * 3)).toDF("id", "v")
    base.write.format(FMT).option("path", path).mode("overwrite").save()
    intercept[Exception] {
      poisoned.write.format(FMT).option("path", path)
        .mode("append").save()
    }
    val got = spark.read.format(FMT).option("path", path).load()
      .orderBy("id").collect()
    assert(got.length == 100, s"snapshot changed: ${got.length} rows")
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 100L).map(i => (i, i * 3)))
    val staging = new java.io.File(path, "_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty)
  }

  test("time travel: option(version, N) reads exactly snapshot N; " +
    "missing versions error with the latest named") {
    val path = tmpDir()
    import spark.implicits._
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val v2 = Seq((3, "c")).toDF("id", "s")
    v1.write.format(FMT).option("path", path).mode("overwrite").save()
    v2.write.format(FMT).option("path", path).mode("append").save()
    def readV(v: Long) = spark.read.format(FMT).option("path", path)
      .option("version", v.toString).load().orderBy("id")
    assert(readV(1).collect().map(_.getInt(0)).toSeq == Seq(1, 2),
      "version 1 must be the first commit's content, untouched by the append")
    assert(readV(2).collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // latest (no option) == newest version
    assert(spark.read.format(FMT).option("path", path).load()
      .orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // a truncate starts v3 fresh, and v1/v2 STAY readable (the chain
    // is never rewritten)
    v2.write.format(FMT).option("path", path).mode("overwrite").save()
    assert(readV(3).collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(readV(1).collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    val err = intercept[Exception] { readV(9).collect() }
    assert(err.getMessage.contains("no committed version 9") &&
      err.getMessage.contains("3"), s"got: ${err.getMessage}")
  }

  test("overlapping writers serialize: a commit planned before another " +
    "writer's commit still appends onto the NEWEST snapshot") {
    val path = tmpDir()
    import spark.implicits._
    Seq((1, 10L)).toDF("id", "v").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    // two BatchWrites created against the SAME v1 snapshot, committed
    // in sequence — commit-time resolution must chain them (v2 then
    // v3 carrying v2's files), not have the second clobber the first
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def stagedCommit(tag: String, id: Int): Unit = {
      val bw = new graft.sources.GraftSinkBatchWrite(
        path, schema, s"q_$tag", truncate = false)
      val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](id, id * 10L))
      w.write(row)
      bw.commit(Array(w.commit()))
    }
    stagedCommit("a", 2)
    stagedCommit("b", 3)
    val all = spark.read.format(FMT).option("path", path).load()
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(all == Seq(1, 2, 3), s"lost an overlapping commit: $all")
    val v2 = spark.read.format(FMT).option("path", path)
      .option("version", "2").load().collect().map(_.getInt(0)).toSeq
    assert(v2.sorted == Seq(1, 2))
  }

  test("concurrent batch + streaming appenders: every row exactly once, " +
    "no version gap") {
    import java.util.concurrent.{Callable, ConcurrentLinkedQueue,
      CountDownLatch, Executors}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val path = tmpDir()
    val schema = StructType(Seq(StructField("id", IntegerType)))
    val batchWriters = 8
    val rounds = 4
    val acked = new ConcurrentLinkedQueue[Int]()
    val stream = new graft.sources.GraftSinkStreamingWrite(path, schema, "qs")
    val pool = Executors.newFixedThreadPool(batchWriters + 1)
    try (1 to rounds).foreach { round =>
      val go = new CountDownLatch(1)
      // every writer stages its row first, then all commit at once
      val commits = (0 to batchWriters).map { w =>
        val id = round * 100 + w
        pool.submit(new Callable[Unit] {
          def call(): Unit = {
            val row = new GenericInternalRow(Array[Any](id))
            if (w < batchWriters) {
              val bw = new graft.sources.GraftSinkBatchWrite(
                path, schema, s"q_${round}_$w", truncate = false)
              val tw = bw.createBatchWriterFactory(null).createWriter(0, 0L)
              tw.write(row)
              val msg = tw.commit()
              go.await()
              bw.commit(Array(msg))
            } else {
              val tw = stream.createStreamingWriterFactory(null)
                .createWriter(0, 0L, round.toLong)
              tw.write(row)
              val msg = tw.commit()
              go.await()
              stream.commit(round.toLong, Array(msg))
            }
            acked.add(id)
          }
        })
      }
      go.countDown()
      commits.foreach(_.get())
    } finally pool.shutdownNow()
    val got = spark.read.format(FMT).option("path", path).load()
      .collect().map(_.getInt(0)).sorted.toSeq
    val want = acked.asScala.toSeq.sorted
    assert(want.size == rounds * (batchWriters + 1))
    assert(got == want, s"lost or duplicated rows: " +
      s"missing ${want.diff(got)}, extra ${got.diff(want)}")
    val versions = new java.io.File(path).list().toSeq
      .filter(_.startsWith("_graft_commit_v"))
      .map(_.stripPrefix("_graft_commit_v").stripSuffix(".json").toLong)
      .sorted
    assert(versions == (1L to want.size.toLong),
      s"version chain is not 1..${want.size}: $versions")
  }

  test("append with a reordered/retyped schema is refused instead of " +
    "reinterpreting committed files") {
    val path = tmpDir()
    import spark.implicits._
    Seq((1, "a")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    val err = intercept[Exception] {
      Seq(("b", 2)).toDF("s", "id").write.format(FMT)
        .option("path", path).mode("append").save()
    }
    assert(err.getMessage.contains("incompatible"),
      s"got: ${err.getMessage}")
    // the snapshot is untouched and an overwrite with the new schema works
    assert(spark.read.format(FMT).option("path", path).load()
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    Seq(("b", 2)).toDF("s", "id").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    assert(spark.read.format(FMT).option("path", path).load()
      .collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("parquet round-trips exactly; a failed parquet append publishes " +
    "nothing") {
    val path = tmpDir()
    import spark.implicits._
    val df1 = Seq(
      (1, 10L, math.Pi, "plain"),
      (2, 20L, -0.0, "tab\there and line\nbreak"),
      (3, 30L, Double.MinPositiveValue, null.asInstanceOf[String]))
      .toDF("i", "l", "d", "s")
    df1.write.format(FMT).option("path", path).option("format", "parquet")
      .mode("overwrite").save()
    val files = new java.io.File(path, "data").listFiles()
      .filterNot(_.getName.startsWith(".")) // Hadoop .crc companions
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".parquet")),
      "expected parquet-encoded data files")
    val got = spark.read.format(FMT).option("path", path).load()
      .orderBy("i")
    assert(got.schema == df1.schema)
    assert(got.collect().toSeq == df1.orderBy("i").collect().toSeq)
    assert(got.collect().map(r => java.lang.Double
      .doubleToRawLongBits(r.getDouble(2))).toSeq ==
      df1.orderBy("i").collect().map(r => java.lang.Double
        .doubleToRawLongBits(r.getDouble(2))).toSeq)
    // parquet is the only encoding: any other format is refused up front
    val err = intercept[Exception] {
      df1.write.format(FMT).option("path", path).option("format", "tsv")
        .mode("append").save()
    }
    assert(err.getMessage.contains("parquet only"), s"got: ${err.getMessage}")
    // a failed append publishes nothing: the snapshot still reads 3 rows
    intercept[Exception] {
      poisoned.write.format(FMT).option("path", path)
        .option("format", "parquet").mode("append").save()
    }
    assert(spark.read.format(FMT).option("path", path).load()
      .count() == 3)
  }

  test("streaming write: epochs append snapshots; a REPLAYED epoch is " +
    "dropped, not double-published (exactly-once)") {
    val path = tmpDir()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType)))
    val sw = new graft.sources.GraftSinkStreamingWrite(path, schema, "qs")
    def commitEpoch(epoch: Long, ids: Seq[Int],
        w: graft.sources.GraftSinkStreamingWrite = sw): Unit = {
      val writer = w.createStreamingWriterFactory(null)
        .createWriter(0, 0L, epoch)
      ids.foreach { i =>
        writer.write(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](i)))
      }
      w.commit(epoch, Array(writer.commit()))
    }
    commitEpoch(0L, Seq(1, 2))
    commitEpoch(1L, Seq(3))
    def readIds() = spark.read.format(FMT).option("path", path).load()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(readIds() == Seq(1, 2, 3))
    // replay epoch 1 (post-recovery, even from a FRESH StreamingWrite
    // instance): the #epoch marker must make it a no-op
    val recovered =
      new graft.sources.GraftSinkStreamingWrite(path, schema, "qs")
    commitEpoch(1L, Seq(3), recovered)
    assert(readIds() == Seq(1, 2, 3), "replayed epoch double-published")
    // a LATER epoch still lands, and earlier snapshots stay readable
    commitEpoch(2L, Seq(4), recovered)
    assert(readIds() == Seq(1, 2, 3, 4))
    assert(spark.read.format(FMT).option("path", path)
      .option("version", "2").load().count() == 3)
    // an INDEPENDENT streaming query's epoch 1 is not confused with qs's
    val other = new graft.sources.GraftSinkStreamingWrite(path, schema, "qt")
    commitEpoch(1L, Seq(9), other)
    assert(readIds() == Seq(1, 2, 3, 4, 9))
  }

  test("a real writeStream through the sink drains and reads back " +
    "exactly (AvailableNow, file source)") {
    import spark.implicits._
    val src = SparkSpec.tempDir("ss").toString
    (1 to 50).map(i => (i, i * 2L)).toDF("id", "v")
      .repartition(4).write.mode("overwrite").parquet(src)
    val path = tmpDir()
    val ckpt = SparkSpec.tempDir("ck").toString
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .where(col("id") % 2 === 0)
      .writeStream.format(FMT)
      .option("path", path).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.format(FMT).option("path", path).load()
      .orderBy("id").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == (2 to 50 by 2).map(i => (i, i * 2L)))
    // restarting against the same checkpoint with no new data appends
    // nothing (the file-source offsets + epoch markers both hold)
    val q2 = spark.readStream
      .schema(spark.read.parquet(src).schema).parquet(src)
      .where(col("id") % 2 === 0)
      .writeStream.format(FMT)
      .option("path", path).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.format(FMT).option("path", path).load()
      .count() == 25)
  }

  test("streaming READ: versions are offsets — a restarted stream " +
    "consumes only the delta since its checkpoint") {
    import spark.implicits._
    val path = tmpDir()
    val ckpt = SparkSpec.tempDir("src_ck")
      .toString
    Seq((1, "a"), (2, "b")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    // a checkpoint-recoverable sink (parquet file sink — the memory
    // sink refuses restarts): any RE-read after a restart would append
    // duplicate ids here, so uniqueness IS the delta proof
    val outDir = SparkSpec.tempDir("src_out")
      .toString
    def drainTo(): Unit = {
      val q = spark.readStream.format(FMT).option("path", path).load()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def outIds() = spark.read.parquet(outDir)
      .collect().map(_.getInt(0)).sorted.toSeq
    drainTo()
    assert(outIds() == Seq(1, 2))
    // append a second version, restart against the SAME checkpoint:
    // only the delta files may be planned (versions ≤ 1 are committed)
    Seq((3, "c"), (4, "d")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("append").save()
    drainTo()
    assert(outIds() == Seq(1, 2, 3, 4),
      "restart must consume exactly the new version's files, no re-reads")
    // nothing new -> an empty batch, never a re-read
    drainTo()
    assert(outIds() == Seq(1, 2, 3, 4))
  }

  test("batch change feed: startVersion plans exactly the files the " +
    "range added") {
    import spark.implicits._
    val path = tmpDir()
    Seq((1, "a"), (2, "b")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    Seq((3, "c")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("append").save()
    Seq((4, "d")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("append").save()
    def feed(opts: (String, String)*) = {
      val r = opts.foldLeft(spark.read.format(FMT)
        .option("path", path)) { case (b, (k, v)) => b.option(k, v) }
      r.load().collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(feed("startVersion" -> "1") == Seq(3, 4))
    assert(feed("startVersion" -> "2") == Seq(4))
    assert(feed("startVersion" -> "3") == Seq())
    assert(feed("startVersion" -> "0") == Seq(1, 2, 3, 4))
    // both bounds: the (1, 2] delta stays stable as the chain grows
    assert(feed("version" -> "2", "startVersion" -> "1") == Seq(3))
    val err = intercept[Exception] { feed("startVersion" -> "9") }
    assert(err.getMessage.contains("no committed startVersion 9"))
    // a truncate resets the feed baseline: only rows written after it
    Seq((5, "e")).toDF("id", "s").write.format(FMT)
      .option("path", path).mode("overwrite").save()
    assert(feed("startVersion" -> "2") == Seq(5),
      "replaced history must not replay through the feed")
  }

  test("unsupported column types fail at write-build time with a clear " +
    "error") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq((1, java.sql.Date.valueOf("2024-01-01"))).toDF("i", "dt")
        .write.format(FMT).option("path", tmpDir())
        .mode("overwrite").save()
    }
    assert(err.getMessage.contains("int/long/double/string"),
      s"got: ${err.getMessage}")
  }

  test("a table whose data file parquet-java's example writer wrote " +
    "reads back exactly, as a batch and as a change feed") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmpDir()
    val conf = spark.sparkContext.hadoopConfiguration
    // the reference encoding: message graft_sink, every column an
    // optional primitive, strings as UTF-8-annotated binary
    val msg = Types.buildMessage()
      .optional(INT32).named("i").optional(INT64).named("l")
      .optional(DOUBLE).named("d")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("s")
      .named("graft_sink")
    val rows = Seq(
      Row(1, 10L, -0.0, "tab\there"),
      Row(2, null, Double.MinPositiveValue, null),
      Row(3, 30L, math.Pi, ""))
    val file = "part-0-0-legacy.parquet"
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/data/$file"), conf))
      .withType(msg).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(msg)
    try rows.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add(0, r.getInt(0))
      if (!r.isNullAt(1)) g.add(1, r.getLong(1))
      if (!r.isNullAt(2)) g.add(2, r.getDouble(2))
      if (!r.isNullAt(3)) g.add(3, r.getString(3))
      w.write(g)
    } finally w.close()
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("s", StringType)))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_graft_commit_v1.json"),
      s"${schema.json}\n$file\t${rows.size}")
    def exact(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.orderBy("i").collect().toSeq
      assert(df.schema == schema)
      assert(got == rows, s"got $got")
      assert(got.map(r => java.lang.Double.doubleToRawLongBits(
        r.getDouble(2))) == rows.map(r => java.lang.Double
        .doubleToRawLongBits(r.getDouble(2))))
    }
    exact(spark.read.format(FMT).option("path", path).load())
    exact(spark.read.format(FMT).option("path", path)
      .option("startVersion", "0").load())
  }

  test("reading a 40-file snapshot starts exactly one Spark job") {
    import spark.implicits._
    val path = tmpDir()
    (1 to 40).foreach { i =>
      Seq((i, s"r$i")).toDF("id", "s").coalesce(1).write.format(FMT)
        .option("path", path).mode("append").save()
    }
    val files = new java.io.File(path, "data").list()
      .count(_.endsWith(".parquet"))
    assert(files == 40, s"expected 40 data files, found $files")
    val (ids, jobs) = org.apache.spark.TestListenerBus
      .countingJobs(spark.sparkContext) { jobsNow =>
        val got = spark.read.format(FMT).option("path", path).load()
          .collect().map(_.getInt(0)).sorted.toSeq
        (got, jobsNow())
      }
    assert(ids == (1 to 40))
    assert(jobs == 1, s"the read started $jobs Spark jobs")
  }

  private def nullableV(rows: Seq[(Long, java.lang.Long)], nullable: Boolean) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava,
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType, nullable))))
  }

  private def readKV(path: String, version: Option[Long] = None) = {
    val r = spark.read.format(FMT).option("path", path)
    val df = version.fold(r)(v => r.option("version", v.toString)).load()
    (df.schema("v").nullable, df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.get(1))).toSeq)
  }

  test("an append keeps committed nulls: a column is nullable if either " +
    "side is, and every version reads back exactly") {
    def save(df: org.apache.spark.sql.DataFrame, path: String, mode: String) =
      df.write.format(FMT).option("path", path).mode(mode).save()
    // a non-nullable append onto a snapshot holding nulls
    val p1 = tmpDir()
    save(nullableV(Seq((1L, null), (2L, 20L)), nullable = true), p1, "overwrite")
    save(nullableV(Seq((3L, 30L)), nullable = false), p1, "append")
    assert(readKV(p1) == (true, Seq((1L, null), (2L, 20L), (3L, 30L))))
    assert(readKV(p1, Some(1L)) == (true, Seq((1L, null), (2L, 20L))))
    assert(readKV(p1, Some(2L)) == readKV(p1))
    // a nullable append onto a non-nullable snapshot
    val p2 = tmpDir()
    save(nullableV(Seq((1L, 10L)), nullable = false), p2, "overwrite")
    save(nullableV(Seq((2L, null)), nullable = true), p2, "append")
    assert(readKV(p2, Some(1L)) == (false, Seq((1L, 10L))))
    assert(readKV(p2) == (true, Seq((1L, 10L), (2L, null))))
  }

  test("a strict-validated batch whose nullable field comes from its " +
    "default appends without rewriting committed nulls") {
    import graft.schema._
    import spark.implicits._
    val path = tmpDir()
    nullableV(Seq((1L, null), (2L, 20L)), nullable = true).write.format(FMT)
      .option("path", path).mode("overwrite").save()
    val s = GSchema("S").field(GLong("k"))
      .field(GLong("v", nullable = true, default = Some(7L)))
    s.validator.validate(Seq(3L).toDF("k")).write.format(FMT)
      .option("path", path).mode("append").save()
    assert(readKV(path) == (true, Seq((1L, null), (2L, 20L), (3L, 7L))))
  }
}
