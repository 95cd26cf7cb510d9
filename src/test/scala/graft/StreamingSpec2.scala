package graft

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{functions => F}

/** Checkpointed recovery: a stopped stream restarted against the same
  * checkpoint must account for every input exactly once — old files are
  * not reprocessed, new files are not missed. */
class StreamingRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("checkpointed aggregation resumes exactly-once across restart") {
    val src = SparkSpec.tempDir("stream_src").toString
    val ckpt = SparkSpec.tempDir("ckpt").toString
    val sink = "graft_recovery_sink"

    def appendBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "v").repartition(1).write.mode("append").parquet(src)

    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy("v").agg(F.count(F.lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    appendBatch(Seq(1L -> "a", 2L -> "b", 3L -> "a"))
    runOnce()
    val first = spark.table(sink).as[(String, Long)].collect().toMap
    assert(first == Map("a" -> 2L, "b" -> 1L))

    appendBatch(Seq(4L -> "a", 5L -> "c"))
    runOnce() // restart from the same checkpoint
    val second = spark.table(sink).as[(String, Long)].collect().toMap
    assert(second == Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
      "restart must process ONLY the new files on top of recovered state")
  }

  test("foreachBatch upsert store: killed + restarted run ends bit-identical to uninterrupted") {
    // The G10 pattern made RESTARTABLE: store versions are keyed by the
    // checkpointed batch id, each merge reads the latest version
    // STRICTLY BELOW the current id and overwrites its own — so a
    // replayed batch (at-least-once delivery after a crash) rebuilds
    // exactly the same version from exactly the same inputs, which is
    // what turns foreachBatch's at-least-once into an exactly-once
    // store. The in-memory `prev` of the bench query would NOT survive
    // a restart; deriving lineage from the batch id is the fix this
    // spec pins down.
    val src = SparkSpec.tempDir("ups_src").toString

    def upsertRun(ckpt: String, store: String): Unit = {
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            val agg = batch.groupBy("user_id").agg(
              F.count(F.lit(1)).as("n_events"), F.sum("value").as("sum_value"))
            val prev = Option(new java.io.File(store).listFiles())
              .getOrElse(Array.empty).toSeq
              .filter(f => f.getName.matches("v\\d+") && f.getName.drop(1).toLong < id)
              .sortBy(_.getName.drop(1).toLong).lastOption
            val merged = prev match {
              case Some(p) =>
                batch.sparkSession.read.parquet(p.toString).unionByName(agg)
                  .groupBy("user_id").agg(
                    F.sum("n_events").as("n_events"),
                    F.sum("sum_value").as("sum_value"))
              case None => agg
            }
            merged.repartition(1).write.mode("overwrite").parquet(s"$store/v$id")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def storeState(store: String): Map[Long, (Long, Long)] = {
      val latest = new java.io.File(store).listFiles().toSeq
        .filter(_.getName.matches("v\\d+"))
        .maxBy(_.getName.drop(1).toLong)
      spark.read.parquet(latest.toString)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    }

    def stage(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("user_id", "value").repartition(1).write.mode("append").parquet(src)

    // interrupted run: drain 2 files, "crash" (query fully stops), stage
    // 2 more, restart against the SAME checkpoint and store
    val ckptA = SparkSpec.tempDir("ups_ckA").toString
    val storeA = SparkSpec.tempDir("ups_stA").toString
    stage(Seq(1L -> 10L, 2L -> 5L))
    stage(Seq(1L -> 7L))
    upsertRun(ckptA, storeA) // batches 0,1
    stage(Seq(2L -> 1L, 3L -> 2L))
    stage(Seq(1L -> 3L))
    upsertRun(ckptA, storeA) // restart: batches 2,3 only

    // control: uninterrupted run over the identical input from scratch
    val ckptB = SparkSpec.tempDir("ups_ckB").toString
    val storeB = SparkSpec.tempDir("ups_stB").toString
    upsertRun(ckptB, storeB)

    val expected = Map(1L -> (3L, 20L), 2L -> (2L, 6L), 3L -> (1L, 2L))
    assert(storeState(storeA) == expected, "restarted store holds exact totals")
    assert(storeState(storeA) == storeState(storeB),
      "killed+restarted and uninterrupted runs must end in identical stores")
  }
}
