package graft

import graft.queries.Schemas
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{functions => F}

/** SURVEY §2 G1–G3: streaming validation, watermarked windows, stateful
  * dedup — driven synchronously through MemoryStream + memory sink. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def events = Seq(
    Ev(1L, ts("2024-01-01 00:01:00"), 1L, "click", 1.0, "{}"),
    Ev(2L, ts("2024-01-01 00:05:00"), 1L, "view", 2.0, "{}"),
    Ev(2L, ts("2024-01-01 00:05:00"), 1L, "view", 2.0, "{}"), // dup
    Ev(3L, ts("2024-01-01 01:30:00"), 2L, "click", -1.0, "{}"),
    Ev(4L, ts("2024-01-01 01:45:00"), 2L, "", 3.0, "{}")) // invalid type

  test("G1: streaming schema validation filters invalid rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val validated = StreamOps.validateStream(
      mem.toDF(), Schemas.events.copy(fields =
        Schemas.events.fields.filterNot(_.name == "schema_version")))
    val q = validated.writeStream.format("memory").queryName("g1")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable(); q.stop()
    val ids = spark.table("g1").select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L)) // event 4 dropped: empty event_type
  }

  test("G2: watermarked tumbling window counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingCounts(mem.toDF(), "ts", "1 hour", "2 hours", "event_type")
    val q = agg.writeStream.format("memory").queryName("g2")
      .outputMode("complete").start()
    mem.addData(events: _*)
    q.processAllAvailable(); q.stop()
    val rows = spark.table("g2")
      .select(F.date_format(F.col("win_start"), "HH:mm").as("w"), F.col("event_type"), F.col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("00:00", "view", 2L)))
    assert(rows.contains(("01:00", "click", 1L)))
  }

  test("G15: transition replay emits event order, not arrival order") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.TransIn]
    val out = StreamOps.transitionsStream(mem.toDS(),
      flushDelayMs = 30L * 60 * 1000)
    val q = out.toDF().writeStream.format("memory").queryName("g15")
      .outputMode("append").start()
    // user 1 arrives SCRAMBLED: b (00:10), a (00:05), c (00:15)
    mem.addData(
      StreamOps.TransIn(1L, ts("2024-01-01 00:10:00"), 2L, "b"),
      StreamOps.TransIn(1L, ts("2024-01-01 00:05:00"), 1L, "a"),
      StreamOps.TransIn(1L, ts("2024-01-01 00:15:00"), 3L, "c"))
    q.processAllAvailable()
    // a late rider pushes the watermark past user 1's flush timeout
    // (00:15 + 30 min); the no-data batch then fires the replay
    mem.addData(StreamOps.TransIn(99L, ts("2024-01-01 02:00:00"), 9L, "x"))
    q.processAllAvailable()
    mem.addData(StreamOps.TransIn(99L, ts("2024-01-01 03:00:00"), 10L, "x"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("g15").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set((1L, "a", "b"), (1L, "b", "c")))
  }

  test("G3: stateful streaming dedup drops exact duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val deduped = StreamOps.dedupStream(mem.toDF(), "ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("g3")
      .outputMode("append").start()
    mem.addData(events: _*)
    q.processAllAvailable(); q.stop()
    assert(spark.table("g3").count() == 4) // 5 in, 1 dup dropped
  }

  test("stream_tumbling's memory-sink view is dropped at release") {
    def sinkViews = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_sink_"))
    val rows = SparkEntry.queries("stream_tumbling")(spark, sf).collect()
    assert(rows.nonEmpty)
    graft.operators.CacheScope.release(spark)
    assert(sinkViews.isEmpty, sinkViews.mkString(", "))
  }
}
