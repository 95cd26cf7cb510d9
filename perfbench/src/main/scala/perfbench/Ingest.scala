package perfbench

import java.io.File

import scala.collection.mutable

import graft.queries.Schemas
import graft.schema.{GSchema, SchemaViolationException}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.json4s._

/** The ingest workload: slices of lineitem, events and documents pass
  * through graft's validators (report, filter mode, strict mode) and are
  * appended to graft's transactional sink; each table is then read at
  * its latest version, at a time-travel version and as a change feed.
  * A streaming leg appends micro-batches into the events table, and the
  * per-row validator checks a fixed row sample. Every op's result is
  * checked against the oracle the generator computed with DuckDB.
  *
  * Set-up pre-populates each table with the history versions; every
  * pass starts from a copy of that state, so every pass measures the
  * same tables, and the pass's appends are checked to be in the latest
  * snapshot exactly once before the next pass restores the copy. */
final class IngestWorkload(ctx: Ctx, inputs: Seq[String]) extends Workload {
  import IngestWorkload._

  private val spark = ctx.spark
  /** The oracle of one copy of the inputs; the passes use the last. */
  private def expectAt(input: String): JValue = Json.read(s"$input/expect.json") \ "tables"
  private val expect = expectAt(inputs.last)

  private final class Slice(j: JValue) {
    val kind: String = Json.str(j \ "kind")
    val path: String = Json.str(j \ "path")
    val rows: Long = Json.long(j \ "rows")
    val valid: Long = Json.long(j \ "valid")
    val bytes: Long = Json.long(j \ "bytes")
    val report: Seq[(String, Long)] = Json.arr(j \ "report").map { r =>
      val List(m, c) = Json.arr(r)
      Json.str(m) -> Json.long(c)
    }
    lazy val df: DataFrame = spark.read.parquet(path)
  }

  /** One sink table and what the benchmark knows must be in it. */
  private final class Table(val name: String, val schema: GSchema,
      val fillNulls: Boolean) {
    val sink: String = s"${ctx.work}/sink/$name"
    val validator = schema.validator
    private val e = expect \ name
    val slices: Seq[Slice] = Json.arr(e \ "slices").map(new Slice(_))
    val history: Seq[Slice] = Json.arr(e \ "history").map(new Slice(_))
    val stream: Option[Slice] = e \ "stream" match {
      case JNothing => None
      case j => Some(new Slice(j))
    }
    /** Rows of every acknowledged append in the table, by append id. */
    val acked = mutable.LinkedHashMap.empty[String, Long]
    /** Latest version when the pass began, and rows acknowledged since. */
    var passStart = 0L
    var passRows = 0L
    /** Bytes of input the acknowledged appends carried. */
    var inputBytes = 0L
    def ack(id: String, n: Long, bytes: Long): Unit = {
      acked(id) = n
      passRows += n
      inputBytes += bytes
    }
    def rows: Long = acked.values.sum

    /** Back to the pre-populated state set-up left in `template`. */
    def restore(template: String): Unit = {
      FileUtils.deleteDirectory(new File(sink))
      FileUtils.copyDirectory(new File(s"$template/$name"), new File(sink))
      acked.clear()
      inputBytes = 0L
      history.zipWithIndex.foreach { case (h, v) => acked(s"h$v") = h.valid; inputBytes += h.bytes }
      passStart = latestVersion(sink)
      passRows = 0L
    }
  }

  private val tables = Seq(
    new Table("lineitem", Schemas.lineitem, fillNulls = false),
    new Table("events", Schemas.events, fillNulls = true),
    new Table("documents", Schemas.documents, fillNulls = false))

  private val rowSample = new Slice(expect \ "lineitem" \ "rowsample")
  private var sampleRows: Seq[Map[String, Any]] = Nil

  def inputRows: Long =
    tables.map(t => t.slices.map(_.rows).sum + t.stream.map(_.rows).getOrElse(0L)).sum +
      rowSample.rows

  /** Where the last set-up round left the pre-populated tables. */
  private var template = ""
  private var passes = 0
  private val passChecks = mutable.ArrayBuffer.empty[(String, Option[String])]
  /** Sink bytes (data plus manifests) per byte of appended input, after
    * the first (verify) pass. */
  var tableBytesPerInputByte = 0.0

  def setup(round: Int): Seq[(String, Double)] = {
    template = s"${ctx.work}/template$round"
    val roundExpect = expectAt(inputs(round - 1))
    val t0 = System.nanoTime()
    tables.foreach { t =>
      Json.arr(roundExpect \ t.name \ "history").map(new Slice(_)).zipWithIndex.foreach { case (h, v) =>
        write(sinkable(t.validator.filterValid(h.df, t.fillNulls), s"h$v"),
          s"$template/${t.name}", overwrite = v == 0)
      }
    }
    val t1 = System.nanoTime()
    // the per-row validator takes plain values, as a client would pass
    // them; timestamps arrive as instants
    sampleRows = rowSample.df.collect().toSeq.map { r =>
      r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
        n -> (r.get(i) match {
          case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
          case v => v
        })
      }.toMap
    }
    Seq("prepopulate_s" -> (t1 - t0) / 1e9)
  }

  val ops: Seq[Op] = tables.flatMap { t =>
    val filter = t.slices.filter(_.kind == "filter")
    val strict = t.slices.filter(_.kind == "strict")
    filter.zipWithIndex.map { case (s, i) => reportOp(t, s, i) } ++
      filter.zipWithIndex.map { case (s, i) => appendOp(t, s, i, strictMode = false) } ++
      strict.zipWithIndex.map { case (s, i) => appendOp(t, s, i, strictMode = true) } ++
      t.stream.map(s => streamOp(t, s)).toSeq ++
      Seq(readOp(t, "latest"), readOp(t, "time_travel"), readOp(t, "change_feed"))
  } :+ rowCheckOp

  private def op(n: String, k: String)(
      body: (Int, mutable.Map[String, Any]) => () => Option[String]): Op = new Op {
    val name = n
    val kind = k
    def run(pass: Int, verify: Boolean, facts: mutable.Map[String, Any]) = body(pass, facts)
  }

  private def reportOp(t: Table, s: Slice, i: Int) =
    op(s"report.${t.name}.$i", "report") { (_, facts) =>
      val got = ctx.tracer.span("schema.report", "graft.schema") {
        t.validator.report(s.df, t.fillNulls).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq
      }
      facts("rows_in") = s.rows
      () => if (got == s.report) None
      else Some(s"report ${t.name}.$i: got $got, oracle ${s.report}")
    }

  private def appendOp(t: Table, s: Slice, i: Int, strictMode: Boolean) = {
    val mode = if (strictMode) "strict" else "filter"
    op(s"append.${t.name}.$mode$i", s"append.$mode") { (pass, facts) =>
      val id = s"p$pass-$mode$i"
      val before = latestVersion(t.sink)
      val validated = ctx.tracer.span("schema.validate", "graft.schema") {
        if (strictMode)
          try Some(t.validator.validate(s.df, strict = true, fillNulls = t.fillNulls))
          catch { case _: SchemaViolationException => None }
        else Some(t.validator.filterValid(s.df, t.fillNulls))
      }
      validated.foreach { df =>
        val c0 = System.nanoTime()
        ctx.tracer.span("sink.append", "graft.sources") {
          write(sinkable(df, id), t.sink, overwrite = false)
        }
        facts("commit_ms") = (System.nanoTime() - c0) / 1e6
        facts("save_end_epoch_ms") = System.currentTimeMillis()
      }
      facts("rows_in") = s.rows
      facts("rejected") = validated.isEmpty
      () => {
        val after = latestVersion(t.sink)
        val want = if (strictMode) (if (s.valid < s.rows) None else Some(s.rows))
          else Some(s.valid)
        (validated, want) match {
          case (None, None) =>
            if (after == before) None else Some(s"$id: rejected but committed")
          case (None, Some(_)) => Some(s"$id: strict mode rejected a clean slice")
          case (Some(_), None) => Some(s"$id: strict mode accepted a slice with violations")
          case (Some(_), Some(n)) =>
            val got = appendedRows(t.sink, before, after)
            facts("rows_valid") = got.getOrElse(id, 0L)
            facts("manifest_bytes") = new File(manifest(t.sink, after)).length
            facts("files_added") =
              (manifestFiles(t.sink, after) -- manifestFiles(t.sink, before)).size
            if (after != before + 1) Some(s"$id: expected one new version, got ${after - before}")
            else if (got != Map(id -> n)) Some(s"$id: committed $got, oracle $n rows")
            else {
              t.ack(id, n, s.bytes)
              None
            }
        }
      }
    }
  }

  private def streamOp(t: Table, s: Slice) =
    op(s"stream.${t.name}", "stream") { (pass, facts) =>
      val id = s"p$pass-stream"
      val before = latestVersion(t.sink)
      val src = spark.readStream.schema(streamSchema(s))
        .option("maxFilesPerTrigger", "1").parquet(s.path)
      val valid = ctx.tracer.span("schema.validate", "graft.schema") {
        t.validator.filterValid(src, t.fillNulls)
      }
      val q = ctx.tracer.span("stream.start", "graft.streaming") {
        sinkable(valid, id).writeStream.format(SinkFormat)
          .option("path", t.sink).option("format", "parquet")
          .option("checkpointLocation", s"${ctx.work}/checkpoints/$id")
          .trigger(Trigger.AvailableNow()).start()
      }
      ctx.tracer.span("stream.drain", "graft.streaming")(q.awaitTermination())
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      facts("microbatch_ms") = batches.map(_.durationMs.get("triggerExecution").longValue).toSeq
      facts("rows_in") = s.rows
      () => {
        val after = latestVersion(t.sink)
        val got = appendedRows(t.sink, before, after)
        facts("rows_valid") = got.getOrElse(id, 0L)
        if (got != Map(id -> s.valid)) Some(s"$id: committed $got, oracle ${s.valid} rows")
        else {
          t.ack(id, s.valid, s.bytes)
          None
        }
      }
    }

  private def readOp(t: Table, mode: String) =
    op(s"read.${t.name}.$mode", s"read.$mode") { (_, _) =>
      val reader = spark.read.format(SinkFormat).option("path", t.sink)
      val (df, want) = mode match {
        case "latest" => (reader.load(), t.rows)
        case "time_travel" =>
          (reader.option("version", HistoryVersionRead.toString).load(),
            t.history.take(HistoryVersionRead).map(_.valid).sum)
        case "change_feed" =>
          (reader.option("startVersion", t.passStart.toString).load(), t.passRows)
      }
      val got = ctx.tracer.span("sink.read", "graft.sources") {
        df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(df.columns.map(F.col).toIndexedSeq: _*)))
          .collect()(0).getLong(0)
      }
      () => if (got == want) None else Some(s"read ${t.name} $mode: $got rows, expected $want")
    }

  private def rowCheckOp = op("rowcheck.lineitem", "rowcheck") { (_, facts) =>
    val rv = Schemas.lineitem.rowValidator
    var valid = 0L
    ctx.tracer.span("dsl.row_check", "graft.dsl") {
      sampleRows.foreach(r => if (rv.check(r).isEmpty) valid += 1)
    }
    facts("rows") = sampleRows.size
    () => if (valid == rowSample.valid) None
    else Some(s"row validator: $valid valid rows, oracle ${rowSample.valid}")
  }

  /** Checks the previous pass's appends, then restores every table to
    * its pre-populated state: change-feed reads cover what the pass
    * appends after this point. */
  override def startPass(): Unit = {
    if (passes > 0) {
      passChecks ++= exactlyOnce(s"pass${passes - 1}")
      if (passes == 1) tableBytesPerInputByte = bytesPerInputByte
    }
    tables.foreach(_.restore(template))
    passes += 1
  }

  override def finalChecks(): Seq[(String, Option[String])] =
    passChecks.toSeq ++ exactlyOnce(s"pass${passes - 1}")

  /** Every acknowledged append of the pass is in the latest snapshot
    * exactly once, and nothing else is. */
  private def exactlyOnce(pass: String): Seq[(String, Option[String])] = tables.map { t =>
    val got = spark.read.format(SinkFormat).option("path", t.sink).load()
      .groupBy("_append").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = t.acked.filter(_._2 > 0).toMap
    s"exactly_once.${t.name}.$pass" ->
      (if (got == want) None
      else Some(s"${t.name}: latest snapshot holds ${got.size} appends, " +
        s"${want.size} acknowledged; differing: " +
        (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(5)))
  }

  private def bytesPerInputByte: Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getParentFile.getName == "_staging") 0L
      else f.length
    tables.map(t => size(new File(t.sink))).sum.toDouble / tables.map(_.inputBytes).sum
  }

  private def streamSchema(s: Slice): StructType = spark.read.parquet(s.path).schema
}

object IngestWorkload {
  val SinkFormat = "graft.sources.GraftAtomicSinkProvider"
  /** The time-travel read pins this pre-populated version. */
  val HistoryVersionRead = 2

  /** Casts the validated frame onto the sink's long/double/string
    * columns (timestamps as epoch microseconds) and tags each row with
    * its append id, so the final snapshot check can find every append. */
  def sinkable(df: DataFrame, id: String): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case TimestampType | TimestampNTZType => F.unix_micros(F.col(f.name).cast(TimestampType)).as(f.name)
        case DateType => F.col(f.name).cast(StringType).as(f.name)
        case ShortType | ByteType => F.col(f.name).cast(IntegerType).as(f.name)
        case _ => F.col(f.name)
      }
    } :+ F.lit(id).as("_append"): _*)

  def write(df: DataFrame, path: String, overwrite: Boolean): Unit =
    df.write.format(SinkFormat).option("path", path).option("format", "parquet")
      .mode(if (overwrite) "overwrite" else "append").save()

  def manifest(sink: String, v: Long): String =
    s"$sink/${graft.sources.GraftSink.MANIFEST_PREFIX}$v.json"

  def latestVersion(sink: String): Long =
    Option(new File(sink).list()).getOrElse(Array.empty[String]).toSeq
      .filter(n => n.startsWith(graft.sources.GraftSink.MANIFEST_PREFIX) && n.endsWith(".json"))
      .flatMap(_.stripPrefix(graft.sources.GraftSink.MANIFEST_PREFIX).stripSuffix(".json").toLongOption)
      .maxOption.getOrElse(0L)

  /** Data files a committed manifest lists (line 1 is the schema, `#`
    * lines are metadata). */
  def manifestFiles(sink: String, v: Long): Set[String] =
    if (v <= 0) Set.empty
    else java.nio.file.Files.readAllLines(java.nio.file.Paths.get(manifest(sink, v)))
      .toArray(Array.empty[String]).toSeq.drop(1).filterNot(l => l.startsWith("#") || l.isEmpty)
      .map(_.split("\t")(0)).toSet

  /** Rows per append id that versions (from, to] added, read as a change
    * feed. */
  def appendedRows(sink: String, from: Long, to: Long): Map[String, Long] =
    if (to <= from) Map.empty
    else org.apache.spark.sql.SparkSession.active.read.format(SinkFormat)
      .option("path", sink).option("version", to.toString)
      .option("startVersion", from.toString).load()
      .groupBy("_append").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
