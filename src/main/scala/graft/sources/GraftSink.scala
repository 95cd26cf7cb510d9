package graft.sources

import java.util
import java.util.UUID

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.schema.Evolution

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** A from-scratch DataSource V2 batch SINK with real commit/abort
  * transactionality — the write half of the connector surface
  * ([[SynthDocs]] is the read half), `df.write.format(
  * "graft.sources.GraftAtomicSinkProvider").option("path", p)`.
  *
  * graft owns the TRANSACTION; Spark owns the FILE FORMAT. Visibility
  * is MANIFEST-GATED, the Iceberg/Delta pattern reduced to its
  * transactional core:
  *
  *  - each task writes its rows to `_staging/<queryId>/part-...` and
  *    reports the file in its [[WriterCommitMessage]] — nothing under
  *    `_staging/` is ever readable;
  *  - the driver's JOB commit moves the staged files into `data/` and
  *    then publishes a NEW manifest version `_graft_commit_v<N>.json`;
  *    an append manifest lists the previous version's files plus the
  *    new ones, a truncate (SaveMode.Overwrite) manifest lists only
  *    the new ones;
  *  - publishing is an optimistic-concurrency loop (Delta Lake's
  *    commit, Armbrust et al., VLDB 2020): read the latest manifest,
  *    re-check it (epoch idempotence, append schema), build the body
  *    on it, write it to a temp name and publish that as version
  *    latest+1 with an atomic NO-CLOBBER step. A writer that loses the
  *    name to a concurrent commit goes round again on the new latest,
  *    so overlapping writers serialize and no commit drops another's
  *    files from the chain;
  *  - an APPEND onto a prior snapshot requires the incoming schema to
  *    match the committed manifest schema by field names, order and
  *    types (ACCEPT_ANY_SCHEMA disables Spark's own check, and a
  *    reordered/retyped append would silently reinterpret the carried-
  *    forward files' cells under the new header), and is nullable where
  *    either side is (`Evolution.appendable`: committed nulls stay null);
  *  - readers resolve the LATEST manifest — or, with
  *    `option("version", N)`, exactly manifest N: the snapshot chain
  *    is never rewritten, so every committed version stays readable
  *    (time travel, the Iceberg snapshot-id read) — and scan exactly
  *    the files it lists. A failed job never publishes a manifest
  *    ([[GraftSinkBatchWrite.abort]] deletes the staging directory),
  *    so readers see the previous committed snapshot in full or — on
  *    a fresh path — a "no committed snapshot" error. Partial output
  *    is unreachable by construction, which GraftSinkSpec proves by
  *    injecting a mid-write task failure.
  *
  * Data files are Spark's own Parquet: each write prepares Spark's
  * Parquet writer once on the driver, as `df.write.parquet` does, and
  * every task writes InternalRows straight into its staged file; reads
  * plan the manifest's files through Spark's Parquet scan (vectorized
  * reader, column pruning), fed by a file index built from the manifest
  * ([[GraftSinkFileIndex]]) rather than a directory listing. Columns are
  * int/long/double/string, so nulls, control characters and every
  * double's bits round-trip exactly; files written by earlier versions
  * through parquet-java's example writer read the same way.
  * `option("format", "parquet")` is accepted; any other format is
  * refused when the write is built. All paths go through the Hadoop
  * FileSystem API with the SESSION's Hadoop configuration shipped to
  * executors, so `file://` in tests and HDFS on a cluster are the same
  * code INCLUDING fs.defaultFS/credentials.
  */
object GraftSink {
  val MANIFEST_PREFIX = "_graft_commit_v"

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Best-effort cleanup: a failure is logged as a WARN naming `what`,
    * not raised. Shared with the streaming harness's cleanup sites. */
  private[graft] def quietly(what: String)(body: => Any): Unit =
    try body
    catch { case NonFatal(e) => log.warn(s"graft: $what failed", e) }

  /** Driver-side Hadoop conf: the active session's (so fs.defaultFS /
    * S3A settings apply), falling back to defaults off-session (specs
    * that probe manifests before any SparkSession exists). */
  private[sources] def driverConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private[sources] def fs(p: Path): FileSystem =
    p.getFileSystem(driverConf())

  /** A streaming epoch's staging directory under its query's. */
  private[sources] def epochDir(stagingDir: Path, epochId: Long): Path =
    new Path(stagingDir, s"e$epochId")

  /** (version, manifestPath) of the latest committed snapshot. */
  private[sources] def latestManifest(root: Path): Option[(Long, Path)] = {
    val f = fs(root)
    if (!f.exists(root)) return None
    f.listStatus(root).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(MANIFEST_PREFIX))
      .flatMap { p =>
        val v = p.getName.stripPrefix(MANIFEST_PREFIX).stripSuffix(".json")
        v.toLongOption.map(_ -> p)
      }
      .sortBy(_._1).lastOption
  }

  /** Manifest path of committed version `v`, if that snapshot exists. */
  private[sources] def manifestAt(root: Path, v: Long): Option[Path] = {
    val p = new Path(root, s"$MANIFEST_PREFIX$v.json")
    if (fs(root).exists(p)) Some(p) else None
  }

  /** A committed manifest. On disk: line 1 = schema json, then
    * `#epoch<TAB>qid<TAB>e` lines (the highest committed streaming
    * epoch per query id), then one `file<TAB>rows` line per data file. */
  private[sources] case class Manifest(schema: StructType,
      files: Seq[(String, Long)], epochs: Map[String, Long])

  private[sources] def readManifest(p: Path): Manifest = {
    val in = fs(p).open(p)
    val text =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val (meta, files) = lines.tail.partition(_.startsWith("#"))
    Manifest(
      DataType.fromJson(lines.head).asInstanceOf[StructType],
      files.map { l =>
        val Array(name, rows) = l.split("\t")
        (name, rows.toLong)
      },
      meta.filter(_.startsWith("#epoch\t"))
        .map { l =>
          val parts = l.split("\t")
          parts(1) -> parts(2).toLong
        }
        .groupMapReduce(_._1)(_._2)(math.max))
  }

  /** The snapshot a read resolves: exactly version `v` when one is
    * given, else the latest. An uncommitted `v` is an error naming the
    * latest; a path with no snapshot at all is one only when
    * `required` (a write to a fresh path infers an empty schema). */
  private[sources] def snapshot(root: Path, version: Option[Long],
      required: Boolean): Option[Manifest] = {
    val manifest = version match {
      case Some(v) => Some(manifestAt(root, v).getOrElse(
        throw new IllegalArgumentException(
          s"graft sink at $root has no committed version $v (latest: " +
            s"${latestManifest(root).map(_._1).getOrElse("none")})")))
      case None => latestManifest(root).map(_._2)
    }
    if (manifest.isEmpty && required) throw new IllegalStateException(
      s"graft sink at $root has no committed snapshot")
    manifest.map(readManifest)
  }

  /** The data files versions (start, end] ADDED: `end`'s files minus
    * those of version `start` (start ≤ 0 is the empty table, i.e. the
    * full snapshot). The chain carries files forward on every append,
    * so the difference is exactly the delta; a truncate in the range
    * surfaces only the rows written after it. The batch change feed
    * and the MicroBatchStream both plan through this. */
  private[sources] def filesAdded(root: Path, start: Long,
      end: Manifest): Seq[(String, Long)] =
    if (start <= 0) end.files
    else {
      val before = manifestAt(root, start)
        .map(readManifest(_).files.map(_._1).toSet)
        .getOrElse(throw new IllegalArgumentException(
          s"graft sink at $root has no committed startVersion $start"))
      end.files.filterNot { case (n, _) => before(n) }
    }

  private[sources] def checkSchema(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case IntegerType | LongType | DoubleType | StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft sink supports int/long/double/string columns; " +
            s"'${f.name}' is $dt")
      }
    }

  /** Spark's Parquet scan over `files` (names under `data/`) read as
    * `schema`, keeping only the `required` columns. */
  private[sources] def parquetScan(root: Path, schema: StructType,
      files: Seq[(String, Long)], required: StructType): Batch = {
    val spark = SparkSession.active
    val builder = ParquetScanBuilder(spark,
      new GraftSinkFileIndex(spark, root, files.map(_._1)), schema, schema,
      CaseInsensitiveStringMap.empty())
    builder.pruneColumns(required)
    builder.build().toBatch
  }
}

class GraftAtomicSinkProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  /** Reads infer from the requested (or latest) committed manifest; a
    * fresh path (write-only so far) infers an empty schema — the scan
    * builder throws the real "no committed snapshot" error if a read
    * follows. An uncommitted `version` (only readers pass one) fails
    * HERE: an empty inferred schema would surface downstream as an
    * unresolved-column analysis error instead. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSink.snapshot(new Path(options.get("path")),
      Option(options.get("version")).map(_.toLong), required = false)
      .map(_.schema).getOrElse(new StructType())

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftSinkTable(properties.get("path"), schema)
}

class GraftSinkTable(path: String, schema0: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_sink($path)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSinkScanBuilder(path,
      Option(options.get("version")).map(_.toLong),
      Option(options.get("startVersion")).map(_.toLong))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val format = info.options.getOrDefault("format", "parquet")
    require(format.equalsIgnoreCase("parquet"),
      s"graft sink writes parquet only, got format '$format'")
    new GraftSinkWriteBuilder(path, info.schema(), info.queryId(),
      truncate = false)
  }
}

class GraftSinkWriteBuilder(path: String, schema: StructType,
    queryId: String, truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new GraftSinkWriteBuilder(path, schema, queryId, truncate = true)
  override def build(): Write = new Write {
    GraftSink.checkSchema(schema)
    override def toBatch: BatchWrite =
      new GraftSinkBatchWrite(path, schema, queryId, truncate)
    override def toStreaming: StreamingWrite =
      new GraftSinkStreamingWrite(path, schema, queryId)
  }
}

case class GraftSinkCommitMessage(stagedFile: String, fileName: String,
    rows: Long) extends WriterCommitMessage

class GraftSinkBatchWrite(path: String, schema: StructType,
    queryId: String, truncate: Boolean) extends BatchWrite {
  private val root = new Path(path)
  private val stagingDir = new Path(root, s"_staging/$queryId")
  private val factory = GraftSinkWriterFactory(stagingDir, schema)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = factory

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftSinkCommit.publish(root, stagingDir, schema, truncate,
      messages.collect { case m: GraftSinkCommitMessage => m },
      epochMarker = None)

  // no manifest was published, so nothing became visible; drop the
  // whole staging directory (covers tasks that never sent a message)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftSink.quietly(s"batch abort of $stagingDir") {
      GraftSink.fs(root).delete(stagingDir, true)
    }
}

/** The shared manifest-publication protocol — batch and streaming
  * commits differ only in staging dir and the idempotence marker. */
private[sources] object GraftSinkCommit {
  /** Each lost attempt means another writer published in between, so
    * running out is a livelock, not contention; it fails the commit. */
  private val MaxAttempts = 64

  def publish(root: Path, stagingDir: Path, schema: StructType,
      truncate: Boolean, mine: Seq[GraftSinkCommitMessage],
      epochMarker: Option[(String, Long)]): Unit = {
    val fs = GraftSink.fs(root)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    mine.foreach { m =>
      val ok = fs.rename(new Path(m.stagedFile),
        new Path(dataDir, m.fileName))
      if (!ok) throw new java.io.IOException(
        s"commit failed to publish ${m.stagedFile}")
    }
    val added = mine.map(m => (m.fileName, m.rows))

    // snapshot resolution happens per ATTEMPT, not at plan time: an
    // overlapping writer that committed since this job was planned —
    // or since this commit's last attempt — is what it builds on
    @annotation.tailrec
    def attempt(n: Int): Unit = {
      val latest = GraftSink.latestManifest(root)
      val prior = latest.map { case (_, m) => GraftSink.readManifest(m) }
      val priorEpochs = prior.map(_.epochs).getOrElse(Map.empty)
      // streaming EXACTLY-ONCE: a re-committed epoch (driver recovery
      // replays the last epoch against the same checkpoint) is a no-op
      // — the marker proves the snapshot already holds its rows, and
      // the retry's files must be dropped, not double-published
      val replayed = epochMarker.exists { case (qid, epoch) =>
        priorEpochs.get(qid).exists(_ >= epoch)
      }
      if (replayed) GraftSink.quietly(s"replayed epoch at $stagingDir") {
        added.foreach { case (f, _) => fs.delete(new Path(dataDir, f), false) }
        fs.delete(stagingDir, true)
      }
      else {
        // ACCEPT_ANY_SCHEMA disables Spark's own append validation, and
        // a reordered/retyped append would reinterpret the carried-forward
        // files' cells under the new header — refuse instead
        val (manifestSchema, carried) = prior match {
          case Some(p) if !truncate => Evolution.appendable(p.schema, schema) match {
            case Right(merged) => (merged, p.files)
            case Left(reason) => throw new IllegalArgumentException(
              s"graft sink $reason; use SaveMode.Overwrite to replace the table")
          }
          case _ => (schema, Seq.empty[(String, Long)])
        }
        val epochs =
          (if (truncate) Map.empty[String, Long] else priorEpochs) ++
            epochMarker.toMap
        val body = (manifestSchema.json +:
          (epochs.toSeq.sortBy(_._1).map { case (q, e) => s"#epoch\t$q\t$e" } ++
            (carried ++ added).map { case (f, r) => s"$f\t$r" }))
          .mkString("\n")
        val tmp = new Path(root, s".manifest_tmp_${UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        val version = latest.map(_._1).getOrElse(0L) + 1
        val target =
          new Path(root, s"${GraftSink.MANIFEST_PREFIX}$version.json")
        if (publishIfAbsent(fs, tmp, target)) fs.delete(stagingDir, true)
        else if (n + 1 >= MaxAttempts) throw new java.io.IOException(
          s"commit failed to publish a manifest at $root in $MaxAttempts " +
            "attempts")
        else attempt(n + 1)
      }
    }
    attempt(0)
  }

  /** The ONE atomic step of a commit: `tmp` becomes `target` only if no
    * file has that name yet. HDFS's `rename` refuses an existing
    * destination atomically, but the local file system's overwrites it
    * (concurrent renames onto one name can all report success), so
    * `file:` paths publish with a hard link, which fails on an existing
    * name. The temp file never survives the call. */
  private def publishIfAbsent(fs: FileSystem, tmp: Path,
      target: Path): Boolean = {
    def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
    val isLocal = fs.getScheme == "file"
    val won =
      if (isLocal)
        try { java.nio.file.Files.createLink(local(target), local(tmp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else fs.rename(tmp, target)
    if (isLocal || !won) fs.delete(tmp, false)
    won
  }
}

/** STREAMING write surface (r15): the same staging/manifest
  * transaction, one commit per epoch, appended onto the snapshot
  * chain. Exactly-once comes from the `#epoch` marker each commit
  * records: a replayed epoch (post-recovery) is detected against the
  * latest manifest and dropped instead of double-published — the
  * Delta/Iceberg txn-id discipline on this sink's own chain. */
class GraftSinkStreamingWrite(path: String, schema: StructType,
    queryId: String) extends StreamingWrite {
  private val root = new Path(path)
  private val stagingDir = new Path(root, s"_staging/$queryId")
  private val factory = GraftSinkWriterFactory(stagingDir, schema)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = factory

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftSinkCommit.publish(root, GraftSink.epochDir(stagingDir, epochId),
      schema, truncate = false,
      messages.collect { case m: GraftSinkCommitMessage => m },
      epochMarker = Some((queryId, epochId)))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = GraftSink.epochDir(stagingDir, epochId)
    GraftSink.quietly(s"streaming abort of $dir") {
      GraftSink.fs(root).delete(dir, true)
    }
  }
}

/** Task-side writer factory for both write surfaces: a batch task
  * stages into `stagingDir`, a streaming task into its epoch's
  * `e<epoch>` subdirectory of it. `parquet` is Spark's Parquet writer,
  * prepared for this write with the job configuration in `conf`. */
class GraftSinkWriterFactory(stagingDir: String, schema: StructType,
    parquet: OutputWriterFactory, conf: SerializableConfiguration)
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def writer(dir: String, partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftSinkParquetWriter(dir, schema, parquet, conf.value,
      partitionId, taskId)

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    writer(stagingDir, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(GraftSink.epochDir(new Path(stagingDir), epochId).toString,
      partitionId, taskId)
}

object GraftSinkWriterFactory {
  /** Prepares Spark's Parquet writer once per write on the driver, the
    * way `df.write.parquet` does: `prepareWrite` fills the job
    * configuration (write support, row schema, codec) that every task
    * opens its file with. */
  def apply(stagingDir: Path, schema: StructType): GraftSinkWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val parquet = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new GraftSinkWriterFactory(stagingDir.toString, schema, parquet,
      new SerializableConfiguration(job.getConfiguration))
  }
}

/** Task writer: one staged Parquet file written by Spark's own writer,
  * reported with its row count to the driver's commit in a
  * [[GraftSinkCommitMessage]]. */
class GraftSinkParquetWriter(stagingDir: String, schema: StructType,
    parquet: OutputWriterFactory, conf: Configuration, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {
  private val fileName =
    s"part-$partitionId-$taskId-${UUID.randomUUID()}.parquet"
  private val staged = new Path(new Path(stagingDir), fileName)
  private val writer = parquet.newInstance(staged.toString, schema,
    new TaskAttemptContextImpl(conf, new TaskAttemptID()))
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    writer.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    GraftSinkCommitMessage(staged.toString, fileName, rows)
  }

  override def abort(): Unit = {
    GraftSink.quietly(s"close of aborted $staged")(writer.close())
    GraftSink.quietly(s"delete of aborted $staged") {
      staged.getFileSystem(conf).delete(staged, false)
    }
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------- read

/** Batch read resolution: `version` pins the snapshot (else latest);
  * `startVersion` turns the scan into a CHANGE-FEED read — exactly the
  * files versions (start, end] added ([[GraftSink.filesAdded]], the
  * same planning as the streaming MicroBatchStream; startVersion = 0
  * is the full snapshot). Pruned columns reach Spark's Parquet reader. */
class GraftSinkScanBuilder(path: String, version: Option[Long],
    startVersion: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: Option[StructType] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val root = new Path(path)
    val end = GraftSink.snapshot(root, version, required = true).get
    new GraftSinkScan(path, end.schema, required.getOrElse(end.schema),
      GraftSink.filesAdded(root, startVersion.getOrElse(0L), end))
  }
}

/** A resolved read: batch planning is Spark's Parquet scan over the
  * manifest's files, built once per scan; a streaming read plans per
  * micro-batch in [[GraftSinkMicroBatchStream]]. */
class GraftSinkScan(path: String, schema: StructType, required: StructType,
    files: Seq[(String, Long)]) extends Scan {
  private lazy val batch =
    GraftSink.parquetScan(new Path(path), schema, files, required)
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftSinkScan($path, ${files.size} files)"
  override def toBatch: Batch = batch
  override def toMicroBatchStream(checkpointLocation: String):
      MicroBatchStream = new GraftSinkMicroBatchStream(path, schema)
}

/** The manifest's data files as Spark's file index. Their statuses come
  * from ONE listing of `data/` narrowed to the manifest's names: never a
  * per-path or parallel listing job, and never a file the manifest does
  * not name (staged, aborted or `.crc` companions). */
private[sources] class GraftSinkFileIndex(spark: SparkSession, root: Path,
    names: Seq[String])
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  private val dataDir = new Path(root, "data")

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val listed =
      if (names.isEmpty) Map.empty[String, FileStatus]
      else GraftSink.fs(dataDir).listStatus(dataDir)
        .map(f => f.getPath.getName -> f).toMap
    mutable.LinkedHashMap.from(names.map { n =>
      val f = listed.getOrElse(n, throw new java.io.FileNotFoundException(
        s"graft sink at $root: committed data file $n is missing"))
      f.getPath -> f
    })
  }

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    leafFiles.values.toArray.groupBy(_.getPath.getParent)

  override def allFiles(): Seq[FileStatus] = leafFiles.values.toSeq
  override def rootPaths: Seq[Path] = Seq(dataDir)
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override def refresh(): Unit = ()
}

/** A committed-snapshot VERSION as a streaming offset. */
case class GraftSinkOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** STREAMING read surface (r15): the manifest chain consumed as a
  * stream — each micro-batch is the set of data files a version range
  * ADDED ([[GraftSink.filesAdded]]; the Delta/Iceberg "table as a
  * stream" pattern on this sink's own chain), planned and read by
  * Spark's Parquet scan. Offsets are manifest versions, so restart
  * resumes exactly where the checkpoint left off and nothing is
  * re-read. A TRUNCATE surfaces only the rows it wrote (its manifest
  * drops prior files — replaced history is not replayed), which is the
  * documented change-feed semantics for overwrites. */
class GraftSinkMicroBatchStream(path: String, schema: StructType)
    extends MicroBatchStream {
  private val root = new Path(path)

  override def latestOffset(): Offset =
    GraftSinkOffset(GraftSink.latestManifest(root).map(_._1).getOrElse(0L))

  override def initialOffset(): Offset = GraftSinkOffset(0L)

  override def deserializeOffset(json: String): Offset =
    GraftSinkOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftSinkOffset].version
    val e = end.asInstanceOf[GraftSinkOffset].version
    val added = if (e <= s) Seq.empty else GraftSink.filesAdded(root, s,
      GraftSink.snapshot(root, Some(e), required = true).get)
    GraftSink.parquetScan(root, schema, added, schema).planInputPartitions()
  }

  // the reader factory depends on the schema only, not on the files
  override def createReaderFactory(): PartitionReaderFactory =
    GraftSink.parquetScan(root, schema, Seq.empty, schema)
      .createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
