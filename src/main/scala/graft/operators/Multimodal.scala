package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns plus typed metadata, processed in per-partition
  * batches (the Scala analog of `mapInPandas` batch processing).
  *
  * The actual media decode is STUBBED — this container has no
  * image/audio libraries — behind [[FakeDecoder]], a deterministic fake.
  * Everything Spark-side is real and tested: schema evolution, batch
  * iteration shape, partition-preserving execution, and the narrow
  * (no-shuffle) plan.
  */
object Multimodal {

  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** STUB decoder: a real implementation would call the codec here
    * (javax.imageio / ffmpeg bindings). Deterministic on input bytes AND
    * engine-portable: the fake dimensions derive from the md5 content
    * hash (graft.operators.Hashing.hash60 semantics), so a SQL oracle
    * can reproduce them exactly. */
  object FakeDecoder {
    def decode(bytes: Array[Byte]): (String, Int, Int) = {
      val magic = bytes.take(2).map("%02x".format(_)).mkString
      val format = magic match {
        case "ffd8" => "jpeg"
        case "8950" => "png"
        case _      => "raw"
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      (format, ((h % 640) + 1).toInt, ((h / 640 % 480) + 1).toInt)
    }
  }

  /** Attach decoded metadata to a binary column, processing each
    * partition in `batchSize` chunks (mirrors Pandas-UDF batch shape:
    * amortizes per-batch setup such as model/codec initialization).
    * Narrow transform — no shuffle, schema = input ++ meta struct. */
  def withMediaMeta(df: DataFrame, binCol: String, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media_meta", metaSchema, nullable = true))
    val enc: ExpressionEncoder[Row] = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val binIdx = df.schema.fieldIndex(binCol)
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup would happen here (decoder/model init)
        batch.map { row =>
          val meta = Option(row.get(binIdx)).map { b =>
            val bytes = b.asInstanceOf[Array[Byte]]
            val (fmt, w, h) = FakeDecoder.decode(bytes)
            Row(fmt, w, h, bytes.length.toLong)
          }.orNull
          Row.fromSeq(row.toSeq :+ meta)
        }
      }
    }(enc)
  }

  /** Deterministic frame-sampling plan for video-like payloads: emit
    * every `stride`-th chunk offset as a (frame_idx, offset) row —
    * explode is the real plumbing; decode of each frame is the stub. */
  def sampleFrames(df: DataFrame, binCol: String, idCol: String,
      frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = F.ceil(F.length(F.col(binCol)) / frameBytes / stride).cast("int")
    // empty or NULL payloads have no frames: emit an empty array (the
    // non-outer explode then drops the row) instead of a spurious
    // frame_idx=0
    val idxs = F.when(nFrames > 0, F.sequence(F.lit(0), nFrames - 1))
      .otherwise(F.array().cast("array<int>"))
    df.select(F.col(idCol), F.explode(idxs).as("frame_idx"))
      .withColumn("byte_offset", F.col("frame_idx") * frameBytes * stride)
  }
}

/** Integer perceptual-hash math for the F8/F9/F10 family, shared by
  * the BATCHED signature stage below and the spec replays. The
  * quantized DCT-II basis (round(1024·cos((2x+1)uπ/16))) and the
  * low→high-frequency coefficient order are THE algorithm (the C65
  * discrete-bucket discipline): the oracle SQL embeds the same
  * literals via MediaQueries' generators, so both engines and this
  * JVM code produce identical sign bits.
  *
  * Why a typed mapPartitions stage instead of Catalyst expressions
  * (r14): the factored 63-coefficient sign pack is ~1000 explicit
  * multiply-adds per grid — small enough to codegen in ISOLATION, but
  * whole-stage codegen fuses it with the md5 grid construction into
  * one processNext() that exceeds janino's 64 KB method limit, and the
  * silent fallback runs the whole stage interpreted (an r14 10× probe
  * logged 16 compile failures; re-measure with
  * `runMain graft.Bench <names>`). This is exactly the decode-stage shape
  * the F-section documents as batched mapPartitions (the mapInPandas
  * analog): tight primitive JVM loops, one digest per 16-byte grid
  * row, narrow (no shuffle), schema-explicit. */
object DctHash {

  /** Compile-time literals (not runtime cos — PhashDctSpec validates
    * them against an independent math.cos re-derivation). */
  val T: Array[Array[Long]] = Array(
    Array(1024L, 1024L, 1024L, 1024L, 1024L, 1024L, 1024L, 1024L),
    Array(1004L, 851L, 569L, 200L, -200L, -569L, -851L, -1004L),
    Array(946L, 392L, -392L, -946L, -946L, -392L, 392L, 946L),
    Array(851L, -200L, -1004L, -569L, 569L, 1004L, 200L, -851L),
    Array(724L, -724L, -724L, 724L, 724L, -724L, -724L, 724L),
    Array(569L, -1004L, 200L, 851L, -851L, -200L, 1004L, -569L),
    Array(392L, -946L, 946L, -392L, -392L, 946L, -946L, 392L),
    Array(200L, -569L, 851L, -1004L, 1004L, -851L, 569L, -200L))
  /** The 63 non-DC (u,v) coefficients, low→high frequency (u+v, u). */
  val COEFF_ORDER: Array[(Int, Int)] =
    (for (u <- 0 until 8; v <- 0 until 8 if (u, v) != (0, 0))
      yield (u, v)).sortBy { case (u, v) => (u + v, u, v) }.toArray

  /** Raw digest bytes (r15, §1.2 per-task work): the pixel generators
    * only ever read byte k back out of the hex string as
    * `parseLong(hex.substring(2k, 2k+2), 16)` — which is exactly
    * `digest(k) & 0xff`. The hex round-trip cost ~128 Formatter calls +
    * 128 substring/parseLong allocations PER FRAME and dominated the
    * whole DCT stage (the md5 and the 1016-multiply DCT are cheap by
    * comparison). Byte-identical values, no strings. */
  private def md5Bytes(md: java.security.MessageDigest,
      s: String): Array[Byte] =
    md.digest(s.getBytes("UTF-8"))
  @inline private def ub(d: Array[Byte], k: Int): Long = (d(k) & 0xff).toLong

  /** 8×8 phash grid (F8/F9): base keyed on (doc_id div 4, row), ±v·amp
    * noise keyed on (doc_id, row) — byte-identical to the SQL
    * `MediaQueries.pxSql` text both engines run. */
  def phashPx(md: java.security.MessageDigest, docId: Long,
      amp: Int): Array[Long] = {
    val g = docId / 4
    val v = docId % 4
    val px = new Array[Long](64)
    var r = 0
    while (r < 4) {
      val base = md5Bytes(md, s"$g#$r")
      val noise = if (v == 0) null else md5Bytes(md, s"$docId!$r")
      var k = 0
      while (k < 16) {
        val j = r * 16 + k
        val b = ub(base, k)
        val d =
          if (v == 0) 0L
          else ub(noise, k) % (2 * v * amp + 1) - v * amp
        px(j) = math.min(255L, math.max(0L, b + d))
        k += 1
      }
      r += 1
    }
    px
  }

  /** 8×8 frame grid (F10): base keyed on (doc, scene = fi div 4, row),
    * ±6 noise keyed on (doc, fi, row) — mirrors
    * `MediaQueries.framePxSql`. */
  def framePx(md: java.security.MessageDigest, docId: Long,
      fi: Long): Array[Long] = {
    val px = new Array[Long](64)
    var r = 0
    while (r < 4) {
      val base = md5Bytes(md, s"$docId@${fi / 4}#$r")
      val noise = md5Bytes(md, s"$docId@$fi!$r")
      var k = 0
      while (k < 16) {
        val j = r * 16 + k
        px(j) = math.min(255L, math.max(0L,
          ub(base, k) + (ub(noise, k) % 13 - 6)))
        k += 1
      }
      r += 1
    }
    px
  }

  /** Factored integer 2-D DCT sign pack: row transform rt[x·8+v] =
    * Σ_y px·T(v,y), then bit b = (Σ_x T(u,x)·rt[x·8+v] > 0). Exactly
    * the arithmetic the oracle SQL runs (integer, associative). */
  def sig63(px: Array[Long]): Long = {
    val rt = new Array[Long](64)
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L; var y = 0
        while (y < 8) { s += px(x * 8 + y) * T(v)(y); y += 1 }
        rt(x * 8 + v) = s
        v += 1
      }
      x += 1
    }
    var sig = 0L
    var b = 0
    while (b < 63) {
      val (u, v) = COEFF_ORDER(b)
      var s = 0L; var x2 = 0
      while (x2 < 8) { s += T(u)(x2) * rt(x2 * 8 + v); x2 += 1 }
      if (s > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  private def mapRows(df: DataFrame, outSchema: StructType)(
      f: (java.security.MessageDigest, Row) => Row): DataFrame = {
    val enc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(r => f(md, r))
    }(enc)
  }

  /** (doc_id) → (doc_id, sig): the F8 signature pass. */
  def docSigs(docs: DataFrame, idCol: String, amp: Int): DataFrame =
    mapRows(docs.select(idCol),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("sig", LongType, nullable = false)))) { (md, r) =>
      val id = r.getLong(0)
      Row(id, sig63(phashPx(md, id, amp)))
    }

  /** (doc_id) → (doc_id, g, v, px, sig): the F9 audit pass (grids kept
    * for the exact pixel-distance side). */
  def docGrids(docs: DataFrame, idCol: String, amp: Int): DataFrame =
    mapRows(docs.select(idCol),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("g", LongType, nullable = false),
        StructField("v", LongType, nullable = false),
        StructField("px", ArrayType(LongType, containsNull = false),
          nullable = false),
        StructField("sig", LongType, nullable = false)))) { (md, r) =>
      val id = r.getLong(0)
      val px = phashPx(md, id, amp)
      Row(id, id / 4, id % 4, px.toSeq, sig63(px))
    }

  /** (doc_id, nf, fi) → + sig: the F10 per-frame signature pass. */
  def frameSigs(frames: DataFrame): DataFrame =
    mapRows(frames.select("doc_id", "nf", "fi"),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("nf", LongType, nullable = false),
        StructField("fi", LongType, nullable = false),
        StructField("sig", LongType, nullable = false)))) { (md, r) =>
      val id = r.getLong(0); val fi = r.getLong(2)
      Row(id, r.getLong(1), fi, sig63(framePx(md, id, fi)))
    }

  /** 8×8 frame grid for the F11/F12 VIDEO near-dup model: videos group
    * into quads (g = doc_id div 4) and variant v = doc_id % 4 REPLACES
    * its first v scenes with video-unique content — scene s ≥ v is a
    * bit-identical COPY of the group's clip (base AND ±6 noise keyed on
    * (g, scene/frame), the copied-clip editing model: shared segments
    * are pasted bytes, not re-noised), scene s < v is keyed on the doc.
    * Mirrors `MediaQueries.videoPxSql` byte for byte. */
  def videoPx(md: java.security.MessageDigest, docId: Long,
      fi: Long): Array[Long] = {
    val g = docId / 4
    val s = fi / 4
    val shared = s >= docId % 4
    val px = new Array[Long](64)
    var r = 0
    while (r < 4) {
      val base =
        if (shared) md5Bytes(md, s"$g&$s#$r")
        else md5Bytes(md, s"$docId~$s#$r")
      val noise =
        if (shared) md5Bytes(md, s"$g&$fi!$r")
        else md5Bytes(md, s"$docId~$fi!$r")
      var k = 0
      while (k < 16) {
        val j = r * 16 + k
        px(j) = math.min(255L, math.max(0L,
          ub(base, k) + (ub(noise, k) % 13 - 6)))
        k += 1
      }
      r += 1
    }
    px
  }

  /** (doc_id, nf, fi) → + sig: the F11 per-frame signature pass. */
  def videoSigs(frames: DataFrame): DataFrame =
    mapRows(frames.select("doc_id", "nf", "fi"),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("nf", LongType, nullable = false),
        StructField("fi", LongType, nullable = false),
        StructField("sig", LongType, nullable = false)))) { (md, r) =>
      val id = r.getLong(0); val fi = r.getLong(2)
      Row(id, r.getLong(1), fi, sig63(videoPx(md, id, fi)))
    }

  /** (doc_id, nf, fi) → + px: grids kept for the F12 exact-pixel truth
    * side (scene-start frames only — the audit's bounded exact cost). */
  def videoGrids(frames: DataFrame): DataFrame =
    mapRows(frames.select("doc_id", "nf", "fi"),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("nf", LongType, nullable = false),
        StructField("fi", LongType, nullable = false),
        StructField("px", ArrayType(LongType, containsNull = false),
          nullable = false)))) { (md, r) =>
      val id = r.getLong(0); val fi = r.getLong(2)
      Row(id, r.getLong(1), fi, videoPx(md, id, fi).toSeq)
    }
}
