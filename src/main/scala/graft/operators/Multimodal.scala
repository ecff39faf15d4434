package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import java.awt.image.BufferedImage
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal-column surface: image payloads as opaque `binary` columns with
  * typed metadata, plus REAL decode / feature-extract / frame-read / resize
  * over them (builder mandate).
  *
  * The driver tables carry no media, so the blobs are SYNTHESIZED — each
  * document's UTF-8 bytes packed 3-per-pixel into a 16-px-wide 24-bit RGB
  * image and encoded as a real BMP (even doc_id) or PNG (odd doc_id), the
  * two JDK-built-in lossless codecs. Everything downstream of the synthesis
  * is the real pipeline: [[decodeImage]] is an actual `javax.imageio`
  * decode of actual image files, the features/frames/resize operators work
  * on the DECODED raster, and because both codecs are lossless the DuckDB
  * oracle can replay the expected pixel stats from the text bytes — the
  * decode is hash-gated, not trusted. Formats without a JDK codec
  * (JPEG2000, audio, video) fail loudly at the [[decodeImage]] seam — that
  * is where libjpeg/ffmpeg plug in on a real deployment; there is
  * deliberately no silent stub.
  *
  * Scale shape: encode and decode run inside `mapPartitions` over the typed
  * Dataset — executor-parallel, zero shuffle, zero driver involvement; the
  * feature columns come back as ordinary columns for downstream relational
  * ops. Cost is linear in payload bytes, exactly like a production image
  * pipeline.
  */
object Multimodal {

  /** Image geometry: 16 px wide, 3 channel bytes per pixel -> 48 payload
    * bytes per scanline (conveniently 4-byte aligned, so even the BMP
    * container adds no row padding). Height = ceil(bytes / 48).
    */
  private val W = 16
  private val BytesPerRow = 3 * W

  // encode/decode entirely in executor memory — the default disk-backed
  // ImageIO stream cache would have every task contending on tmp files
  ImageIO.setUseCache(false)

  case class BlobRow(doc_id: Long, payload: Array[Byte], mime: String)

  /** Synthesize the corpus' image blobs: each doc's UTF-8 bytes packed
    * 3-per-pixel (R,G,B) row-major into a 16-wide TYPE_3BYTE_BGR image,
    * final row zero-padded, encoded with the REAL JDK codec for the doc's
    * mime. Empty docs carry no image (a zero-byte payload is not a valid
    * image file in any codec).
    */
  def imageBlobsOf(docs: DataFrame): Dataset[BlobRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 2 === 0, "image/bmp").otherwise("image/png").as("mime"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text, mime) =>
          BlobRow(id, encodeImage(text.getBytes(java.nio.charset.StandardCharsets.UTF_8), mime), mime)
        }
      }
  }

  def imageBlobs(spark: SparkSession, dir: String): Dataset[BlobRow] =
    imageBlobsOf(Tables.documents(spark, dir))

  private def formatFor(mime: String): String = mime match {
    case "image/bmp" => "bmp"
    case "image/png" => "png"
    case other => throw new IllegalArgumentException(
      s"no JDK codec for $other — this is the seam where libjpeg/ffmpeg plug in")
  }

  private def encodeImage(bytes: Array[Byte], mime: String): Array[Byte] = {
    val h = (bytes.length + BytesPerRow - 1) / BytesPerRow
    val img = new BufferedImage(W, h, BufferedImage.TYPE_3BYTE_BGR)
    def b(j: Int): Int = if (j < bytes.length) bytes(j) & 0xff else 0
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < W) {
        img.setRGB(x, y, (b(i) << 16) | (b(i + 1) << 8) | b(i + 2))
        i += 3; x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    // no disk-backed ImageIO cache: executor tasks must not contend on tmp files
    val ok = javax.imageio.ImageIO.write(img, formatFor(mime), bos)
    require(ok, s"JDK has no writer for $mime")
    bos.toByteArray
  }

  /** THE REAL DECODE: `javax.imageio.ImageIO.read` over the payload bytes
    * (format sniffed from the container, exactly like production). Returns
    * (width, height, channel bytes row-major R,G,B per pixel). Both shipped
    * codecs are lossless, so the oracle can verify every downstream stat.
    */
  private def decodeImage(payload: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val ch = new Array[Int](w * h * 3)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        ch(i) = (rgb >> 16) & 0xff
        ch(i + 1) = (rgb >> 8) & 0xff
        ch(i + 2) = rgb & 0xff
        i += 3; x += 1
      }
      y += 1
    }
    (w, h, ch)
  }

  case class FeatureRow(doc_id: Long, mime: String, width: Long, height: Long,
      n_channel_bytes: Long, channel_checksum: Long, mean_channel: Double)

  /** Decode + featurize: real dimensions and whole-image channel stats off
    * the decoded raster. mapPartitions over the typed Dataset — executor-
    * parallel, no shuffle; scales with payload bytes.
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[FeatureRow] = {
    import spark.implicits._
    imageBlobs(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, ch) = decodeImage(r.payload)
        val sum = ch.foldLeft(0L)(_ + _)
        FeatureRow(
          doc_id = r.doc_id,
          mime = r.mime,
          width = w.toLong,
          height = h.toLong,
          n_channel_bytes = ch.length.toLong,
          channel_checksum = sum % 2147483647L,
          // double division + HALF_UP round == Spark's round(double, 6),
          // keeping the value bit-aligned with the SQL oracle's round()
          mean_channel = BigDecimal.valueOf(sum.toDouble / ch.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
  }

  /** The queries() entry: decoded-image features as ordinary columns. */
  def features(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir).toDF()

  case class FrameRow(doc_id: Long, frame_idx: Long, n_pixels: Long, frame_checksum: Long)

  /** Frame READ — the one-to-many decode shape (video → frames): each
    * decoded image expands to one row per SCANLINE with that line's channel
    * checksum. Executor-parallel flatMap over the decoded raster, no
    * shuffle; output row count is Σ height.
    */
  def sampleFrames(spark: SparkSession, dir: String): Dataset[FrameRow] = {
    import spark.implicits._
    imageBlobs(spark, dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val (w, h, ch) = decodeImage(r.payload)
        Iterator.range(0, h).map { y =>
          var s = 0L
          var i = y * w * 3
          val end = i + w * 3
          while (i < end) { s += ch(i); i += 1 }
          FrameRow(r.doc_id, y.toLong, w.toLong, s % 2147483647L)
        }
      }
    }
  }

  def frames(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(spark, dir).toDF()

  case class ResizeRow(doc_id: Long, orig_w: Long, orig_h: Long,
      out_w: Long, out_h: Long, resized_checksum: Long)

  /** RESIZE — real nearest-neighbor 2× downsample over the DECODED raster:
    * output pixel (x, y) takes source pixel (2x, 2y) — the textbook NN
    * kernel, written out instead of via AffineTransformOp so the sampling
    * rule is exact and engine-portable (Op implementations are free to
    * round sample coordinates differently). Same per-partition batch shape;
    * output summarizes the resized raster rather than shipping bytes.
    */
  def resizeBlobs(spark: SparkSession, dir: String): Dataset[ResizeRow] = {
    import spark.implicits._
    imageBlobs(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, ch) = decodeImage(r.payload)
        val outW = (w + 1) / 2
        val outH = (h + 1) / 2
        var s = 0L
        var y = 0
        while (y < outH) {
          var x = 0
          while (x < outW) {
            val base = (2 * y * w + 2 * x) * 3
            s += ch(base) + ch(base + 1) + ch(base + 2)
            x += 1
          }
          y += 1
        }
        ResizeRow(r.doc_id, w.toLong, h.toLong, outW.toLong, outH.toLong, s % 2147483647L)
      }
    }
  }

  def resized(spark: SparkSession, dir: String): DataFrame =
    resizeBlobs(spark, dir).toDF()

  // ---------------------------------------------------- fingerprint kernel

  /** Shared 48-bit block-DIFFERENCE fingerprint (dHash family) over any
    * per-item value stream — the ONE hashing rule all three modalities use
    * (image: channel bytes; audio: PCM samples; video: per-frame byte
    * sums). The stream of `n` values splits into 48 chunks of
    * `h = ceil(n/48)` (positions past `n` contribute 0 — the same zero
    * padding the image raster carries physically), and bit j is set iff
    * chunk j's sum EXCEEDS chunk (j+1) mod 48's. Pure integer comparisons:
    * any engine replays the bits exactly, which is what lets the DuckDB
    * oracles hash-gate every modality's fingerprint.
    */
  private[graft] def dhash48(n: Int, value: Int => Long): Long = {
    val h = (n + 47) / 48
    val cs = new Array[Long](48)
    var j = 0
    while (j < 48) {
      var s = 0L
      var p = j * h
      val end = math.min(p + h, n)
      while (p < end) { s += value(p); p += 1 }
      cs(j) = s
      j += 1
    }
    var hash = 0L
    j = 0
    while (j < 48) {
      if (cs(j) > cs((j + 1) % 48)) hash |= 1L << j
      j += 1
    }
    hash
  }

  /** Generic fingerprint near-dup pairs: (doc_id, `fpCol`) frame joined
    * through the lossless SHARDED pigeonhole chunk index
    * ([[graft.functions.HashFunctions.simhashShardedChunkKeys]]), then
    * exact Hamming verify — one kernel behind the image/audio/video pair
    * sweeps. Output: (doc_a, doc_b, hamming).
    */
  private[graft] def fpNearDupPairsOf(fps: DataFrame, fpCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk index is only lossless for Hamming <= 3")
    val chunked = fps.select(col("doc_id"), col(fpCol),
      explode(graft.functions.HashFunctions.simhashShardedChunkKeys(col(fpCol))).as("chunk"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.HashFunctions.hamming(col(s"a.$fpCol"), col(s"b.$fpCol")).as("hamming"))
      // hamming FILTER before the pair dedup (r17, §2.3 shuffle fewer
      // bytes): hamming is determined by the pair, so duplicate candidate
      // rows collapse identically on either side of the filter — but the
      // distinct's shuffle now carries only survivors (pairs within
      // maxDist), never the full multi-chunk candidate stream
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Persist a fingerprint-dedup index: ONE parquet table of
    * (doc_id, fingerprint) under `$path/$table` — 8 bytes per item is the
    * entire serving state (chunk keys re-derive at serve time). `_DONE`-
    * marked: a crash mid-build leaves an index serves refuse.
    */
  private[graft] def buildFpIndexAt(fps: DataFrame, path: String, table: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    fs.delete(done, false)
    Tables.writeArtifact(fps, s"$path/$table", "overwrite")
    graft.operators.Forget.clearStaleForgetState(fs, path, Seq(table))
    Markers.commit(fs, done)
  }

  private[graft] def fpIndexExistsAt(path: String): Boolean = {
    val done = new org.apache.hadoop.fs.Path(path, "_DONE")
    done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf()).exists(done)
  }

  /** Append a batch of fingerprints to a persisted index — nightly growth
    * without a full rebuild. `_DONE` drops during the append and re-creates
    * after; a crashed BUILD (no committed `$table/_SUCCESS`) cannot be
    * repaired by extend and is a loud error. Spec-pinned per modality:
    * build(corpus) + extend(batch) serves identically to
    * build(corpus ∪ batch).
    */
  private[graft] def extendFpIndexAt(indexPath: String, fps: DataFrame,
      table: String): Unit = {
    val done = new org.apache.hadoop.fs.Path(indexPath, "_DONE")
    val fs = done.getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(new org.apache.hadoop.fs.Path(indexPath, s"$table/_SUCCESS")),
      s"fingerprint index at $indexPath is missing or uncommitted — " +
        "a crashed build cannot be repaired by extend; rebuild the index")
    graft.operators.Forget.requireNoCrashedForget(fs, indexPath)
    fs.delete(done, false)
    Tables.writeArtifact(fps, s"$indexPath/$table", "append")
    Markers.commit(fs, done)
  }

  /** Incremental fingerprint dedup vs a PERSISTED index: batch and corpus
    * both band into the sharded pigeonhole chunk keys, equi-join, exact
    * Hamming verify — losslessly equal to the bare batch×corpus
    * Hamming ≤ maxDist join (the oracle). Serve cost scales with the batch
    * and the index's fingerprint table — never with corpus media bytes.
    * Output: (doc_id, dup_of, hamming).
    */
  private[graft] def fpDedupAgainstAt(indexPath: String, batch: DataFrame,
      table: String, fpCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk index is only lossless for Hamming <= 3")
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(org.apache.spark.sql.GraftShim.sessionHadoopConf())
    require(fs.exists(new org.apache.hadoop.fs.Path(indexPath, "_DONE")),
      s"fingerprint index at $indexPath is absent or half-built (_DONE missing) — refusing to serve")
    val chunksOf = (df: DataFrame) => df.select(col("doc_id"), col(fpCol),
      explode(graft.functions.HashFunctions.simhashShardedChunkKeys(col(fpCol))).as("chunk"))
    val corpus = chunksOf(graft.sources.Tables.artifactParquet(spark, s"$indexPath/$table"))
      .select(col("doc_id").as("dup_of"), col(fpCol).as("__c_fp"), col("chunk"))
    chunksOf(Scale.maybeBroadcast(batch))
      .join(corpus, Seq("chunk"))
      .select(col("doc_id"), col("dup_of"),
        graft.functions.HashFunctions.hamming(col(fpCol), col("__c_fp")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  case class PHashRow(doc_id: Long, phash: Long)

  /** 48-bit BLOCK-DIFFERENCE PERCEPTUAL HASH (dHash family) over the
    * DECODED raster: the channel-byte stream splits into 48 equal chunks
    * (npad = 48·h bytes, so chunk j is exactly h bytes) and bit j is set
    * iff chunk j's sum EXCEEDS the next chunk's (circular: chunk 47
    * compares against chunk 0). Pure integer comparisons — any engine
    * replays them bit-for-bit. dHash, not the block-MEAN aHash, is the
    * deliberate choice for this raster population: on low-variance images
    * (uniform text bytes here; flat-field photos in production) every
    * block mean hovers at the global mean, so aHash bits collapse toward
    * a shared pattern — measured on this corpus it produced 432 k
    * Hamming ≤ 3 pairs at sf0.1 where the difference hash produces 242,
    * exactly the planted dup families. Adjacent-block DIFFERENCES keep
    * per-doc entropy even when absolute levels don't. 48 bits (not the
    * classic 64) follows the repo's simhash48 convention: every
    * intermediate stays a positive int64 in any engine, and the lossless
    * 4×12-bit chunk index applies unchanged.
    */
  def imagePHashesOf(docs: DataFrame): Dataset[PHashRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    imageBlobsOf(docs).mapPartitions { rows =>
      rows.map { r =>
        val (_, _, ch) = decodeImage(r.payload)
        // raster length is exactly 48·h bytes (zero-padded final row), so
        // the shared kernel's ceil-chunking reproduces the h-byte chunks
        PHashRow(r.doc_id, dhash48(ch.length, i => ch(i).toLong))
      }
    }
  }

  def imagePHashes(spark: SparkSession, dir: String): Dataset[PHashRow] =
    imagePHashesOf(Tables.documents(spark, dir))

  def phashes(spark: SparkSession, dir: String): DataFrame =
    imagePHashes(spark, dir).toDF()

  /** IMAGE NEAR-DUP pairs by perceptual hash: [[imagePHashes]] fingerprints
    * joined through the lossless SHARDED chunk index
    * (`HashFunctions.simhashShardedChunkKeys` — 12-bit pigeonhole chunk ×
    * 9-bit second-level block, 21 key bits, still exact for Hamming ≤ 3),
    * then exact Hamming verify. This is the image-modality twin of SimHash
    * text dedup: decode + hash are one shuffle-free corpus pass, the
    * candidate join carries 8-byte fingerprints (never rasters). The
    * sharded key is what keeps candidates linear past the point where the
    * flat 4096-bucket chunk table saturates (measured 7.0× wall at 16×
    * images before the refinement). Output: (doc_a, doc_b, hamming).
    */
  def phashNearDupPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    fpNearDupPairsOf(phashes(spark, dir), "phash", maxDist)

  /** Persist the image-dedup index: ONE parquet table of (doc_id, phash) —
    * 8 bytes of fingerprint per image is the entire serving state (the
    * 4×12-bit chunk keys are derived by exploding the table at serve time:
    * rather than persisting a 4×-larger chunk table, the serve pass
    * re-derives keys from a table that is already fingerprint-sized).
    * `_DONE`-marked like the text/vector indexes: a crash mid-build leaves
    * an index [[phashDedupAgainst]] refuses to serve.
    */
  def buildPhashIndex(images: Dataset[PHashRow], path: String): Unit =
    buildFpIndexAt(images.toDF(), path, "phashes")

  def phashIndexExists(path: String): Boolean = fpIndexExistsAt(path)

  /** Append a new batch of fingerprints to a persisted phash index — the
    * image twin of [[graft.operators.Dedup.extendDedupIndex]]: nightly
    * index growth without rebuilding over the full corpus. `_DONE` drops
    * during the append and is re-created after, so a crash mid-extend
    * leaves an index serves refuse; a crashed BUILD (no committed
    * `phashes/_SUCCESS`) cannot be repaired by extend and is a loud error.
    * Spec-pinned: build(corpus) + extend(batch) serves identically to
    * build(corpus ∪ batch).
    */
  def extendPhashIndex(indexPath: String, images: Dataset[PHashRow]): Unit =
    extendFpIndexAt(indexPath, images.toDF(), "phashes")

  /** INCREMENTAL image dedup — the image twin of `Dedup.dedupAgainst` /
    * `EmbeddingSearch.vecDedupAgainst`: a new batch of images is checked
    * against the PERSISTED corpus index without touching corpus payloads.
    * The batch decodes + hashes in one map pass; both sides band into the
    * SHARDED pigeonhole chunk keys (21 key bits — lossless for Hamming ≤ 3,
    * see `HashFunctions.simhashShardedChunkKeys`); the equi-join bounds
    * candidates and the exact Hamming verify keeps the result losslessly
    * equal to the bare batch×corpus Hamming ≤ 3 join (which is therefore
    * the oracle). Serve cost scales with the BATCH and the index's
    * fingerprint table — never with corpus image bytes, and per-batch-key
    * candidate volume stays bounded past the corpus size where a flat
    * 4096-bucket chunk table saturates. Output: (doc_id, dup_of, hamming),
    * one row per (batch image, matching corpus image).
    */
  def phashDedupAgainst(indexPath: String, batch: Dataset[PHashRow],
      maxDist: Int = 3): DataFrame =
    fpDedupAgainstAt(indexPath, batch.toDF(), "phashes", "phash", maxDist)

  /** Right-to-be-forgotten for the fingerprint indexes — a forgotten
    * image/audio/video document's fingerprints are per-record rows like
    * the text index's hashes, so the forget pass must reach them too:
    * anti-join via the shared staged-swap kernel
    * ([[graft.operators.Dedup.forgetFromIndexTables]], same crash contract:
    * gate on per-table `_SUCCESS`, resume committed swaps, rerun with the
    * same ids).
    */
  def forgetFromPhashIndex(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    graft.operators.Dedup.forgetFromIndexTables(spark, indexPath, Seq("phashes"), "doc_id", ids)

  def forgetFromAudioFpIndex(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    graft.operators.Dedup.forgetFromIndexTables(spark, indexPath, Seq("afps"), "doc_id", ids)

  def forgetFromVideoFpIndex(spark: SparkSession, indexPath: String, ids: DataFrame): Unit =
    graft.operators.Dedup.forgetFromIndexTables(spark, indexPath, Seq("vfps"), "doc_id", ids)

  // ---------------------------------------------------------------- audio

  /** Audio sample rate for the synthesized WAV corpus (8 kHz mono PCM16). */
  private val SampleRate = 8000

  case class AudioRow(doc_id: Long, payload: Array[Byte])

  /** Synthesize the corpus' audio blobs: one REAL RIFF/WAVE container per
    * doc — canonical "fmt " chunk (PCM, mono, 8 kHz, 16-bit) and a "data"
    * chunk holding one little-endian sample per text character,
    * `sample = (code − 64) · 256` (signed 16-bit, mixed-sign over ASCII).
    * Even doc_ids additionally carry a LIST/INFO metadata chunk BETWEEN
    * fmt and data — real files have those, and a decoder that assumes
    * fixed offsets instead of walking chunks breaks on them (the spec
    * pins that [[decodeWav]] doesn't).
    */
  def audioBlobsOf(docs: DataFrame): Dataset[AudioRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          AudioRow(id, encodeWav(text, withListChunk = id % 2 == 0))
        }
      }
  }

  def audioBlobs(spark: SparkSession, dir: String): Dataset[AudioRow] =
    audioBlobsOf(Tables.documents(spark, dir))

  private def encodeWav(text: String, withListChunk: Boolean): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val n = text.length
    val listChunk: Array[Byte] =
      if (!withListChunk) Array.emptyByteArray
      else {
        // LIST/INFO with one ISFT entry — the chunk real encoders emit
        val payload = "INFOISFT".getBytes("US-ASCII") ++
          ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(6).array() ++
          "graft\u0000".getBytes("US-ASCII")
        val b = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
        b.put("LIST".getBytes("US-ASCII")).putInt(payload.length).put(payload)
        b.array()
      }
    val dataBytes = 2 * n
    val riffSize = 4 + (8 + 16) + listChunk.length + (8 + dataBytes)
    val b = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(riffSize).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1)                       // PCM
    b.putShort(1)                       // mono
    b.putInt(SampleRate)
    b.putInt(SampleRate * 2)            // byte rate
    b.putShort(2)                       // block align
    b.putShort(16)                      // bits per sample
    b.put(listChunk)
    b.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < n) { b.putShort(((text.charAt(i) - 64) * 256).toShort); i += 1 }
    b.array()
  }

  /** THE REAL DECODE: a RIFF chunk walker — verifies the RIFF/WAVE magic,
    * iterates chunks (word-aligned, unknown chunks skipped, exactly what a
    * production reader must do), requires a PCM16-mono "fmt " before the
    * "data" chunk, and reads little-endian samples. Returns
    * (sampleRate, samples). Fails loudly on any malformed container —
    * there is deliberately no lenient path.
    */
  private[graft] def decodeWav(payload: Array[Byte]): (Int, Array[Short]) = {
    import java.nio.{ByteBuffer, ByteOrder}
    val b = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII") }
    require(b.remaining >= 12 && tag() == "RIFF", "not a RIFF container")
    val riffSize = b.getInt
    require(riffSize == b.remaining, s"RIFF size $riffSize != ${b.remaining} remaining")
    require(tag() == "WAVE", "RIFF is not WAVE")
    var rate = -1
    while (b.remaining >= 8) {
      val id = tag()
      val size = b.getInt
      require(size >= 0 && size <= b.remaining, s"chunk $id overruns container")
      id match {
        case "fmt " =>
          require(size >= 16, "fmt chunk too short")
          val fmtEnd = b.position() + size
          require(b.getShort == 1, "not PCM")
          require(b.getShort == 1, "not mono")
          rate = b.getInt
          b.getInt                               // byte rate (derived)
          require(b.getShort == 2, "block align != 2")
          require(b.getShort == 16, "not 16-bit")
          b.position(fmtEnd)
        case "data" =>
          require(rate > 0, "data chunk before fmt")
          require(size % 2 == 0, "odd PCM16 data size")
          val samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = b.getShort; i += 1 }
          return (rate, samples)
        case _ =>
          b.position(b.position() + size + (size & 1))  // skip, word-aligned
      }
    }
    throw new IllegalArgumentException("no data chunk in WAVE")
  }

  case class AudioFeatureRow(doc_id: Long, sample_rate: Long, n_samples: Long,
      duration_ms: Long, peak: Long, sum_abs: Long, sample_checksum: Long)

  /** Decode + featurize the audio corpus: duration, peak amplitude, total
    * absolute amplitude, and an order-insensitive checksum — all off the
    * PARSED samples, so the oracle (which replays the expected values from
    * the text codes) hash-gates the whole container round-trip. Same
    * mapPartitions shape as the image family: executor-parallel, zero
    * shuffle, linear in payload bytes.
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioBlobs(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val (rate, samples) = decodeWav(r.payload)
        var sumAbs = 0L
        var peak = 0L
        var check = 0L
        var i = 0
        while (i < samples.length) {
          val s = samples(i).toLong
          val a = math.abs(s)
          sumAbs += a
          if (a > peak) peak = a
          check += s + 32768L
          i += 1
        }
        AudioFeatureRow(r.doc_id, rate.toLong, samples.length.toLong,
          samples.length.toLong * 1000L / rate, peak, sumAbs, check % 2147483647L)
      }
    }.toDF()
  }

  case class AudioFpRow(doc_id: Long, afp: Long)

  /** 48-bit AUDIO fingerprint over the DECODED PCM samples — the audio
    * member of the shared [[dhash48]] family: the sample stream splits into
    * 48 equal chunks (h = ceil(n/48), tail zero-padded) and bit j compares
    * adjacent chunk ENERGY sums (circular). Adjacent-chunk differences are
    * robust to the global-gain changes a re-encode introduces (every chunk
    * sum scales together, comparisons survive) — the same reasoning that
    * picked dHash over aHash for images. Decode + hash is one shuffle-free
    * map pass; 8 bytes of fingerprint per clip is all that travels.
    */
  def audioFingerprintsOf(audio: Dataset[AudioRow]): Dataset[AudioFpRow] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val (_, samples) = decodeWav(r.payload)
        AudioFpRow(r.doc_id, dhash48(samples.length, i => samples(i).toLong))
      }
    }
  }

  def audioFingerprints(spark: SparkSession, dir: String): Dataset[AudioFpRow] =
    audioFingerprintsOf(audioBlobs(spark, dir))

  def audioFps(spark: SparkSession, dir: String): DataFrame =
    audioFingerprints(spark, dir).toDF()

  /** AUDIO NEAR-DUP pairs — fingerprints through the sharded pigeonhole
    * index + exact Hamming verify, the audio twin of [[phashNearDupPairs]].
    * Output: (doc_a, doc_b, hamming).
    */
  def audioNearDupPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    fpNearDupPairsOf(audioFps(spark, dir), "afp", maxDist)

  def buildAudioFpIndex(fps: Dataset[AudioFpRow], path: String): Unit =
    buildFpIndexAt(fps.toDF(), path, "afps")

  def audioFpIndexExists(path: String): Boolean = fpIndexExistsAt(path)

  /** Incremental audio dedup vs the persisted fingerprint index — the audio
    * twin of [[phashDedupAgainst]]; output (doc_id, dup_of, hamming).
    */
  def audioDedupAgainst(indexPath: String, batch: Dataset[AudioFpRow],
      maxDist: Int = 3): DataFrame =
    fpDedupAgainstAt(indexPath, batch.toDF(), "afps", "afp", maxDist)

  // ------------------------------------------------------------------ video

  private val VideoW = 4
  private val VideoH = 4
  private val UsecPerFrame = 40000 // 25 fps
  private def frameBytes = VideoW * VideoH

  case class VideoRow(doc_id: Long, payload: Array[Byte])

  /** Synthesize the corpus' video blobs: one REAL RIFF/"AVI " container per
    * doc — LIST(hdrl) holding a canonical 56-byte `avih` main header
    * (µs/frame, total frames, width, height at their real offsets), then
    * LIST(movi) with one `00db` uncompressed-frame chunk PER TEXT CHARACTER
    * (frame k's pixel j = (code·7 + j·13) mod 256 — deterministic,
    * oracle-replayable). Even doc_ids carry a JUNK chunk between hdrl and
    * movi — real muxers pad with those, and a reader that assumes fixed
    * offsets instead of walking chunks breaks on them (the spec pins that
    * [[decodeAvi]] doesn't).
    */
  def videoBlobsOf(docs: DataFrame): Dataset[VideoRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          VideoRow(id, encodeAvi(text, withJunkChunk = id % 2 == 0))
        }
      }
  }

  def videoBlobs(spark: SparkSession, dir: String): Dataset[VideoRow] =
    videoBlobsOf(Tables.documents(spark, dir))

  private def encodeAvi(text: String, withJunkChunk: Boolean): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val n = text.length
    val avih = ByteBuffer.allocate(8 + 56).order(ByteOrder.LITTLE_ENDIAN)
    avih.put("avih".getBytes("US-ASCII")).putInt(56)
    avih.putInt(UsecPerFrame)            //  0: dwMicroSecPerFrame
    avih.putInt(frameBytes * 25)         //  4: dwMaxBytesPerSec
    avih.putInt(0)                       //  8: dwPaddingGranularity
    avih.putInt(0)                       // 12: dwFlags
    avih.putInt(n)                       // 16: dwTotalFrames
    avih.putInt(0)                       // 20: dwInitialFrames
    avih.putInt(1)                       // 24: dwStreams
    avih.putInt(frameBytes)              // 28: dwSuggestedBufferSize
    avih.putInt(VideoW)                  // 32: dwWidth
    avih.putInt(VideoH)                  // 36: dwHeight
    avih.putInt(0).putInt(0).putInt(0).putInt(0) // 40..55: reserved
    val hdrlPayload = "hdrl".getBytes("US-ASCII") ++ avih.array()
    val junk: Array[Byte] =
      if (!withJunkChunk) Array.emptyByteArray
      else {
        val b = ByteBuffer.allocate(8 + 4).order(ByteOrder.LITTLE_ENDIAN)
        b.put("JUNK".getBytes("US-ASCII")).putInt(4).putInt(0)
        b.array()
      }
    val moviPayload = new Array[Byte](4 + n * (8 + frameBytes))
    val mb = ByteBuffer.wrap(moviPayload).order(ByteOrder.LITTLE_ENDIAN)
    mb.put("movi".getBytes("US-ASCII"))
    var k = 0
    while (k < n) {
      val code = text.charAt(k).toInt
      mb.put("00db".getBytes("US-ASCII")).putInt(frameBytes)
      var j = 0
      while (j < frameBytes) { mb.put(((code * 7 + j * 13) % 256).toByte); j += 1 }
      k += 1
    }
    val riffSize = 4 + (8 + hdrlPayload.length) + junk.length + (8 + moviPayload.length)
    val out = ByteBuffer.allocate(8 + riffSize).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(riffSize).put("AVI ".getBytes("US-ASCII"))
    out.put("LIST".getBytes("US-ASCII")).putInt(hdrlPayload.length).put(hdrlPayload)
    out.put(junk)
    out.put("LIST".getBytes("US-ASCII")).putInt(moviPayload.length).put(moviPayload)
    out.array()
  }

  /** THE REAL DECODE: the same chunk-walker discipline as [[decodeWav]] for
    * the AVI layout — RIFF/"AVI " magic and size check, top-level LIST
    * dispatch on list type (hdrl → `avih` main header, movi → `00db` frame
    * chunks), unknown chunks (JUNK) skipped word-aligned, header required
    * before frames, declared frame count required to match frames found.
    * Fails loudly on any malformed container — no lenient path. Returns
    * (usecPerFrame, width, height, frames).
    */
  private[graft] def decodeAvi(payload: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    import java.nio.{ByteBuffer, ByteOrder}
    val b = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = { val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII") }
    require(b.remaining >= 12 && tag() == "RIFF", "not a RIFF container")
    val riffSize = b.getInt
    require(riffSize == b.remaining, s"RIFF size $riffSize != ${b.remaining} remaining")
    require(tag() == "AVI ", "RIFF is not AVI")
    var usec = -1; var total = -1; var w = -1; var h = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (b.remaining >= 8) {
      val id = tag()
      val size = b.getInt
      require(size >= 0 && size <= b.remaining, s"chunk $id overruns container")
      val end = b.position() + size + (size & 1)
      if (id == "LIST") {
        require(size >= 4, "LIST chunk too short")
        tag() match {
          case "hdrl" =>
            // walk the header list for avih
            while (b.position() < end - 1 && b.remaining >= 8) {
              val hid = tag(); val hsize = b.getInt
              require(hsize >= 0 && b.position() + hsize <= end, s"header chunk $hid overruns")
              if (hid == "avih") {
                require(hsize >= 40, "avih too short")
                val p = b.position()
                usec = b.getInt(p); total = b.getInt(p + 16)
                w = b.getInt(p + 32); h = b.getInt(p + 36)
                require(usec > 0 && total >= 0 && w > 0 && h > 0, "bad avih fields")
              }
              b.position(b.position() + hsize + (hsize & 1))
            }
          case "movi" =>
            require(usec > 0, "movi before avih header")
            while (b.position() < end - 1 && b.remaining >= 8) {
              val fid = tag(); val fsize = b.getInt
              require(fsize >= 0 && b.position() + fsize <= end, s"frame chunk $fid overruns")
              if (fid == "00db") {
                val f = new Array[Byte](fsize)
                b.get(f)
                frames += f
                if ((fsize & 1) == 1) b.get()
              } else b.position(b.position() + fsize + (fsize & 1))
            }
          case _ => () // unknown list: skip to end below
        }
      }
      b.position(end)
    }
    require(total == frames.length, s"declared $total frames, found ${frames.length}")
    (usec, w, h, frames.toArray)
  }

  case class VideoFeatureRow(doc_id: Long, n_frames: Long, width: Long,
      height: Long, fps_e3: Long, duration_ms: Long, frames_checksum: Long,
      sampled_sum: Long)

  /** Decode + featurize the video corpus: frame count, dimensions, exact
    * milli-fps and duration from the parsed header, an ORDER-SENSITIVE
    * checksum over all frames (frame k weighted by k+1 — a reordered or
    * dropped frame breaks it), and the every-5th-frame sampled byte sum
    * (the frame-sampling pass a feature extractor runs). All off the parsed
    * container, so the oracle — which replays the expected values from the
    * text codes — hash-gates the whole mux/demux round-trip. Same
    * mapPartitions shape as the image and audio families: executor-
    * parallel, zero shuffle, linear in payload bytes.
    */
  def videoFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoBlobs(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val (usec, w, h, frames) = decodeAvi(r.payload)
        var check = 0L
        var sampled = 0L
        var k = 0
        while (k < frames.length) {
          val f = frames(k)
          var s = 0L
          var j = 0
          while (j < f.length) { s += f(j) & 0xff; j += 1 }
          check = (check + s * (k + 1)) % 2147483647L
          if (k % 5 == 0) sampled += s
          k += 1
        }
        VideoFeatureRow(r.doc_id, frames.length.toLong, w.toLong, h.toLong,
          1000000000L / usec, frames.length.toLong * usec / 1000L,
          check, sampled)
      }
    }.toDF()
  }

  case class VideoFpRow(doc_id: Long, vfp: Long)

  /** 48-bit VIDEO fingerprint over the DEMUXED frame sequence — the video
    * member of the shared [[dhash48]] family, hashed at FRAME granularity:
    * the per-frame byte sums (one energy scalar per frame, order preserved)
    * split into 48 equal chunks and bit j compares adjacent chunk sums.
    * Frame-level hashing is what makes this a VIDEO fingerprint rather than
    * a bag-of-pixels one: re-encoded copies that keep the frame sequence
    * collapse, while a reordered or re-cut frame sequence moves energy
    * across chunk boundaries and flips difference bits. One demux + hash
    * map pass; 8 bytes per video travels into the joins.
    */
  def videoFingerprintsOf(video: Dataset[VideoRow]): Dataset[VideoFpRow] = {
    val spark = video.sparkSession
    import spark.implicits._
    video.mapPartitions { rows =>
      rows.map { r =>
        val (_, _, _, frames) = decodeAvi(r.payload)
        val fsums = new Array[Long](frames.length)
        var k = 0
        while (k < frames.length) {
          val f = frames(k)
          var s = 0L
          var j = 0
          while (j < f.length) { s += f(j) & 0xff; j += 1 }
          fsums(k) = s
          k += 1
        }
        VideoFpRow(r.doc_id, dhash48(fsums.length, fsums(_)))
      }
    }
  }

  def videoFingerprints(spark: SparkSession, dir: String): Dataset[VideoFpRow] =
    videoFingerprintsOf(videoBlobs(spark, dir))

  def videoFps(spark: SparkSession, dir: String): DataFrame =
    videoFingerprints(spark, dir).toDF()

  /** VIDEO NEAR-DUP pairs — the video twin of [[phashNearDupPairs]];
    * output (doc_a, doc_b, hamming).
    */
  def videoNearDupPairs(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    fpNearDupPairsOf(videoFps(spark, dir), "vfp", maxDist)

  def buildVideoFpIndex(fps: Dataset[VideoFpRow], path: String): Unit =
    buildFpIndexAt(fps.toDF(), path, "vfps")

  def videoFpIndexExists(path: String): Boolean = fpIndexExistsAt(path)

  def extendVideoFpIndex(indexPath: String, fps: Dataset[VideoFpRow]): Unit =
    extendFpIndexAt(indexPath, fps.toDF(), "vfps")

  /** Incremental video dedup vs the persisted fingerprint index — the video
    * twin of [[phashDedupAgainst]]; output (doc_id, dup_of, hamming).
    */
  def videoDedupAgainst(indexPath: String, batch: Dataset[VideoFpRow],
      maxDist: Int = 3): DataFrame =
    fpDedupAgainstAt(indexPath, batch.toDF(), "vfps", "vfp", maxDist)
}
