package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pin.PinOps

/** Multimodal columns: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus the decode / feature-extract / resize /
  * frame-sample plumbing.
  *
  * Spark-side design (the part that is real and tested here):
  *  - media rows are (id, kind, meta struct, bytes) — the binary column
  *    travels opaque through shuffles/scans; all relational pruning
  *    applies to the metadata columns without touching payloads;
  *  - decoding runs via `mapPartitions` over a typed Dataset, so the
  *    decoder (in production: a JNI codec, an ONNX session, a JVM image
  *    library) is instantiated ONCE PER PARTITION and reused across the
  *    partition's rows — the Scala analog of the Python
  *    `mapInPandas` batch-UDF pattern, and the only shape that
  *    amortizes model/codec init at 100 TB;
  *  - partition sizing: media blobs are large, so callers should
  *    `repartition` by byte budget, not row count ([[byByteBudget]]).
  *
  * Decoding reality: [[MediaDecoder.real]] parses WAV and BMP with
  * pure-JVM header/sample math ([[PureJvmMedia]] — no codec library
  * needed for those containers) and throws loudly for formats that do
  * need codecs absent here (jpeg/png/mp3/mp4). Tests and pipelines can
  * also plug [[MediaDecoder.deterministicStub]], which derives stable
  * pseudo-content from payload bytes regardless of format.
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      format: String, // png, wav, mp4, ...
      width: Int, // source-declared metadata; 0 when unknown
      height: Int,
      bytes: Array[Byte],
  )

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      decoded_width: Int,
      decoded_height: Int,
      n_frames: Int,
      embedding: Array[Float],
      decoder_instances: Int, // observability: how many decoder inits this partition saw
  )

  /** A per-partition-instantiable decoder. `decode` maps raw bytes to
    * (width, height, frames, embedding); for audio the convention is
    * (sample rate Hz, channels, PCM frame count, pooled features).
    * `durationMs`/`sliceAudio` drive [[chunkAudio]]: defaults keep the
    * stub's bytes≈ms model; format-aware decoders override with real
    * header math.
    */
  trait MediaDecoder extends Serializable {
    def decode(kind: String, format: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float])

    /** Audio duration in ms; default is the stub's 1 byte ≈ 1 ms model. */
    def durationMs(kind: String, format: String, bytes: Array[Byte]): Int = bytes.length

    /** Extract the [startMs, endMs) audio range as a standalone payload;
      * default is the stub's byte-slice model.
      */
    def sliceAudio(format: String, bytes: Array[Byte], startMs: Int, endMs: Int): Array[Byte] =
      bytes.slice(startMs, endMs)

    /** Resize an image payload to fit `maxDim`, re-encoded in its own
      * container. None ⇒ no real transcoder for this format; the
      * caller applies its deterministic stub instead.
      */
    def resizeImage(format: String, bytes: Array[Byte], maxDim: Int): Option[(Int, Int, Array[Byte])] =
      None
  }

  object MediaDecoder {

    /** The real decoder: pure-JVM parsers for the container formats
      * that need no third-party codec — WAV (RIFF chunk walk + PCM
      * samples), BMP (BITMAPINFOHEADER + padded pixel rows), and the
      * compressed raster formats the JRE's own `javax.imageio` decodes
      * (JPEG/PNG/GIF — zero new deps) — and a LOUD
      * `UnsupportedOperationException` for formats that genuinely need
      * external codecs (mp3/mp4/webp/...; production would construct
      * an ONNX/JNI session here). Embeddings are block-pooled content
      * means with identical per-pixel math across containers, so the
      * same pixels yield the same embedding whether they arrive as BMP
      * or PNG — the near-dup cascade links lossless re-encodes.
      */
    def real(embeddingDim: Int = 8): MediaDecoder = new MediaDecoder {
      def decode(kind: String, format: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) =
        format.toLowerCase match {
          case "wav" =>
            val w = PureJvmMedia.parseWav(bytes)
            (w.sampleRate, w.channels, w.frames, PureJvmMedia.wavEmbedding(bytes, w, embeddingDim))
          case "bmp" =>
            val b = PureJvmMedia.parseBmp(bytes)
            (b.width, b.height, 1, PureJvmMedia.bmpEmbedding(bytes, b, embeddingDim))
          case f if PureJvmMedia.ImageIoFormats.contains(f) =>
            val img = PureJvmMedia.decodeImage(bytes)
            (img.getWidth, img.getHeight, 1, PureJvmMedia.imageEmbedding(img, embeddingDim))
          case other =>
            throw new UnsupportedOperationException(
              s"format '$other' needs a codec library not present in this environment " +
                "(pure-JVM decode covers wav, bmp, and ImageIO's jpeg/png/gif)")
        }

      override def resizeImage(format: String, bytes: Array[Byte], maxDim: Int): Option[(Int, Int, Array[Byte])] =
        PureJvmMedia.resizeEncode(format, bytes, maxDim)

      override def durationMs(kind: String, format: String, bytes: Array[Byte]): Int =
        if (format.equalsIgnoreCase("wav")) {
          val w = PureJvmMedia.parseWav(bytes)
          ((w.frames.toLong * 1000L) / math.max(1, w.sampleRate)).toInt
        } else super.durationMs(kind, format, bytes)

      override def sliceAudio(format: String, bytes: Array[Byte], startMs: Int, endMs: Int): Array[Byte] =
        if (format.equalsIgnoreCase("wav")) PureJvmMedia.sliceWav(bytes, startMs, endMs)
        else super.sliceAudio(format, bytes, startMs, endMs)
    }

    /** Deterministic fake: dimensions and embedding are stable functions
      * of the payload bytes, so pipelines and tests behave like the real
      * thing (decode cost per row, init cost per partition) with
      * reproducible outputs.
      */
    def deterministicStub(embeddingDim: Int = 8): MediaDecoder = new MediaDecoder {
      def decode(kind: String, format: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
        var h = 1125899906842597L // deterministic FNV-ish fold of the payload
        bytes.foreach(b => h = h * 31 + (b & 0xff))
        val w = 16 + math.floorMod(h, 240).toInt
        val ht = 16 + math.floorMod(h >> 8, 240).toInt
        val frames = if (kind == "video") 1 + math.floorMod(h >> 16, 32).toInt else 1
        val emb = Array.tabulate(embeddingDim) { i =>
          // fmix64 avalanche: without it the components inherit the
          // fold's structure and similar payloads come out near-parallel
          var z = h ^ (0x9e3779b97f4a7c15L * (i + 1))
          z ^= z >>> 33; z *= 0xff51afd7ed558ccdL
          z ^= z >>> 33; z *= 0xc4ceb9fe1a85ec53L
          z ^= z >>> 33
          // signed components in (-1, 1): real feature embeddings are
          // signed — an all-positive fake crowds the positive orthant
          // and makes unrelated payloads near-parallel (cos ≈ 0.999)
          ((z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
        }
        (w, ht, frames, emb)
      }
    }
  }

  /** Decode + feature-extract: one decoder instance per partition,
    * streamed over the partition iterator (no materialization of the
    * whole partition in memory — blobs stay one-at-a-time).
    */
  def decodeFeatures(
      media: Dataset[MediaRecord],
      mkDecoder: () => MediaDecoder,
  ): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val decoder = mkDecoder() // once per partition — amortized init
      it.map { r =>
        val (w, h, frames, emb) = decoder.decode(r.kind, r.format, r.bytes)
        MediaFeatures(r.media_id, r.kind, w, h, frames, emb, 1)
      }
    }
  }

  /** Resize image rows to a bounded max dimension. REAL for ImageIO
    * formats (jpeg/png/gif: bilinear scale + same-container re-encode
    * via the decoder's `resizeImage`); formats without a JRE writer
    * fall back to the deterministic stub (byte truncation in area
    * ratio). The Spark shape is shared either way: one decoder/encoder
    * per partition, metadata columns updated in the same pass,
    * non-image rows passed through untouched.
    */
  def resizeImages(
      media: Dataset[MediaRecord],
      maxDim: Int,
      mkDecoder: () => MediaDecoder,
  ): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val decoder = mkDecoder()
      it.map { r =>
        if (r.kind != "image") r
        else decoder.resizeImage(r.format, r.bytes, maxDim) match {
          case Some((nw, nh, nBytes)) => // real transcode (ImageIO formats)
            r.copy(width = nw, height = nh, bytes = nBytes)
          case None =>
            val (w, h, _, _) = decoder.decode(r.kind, r.format, r.bytes)
            if (math.max(w, h) <= maxDim) r.copy(width = w, height = h)
            else {
              val scale = maxDim.toDouble / math.max(w, h)
              val (nw, nh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
              // STUB re-encode: deterministic byte truncation in area ratio
              val nBytes = math.max(1, (r.bytes.length * scale * scale).toInt)
              r.copy(width = nw, height = nh, bytes = r.bytes.take(nBytes))
            }
        }
      }
    }
  }

  /** Frame-sample plumbing for video rows: emit one row per sampled
    * frame index (decode stubbed; the flatMap shape — one input row,
    * many output rows, still one decoder per partition — is the real
    * part).
    */
  def sampleFrames(
      media: Dataset[MediaRecord],
      everyN: Int,
      mkDecoder: () => MediaDecoder,
  ): DataFrame = {
    import media.sparkSession.implicits._
    media
      .mapPartitions { it =>
        val decoder = mkDecoder()
        it.flatMap { r =>
          if (r.kind != "video") Iterator.empty
          else {
            val (w, h, frames, _) = decoder.decode(r.kind, r.format, r.bytes)
            (0 until frames by everyN).iterator.map(f => (r.media_id, f, w, h))
          }
        }
      }
      .toDF("media_id", "frame_idx", "width", "height")
  }

  /** Per-frame scalar signatures for video rows: one output row per
    * decoded frame, one decoder per partition. STUB signature model:
    * the mean byte value of the frame's byte slice, normalized to
    * [0,1] — a real decoder computes a perceptual hash or pooled
    * feature per frame, same signature and shape. Frames of one video
    * never leave the row's executor; output size is bounded by total
    * video frames, not corpus rows.
    */
  def frameSignatures(
      media: Dataset[MediaRecord],
      mkDecoder: () => MediaDecoder,
  ): DataFrame = {
    import media.sparkSession.implicits._
    media
      .mapPartitions { it =>
        val decoder = mkDecoder()
        it.flatMap { r =>
          if (r.kind != "video" || r.bytes.isEmpty) Iterator.empty
          else {
            val (_, _, frames, _) = decoder.decode(r.kind, r.format, r.bytes)
            if (frames <= 0) Iterator.empty
            else {
              val span = math.max(1, r.bytes.length / frames)
              (0 until frames).iterator.map { f =>
                val lo = math.min(f * span, r.bytes.length - 1)
                val hi =
                  if (f == frames - 1) r.bytes.length
                  else math.min((f + 1) * span, r.bytes.length)
                val slice = r.bytes.slice(lo, hi)
                val sig =
                  if (slice.isEmpty) 0.0
                  else slice.map(b => (b & 0xff).toDouble).sum / slice.length / 255.0
                (r.media_id, f, sig)
              }
            }
          }
        }
      }
      .toDF("media_id", "frame_idx", "sig")
  }

  /** Video scene split: cut where the inter-frame signature distance
    * exceeds `threshold`, then report one row per scene with its frame
    * range. The segmentation is fully declarative — lag() marks cuts, a
    * running sum of cuts numbers the scenes, a groupBy summarizes them —
    * so Catalyst plans it as one shuffle on media_id with two window
    * passes over each video's (small) frame list. This is the shape
    * scene detection keeps at 100 TB: decode fan-out is executor-local,
    * and everything after the signatures is ordinary relational work.
    */
  def sceneSplit(
      media: Dataset[MediaRecord],
      threshold: Double,
      mkDecoder: () => MediaDecoder,
  ): DataFrame = {
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("sig"), 1).over(w)
    frameSignatures(media, mkDecoder)
      .withColumn("cut",
        when(prev.isNull || abs(col("sig") - prev) > threshold, 1L).otherwise(0L))
      .withColumn("scene_id", sum(col("cut")).over(run) - 1L)
      .groupBy("media_id", "scene_id")
      .agg(
        min("frame_idx").as("start_frame"),
        max("frame_idx").as("end_frame"),
        count(lit(1)).as("n_frames"),
        round(avg("sig"), 6).as("mean_sig"),
      )
      .orderBy("media_id", "scene_id")
  }

  /** Audio chunking: split audio payloads into fixed-size windows with a
    * hop (overlap) — the framing step every audio feature pipeline
    * (spectrogram, ASR, audio-embedding) starts with. One row in, many
    * chunk rows out, one decoder per partition, chunks emitted lazily —
    * the flatMap shape is the real part. Duration and per-chunk byte
    * ranges come from the stub's bytes≈ms model (a real decoder reads
    * the container header; same signature).
    *
    * Scale: chunk count = duration/hop per row — output size is bounded
    * by audio hours, not corpus rows; each chunk row carries only its
    * byte slice, so downstream shuffles move chunk-sized payloads, never
    * whole recordings.
    */
  def chunkAudio(
      media: Dataset[MediaRecord],
      chunkMs: Int,
      hopMs: Int,
      mkDecoder: () => MediaDecoder,
  ): DataFrame = {
    require(hopMs > 0 && chunkMs >= hopMs, "need hopMs > 0 and chunkMs >= hopMs")
    import media.sparkSession.implicits._
    media
      .mapPartitions { it =>
        val decoder = mkDecoder()
        it.flatMap { r =>
          if (r.kind != "audio") Iterator.empty
          else {
            // duration and slicing are the decoder's business: the stub
            // keeps its bytes≈ms model, the real decoder reads the WAV
            // header and cuts PCM-frame-aligned standalone chunks
            val durMs = decoder.durationMs(r.kind, r.format, r.bytes)
            // empty/corrupt payload → zero chunks (not one phantom 0-ms chunk)
            val starts = (0 until durMs by hopMs).iterator
            starts.zipWithIndex.map { case (start, idx) =>
              val end = math.min(start + chunkMs, durMs)
              (r.media_id, idx, start, end - start,
                decoder.sliceAudio(r.format, r.bytes, start, end))
            }
          }
        }
      }
      .toDF("media_id", "chunk_idx", "start_ms", "dur_ms", "chunk_bytes")
  }

  /** Composed pipeline: media near-duplicate pairs via decoded
    * embeddings — decode/feature-extract (one decoder per partition),
    * L2-normalize, then the portable sign-LSH cascade every registered
    * near-dup query runs ([[graft.llm.SimilarityPipeline.portableVerifiedPairs]]:
    * md5-plane cells sized to the corpus, banded hamming-≤1 candidate
    * join, exact fixed-point verify on candidates only). This is
    * image/audio dedup as a training-data pipeline runs it at 100 TB:
    * payload bytes are dropped after feature extraction, and no stage
    * compares all pairs.
    *
    * `threshold` is taken as the exact decimal it prints as (0.999 is
    * 999/1000) and tested as cos ≥ tNum/tDen in integers. Cosine is
    * scale-invariant, and unit length keeps every fixed-point dot
    * inside int64 whatever the decoder's output scale. A zero
    * embedding (a silent clip) has no cosine and pairs with nothing.
    * Output (media_a, media_b, cos), `cos` computed from the pair's
    * own fixed-point dot and norms.
    */
  def mediaNearDupPairs(
      media: Dataset[MediaRecord],
      threshold: Double,
      mkDecoder: () => MediaDecoder,
      embeddingDim: Int = 8,
  ): DataFrame = {
    import graft.llm.SimilarityPipeline
    val t = java.math.BigDecimal.valueOf(threshold)
    require(t.signum > 0 && t.compareTo(java.math.BigDecimal.ONE) <= 0, "threshold must be in (0, 1]")
    val digits = math.max(0, t.scale)
    require(digits <= 9, s"threshold $threshold has more than 9 decimal digits")
    val tNum = t.movePointRight(digits).intValueExact
    val tDen = math.pow(10, digits).toInt
    // Eagerly materialize the normalized features: the banded
    // self-join reads them twice, and a non-bit-deterministic real
    // decoder (GPU/ONNX reductions) would tear the two sides across
    // independent evaluations. pinLineage = the repo's standard
    // one-materialization barrier (localCheckpoint, or a reliable
    // checkpoint under Pin.Flag for spot/preemptible executors);
    // blocks are freed by the ContextCleaner when the result is GC'd.
    val emb = decodeFeatures(media, mkDecoder)
      .select(col("media_id").as("vec_id"), col("embedding"),
        sqrt(graft.functions.VectorFunctions.dot(col("embedding"), col("embedding"))).as("norm"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => when(col("norm") > 0, x / col("norm")).otherwise(x).cast("float")).as("embedding"))
      .pinLineage()
    val n = emb.count() // index sizing over the checkpoint (same driver action as q37/q38)
    SimilarityPipeline
      .portableVerifiedPairs(emb, SimilarityPipeline.cellBits(n), embeddingDim,
        SimilarityPipeline.cosAtLeast(tNum, tDen))
      .select(col("va").as("media_a"), col("vb").as("media_b"),
        (col("dot_fp") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos"))
  }

  /** Repartition media by cumulative byte budget instead of row count:
    * with multi-MB blobs, row-count partitioning yields wildly skewed
    * task sizes. Approximation: partitions = ceil(total_bytes /
    * budget), then hash-distribute — at 100 TB this is the difference
    * between balanced 256 MB tasks and OOM stragglers.
    */
  def byByteBudget(media: DataFrame, bytesPerPartition: Long): DataFrame = {
    val total = media
      .agg(coalesce(sum(length(col("bytes"))), lit(0L))).head().getLong(0)
    val parts = math.max(1, math.ceil(total.toDouble / bytesPerPartition).toInt)
    media.repartition(parts)
  }

  /** Relational metadata pass (no payload touch): per kind/format stats
    * over declared metadata — demonstrates that pruning keeps the
    * binary column out of the scan entirely when not selected.
    */
  def mediaStats(media: DataFrame): DataFrame =
    media
      .groupBy("kind", "format")
      .agg(
        count(lit(1)).as("n"),
        max("width").as("max_w"),
        max("height").as("max_h"),
      )
      .orderBy("kind", "format")

  // ------------------------------------------------------------------
  // Perceptual image hashing (round 8): dHash (row gradients) + aHash
  // (mean threshold) over an 8×8 integer gray grid — ALL arithmetic is
  // integer comparisons and bit packing, so the hashes are exact,
  // container-independent, and cross-engine reproducible. Two grid
  // sources share one bit rule:
  //  - the DECODE path ([[perceptualHashes]]): real pixels via
  //    ImageIO/BMP ([[PureJvmMedia.grayGrid64]]) — ScalaTest-pinned
  //    with a planted PNG↔BMP re-encoded duplicate;
  //  - the METADATA path ([[textPixelGrid64]]): a deterministic grid
  //    derived from a text payload (the q45 stub discipline), which is
  //    what lets the near-dup query be ORACLE-checked end to end.
  // Hashes are 56-bit (never the sign bit) so shifts and packing
  // behave identically in Spark and DuckDB BIGINTs.
  // ------------------------------------------------------------------

  /** dHash bit rule over a 64-int grid: bit r·7+c = 1 iff
    * v[r·8+c+1] > v[r·8+c] (8 rows × 7 horizontal gradients). Gradient
    * comparisons are invariant to uniform brightness shift.
    */
  def dhash56Of(v: Array[Int]): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (v(r * 8 + c + 1) > v(r * 8 + c)) h |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** aHash bit rule over the grid's first 56 cells: bit j = 1 iff
    * 56·v[j] > Σ v[0..55] — the mean test cross-multiplied into exact
    * integers (no float mean).
    */
  def ahash56Of(v: Array[Int]): Long = {
    var total = 0L
    var j = 0
    while (j < 56) { total += v(j); j += 1 }
    var h = 0L
    j = 0
    while (j < 56) {
      if (56L * v(j) > total) h |= 1L << j
      j += 1
    }
    h
  }

  /** Column twin of [[dhash56Of]] — same bit rule as a static expansion
    * of 56 codegen'd comparisons over an `array<int>` column.
    */
  def dhash56(v: Column): Column =
    (0 until 8).flatMap(r => (0 until 7).map(c =>
      when(element_at(v, r * 8 + c + 2) > element_at(v, r * 8 + c + 1),
        lit(1L << (r * 7 + c))).otherwise(lit(0L))))
      .reduce(_ bitwiseOR _)

  /** Column twin of [[ahash56Of]]. */
  def ahash56(v: Column): Column = {
    val total = (0 until 56).map(j => element_at(v, j + 1).cast("long")).reduce(_ + _)
    (0 until 56).map(j =>
      when(element_at(v, j + 1).cast("long") * 56 > total, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
  }

  /** Deterministic 8×8 "pixel" grid from a TEXT payload — the metadata
    * path's stand-in for decoded pixels (the q45 stub discipline, made
    * structural): the text is tiled into 64 length-proportional chunks
    * (the analog of rescaling an image to the hash grid), each cell is
    * the first md5 byte of its chunk. Identical payloads ⇒ identical
    * grids; a payload sharing most of its content shares most cells.
    * Reproducible verbatim in DuckDB, which is what makes the q252
    * cascade oracle-checkable.
    */
  def textPixelGrid64(text: Column): Column = {
    val L = length(text)
    // static 64-element array, NOT a transform() lambda: higher-order
    // functions are CodegenFallback, and this grid is the corpus-sized
    // pass — the unrolled form keeps all 64 md5s inside whole-stage
    // codegen (the q234 generator-CSE lesson applied at build time)
    // chunk bounds in LONG arithmetic: j·length overflows 32-bit int
    // for texts past ~34M chars and would silently diverge from the
    // oracle's BIGINT (j*len)//64 (r9 ADVICE fix); the double quotient
    // stays exact to 2^53, far past any real document
    array((0 until 64).map { j =>
      // bounds themselves are ≤ length (int-safe) — only the product
      // needed the widening; substr takes int positions
      val start = floor((lit(j.toLong) * L.cast("long")).cast("double") / 64.0).cast("int")
      val end = floor((lit(j + 1L) * L.cast("long")).cast("double") / 64.0).cast("int")
      conv(substring(md5(text.substr(start + lit(1), end - start)), 1, 2), 16, 10).cast("int")
    }: _*)
  }

  /** Candidates-then-verify near-dup over perceptual hashes: band the
    * 56-bit dHash into 4×14-bit keys (hamming LSH — a pair within
    * hamming ≤ 3 ALWAYS shares a clean band by pigeonhole; planted
    * re-encodes sit at ≤ 1), equijoin on (band, key), verify
    * `bit_count(xor)` ≤ `maxHamming` on candidates only. One corpus
    * pass computes hashes; the band explode is ×4; nothing is
    * all-pairs. Input must carry (media_id, format, v:array<int>).
    */
  def phashNearDupPairs(media: DataFrame, maxHamming: Int): DataFrame = {
    // pin the hash table so the self-join's two sides don't recompute
    // the grid (the q98 idiom) — 4 small columns per media item, and
    // at production scale this frame IS the persisted hash ledger
    val hashed = media.select(
      col("media_id"), col("format"),
      dhash56(col("v")).as("dhash"), ahash56(col("v")).as("ahash"))
      // pinLineage so the reliable-checkpoint durability flag keeps
      // covering this query path too (r9 ADVICE fix)
      .pinLineage()
    val banded = hashed.select(
      col("media_id"), col("format"), col("dhash"), col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          shiftright(col("dhash"), 14 * b).bitwiseAND(lit(0x3FFFL)).as("key"))): _*)).as("bk"))
      .select(col("media_id"), col("format"), col("dhash"), col("ahash"),
        col("bk.b").as("b"), col("bk.key").as("key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.key") === col("b.key") &&
          col("a.media_id") < col("b.media_id"))
      .select(
        col("a.media_id").as("ma"), col("b.media_id").as("mb"),
        col("a.format").as("fa"), col("b.format").as("fb"),
        col("a.dhash").as("da"), col("b.dhash").as("db"),
        col("a.ahash").as("aa"), col("b.ahash").as("ab"))
      .distinct() // identical hashes collide in all four bands
    cand
      .select(
        col("ma"), col("mb"), col("fa"), col("fb"),
        bit_count(col("da").bitwiseXOR(col("db"))).cast("long").as("ham_d"),
        bit_count(col("aa").bitwiseXOR(col("ab"))).cast("long").as("ham_a"))
      .where(col("ham_d") <= maxHamming)
  }

  /** Decode-path perceptual hashes: one (media_id, format, dhash,
    * ahash) row per image payload, grids from REAL pixels — ImageIO
    * for png/jpeg/gif, the pure-JVM BMP parser for bmp (two decode
    * paths, one integer grid contract). Same mapPartitions shape as
    * [[decodeFeatures]]; non-image rows are skipped.
    */
  def perceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val fmt = r.format.toLowerCase
        val grid: Option[Array[Int]] =
          if (fmt == "bmp") Some(PureJvmMedia.grayGrid64Bmp(r.bytes, PureJvmMedia.parseBmp(r.bytes)))
          else if (PureJvmMedia.ImageIoFormats.contains(fmt))
            Some(PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(r.bytes)))
          else None
        grid.map(v => (r.media_id, r.format, dhash56Of(v), ahash56Of(v)))
      }
    }.toDF("media_id", "format", "dhash", "ahash")
  }
}
