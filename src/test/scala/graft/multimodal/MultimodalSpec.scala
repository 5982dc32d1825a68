package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec
import graft.multimodal.Multimodal._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(n: Int): Seq[MediaRecord] =
    (0 until n).map { i =>
      val kind = Seq("image", "audio", "video")(i % 3)
      MediaRecord(i.toLong, kind, if (kind == "image") "png" else "bin",
        width = 0, height = 0,
        bytes = Array.tabulate(64 + i)(j => ((i * 31 + j) % 256).toByte))
    }

  test("decodeFeatures: deterministic stub, stable schema, one row per media") {
    val ds = spark.createDataset(fixture(30)).repartition(4)
    val out = decodeFeatures(ds, () => MediaDecoder.deterministicStub(8))
    val rows = out.collect()
    assert(rows.length == 30)
    assert(rows.forall(r => r.embedding.length == 8))
    assert(rows.forall(r => r.decoded_width >= 16 && r.decoded_height >= 16))
    // determinism: same input → identical embeddings across runs
    val again = decodeFeatures(ds, () => MediaDecoder.deterministicStub(8)).collect()
    assert(rows.sortBy(_.media_id).map(_.embedding.toSeq).toSeq ==
      again.sortBy(_.media_id).map(_.embedding.toSeq).toSeq)
  }

  test("decoder is instantiated once per partition, not once per row") {
    val inits: LongAccumulator = spark.sparkContext.longAccumulator("decoder_inits")
    val ds = spark.createDataset(fixture(40)).repartition(4)
    decodeFeatures(ds, { () =>
      inits.add(1)
      MediaDecoder.deterministicStub(4)
    }).collect()
    assert(inits.value == 4, s"expected 4 decoder inits (one per partition), got ${inits.value}")
  }

  test("sampleFrames: only video rows fan out, stride respected") {
    val ds = spark.createDataset(fixture(30))
    val frames = sampleFrames(ds, everyN = 4, () => MediaDecoder.deterministicStub(4))
    val byKind = frames.join(ds.toDF().select(col("media_id"), col("kind")), "media_id")
      .groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(byKind.keySet == Set("video"))
    // stride: frame indices are multiples of 4
    assert(frames.select("frame_idx").as[Int].collect().forall(_ % 4 == 0))
  }

  test("byByteBudget partitions by payload volume") {
    val ds = spark.createDataset(fixture(60)).toDF()
    val repart = byByteBudget(ds, bytesPerPartition = 1000)
    assert(repart.rdd.getNumPartitions > 1)
    val stats = mediaStats(ds)
    assert(stats.count() == 3) // image/png, audio/bin, video/bin
  }

  test("resizeImages bounds image dims, passes non-images through, deterministic") {
    val ds = spark.createDataset(fixture(30))
    val resized = resizeImages(ds, maxDim = 64, () => MediaDecoder.deterministicStub(4))
    val rows = resized.collect()
    assert(rows.length == 30)
    val images = rows.filter(_.kind == "image")
    assert(images.nonEmpty && images.forall(r => math.max(r.width, r.height) <= 64))
    // non-image rows untouched (width still the source-declared 0)
    assert(rows.filter(_.kind != "image").forall(r => r.width == 0))
    val again = resizeImages(ds, 64, () => MediaDecoder.deterministicStub(4)).collect()
    assert(rows.map(r => (r.media_id, r.width, r.height, r.bytes.length)).toSeq ==
      again.map(r => (r.media_id, r.width, r.height, r.bytes.length)).toSeq)
  }

  test("real decoder parses a synthesized 16-bit PCM WAV: rate/channels/frames/duration") {
    import MultimodalSpec.buildWav
    // 1 second, 8kHz mono sine-ish ramp
    val wav = buildWav(sampleRate = 8000, channels = 1,
      samples = Array.tabulate(8000)(i => (math.sin(i * 0.05) * 20000).toShort))
    val dec = MediaDecoder.real(8)
    val (rate, ch, frames, emb) = dec.decode("audio", "wav", wav)
    assert((rate, ch, frames) == (8000, 1, 8000))
    assert(dec.durationMs("audio", "wav", wav) == 1000)
    assert(emb.length == 8)
    // identical content => identical embedding; different content differs
    val again = dec.decode("audio", "wav", wav)._4
    assert(emb.toSeq == again.toSeq)
    val other = buildWav(8000, 1, Array.tabulate(8000)(i => (math.cos(i * 0.11) * 15000).toShort))
    assert(dec.decode("audio", "wav", other)._4.toSeq != emb.toSeq)
  }

  test("real decoder parses BMP; bottom-up and top-down rows embed identically") {
    import MultimodalSpec.buildBmp
    def gray(x: Int, y: Int): Int = if (y < 4) 32 else 224 // dark top, bright bottom
    val up = buildBmp(5, 8, topDown = false, gray)
    val down = buildBmp(5, 8, topDown = true, gray)
    val dec = MediaDecoder.real(4)
    val (w, h, frames, embUp) = dec.decode("image", "bmp", up)
    assert((w, h, frames) == (5, 8, 1))
    // content-defined embedding: row direction is container detail only
    assert(embUp.toSeq == dec.decode("image", "bmp", down)._4.toSeq)
    // top-down order: first band dark (< 0.2), last bright (> 0.8)
    assert(embUp.head < 0.2f && embUp.last > 0.8f, embUp.toSeq.toString)
  }

  test("real decoder fails loudly on codec-needing formats and corrupt payloads") {
    val dec = MediaDecoder.real()
    intercept[UnsupportedOperationException](dec.decode("image", "webp", Array[Byte](1, 2, 3)))
    intercept[UnsupportedOperationException](dec.decode("audio", "mp3", Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](dec.decode("audio", "wav", Array[Byte](1, 2, 3)))
    // ImageIO formats decode for real now — garbage bytes fail loudly,
    // not silently (ImageIO.read returns null; the decoder must throw)
    intercept[IllegalArgumentException](dec.decode("image", "png", Array[Byte](1, 2, 3)))
  }

  /** Encode pixels via the JRE's own writers — real compressed fixtures. */
  private def encodeImage(fmt: String, width: Int, height: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until height; x <- 0 until width) {
      val g = gray(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JRE writer for $fmt")
    out.toByteArray
  }

  test("real decoder decodes PNG; lossless re-encode embeds IDENTICALLY to the BMP") {
    import MultimodalSpec.buildBmp
    def gray(x: Int, y: Int): Int = (x * 29 + y * 57) % 256
    val png = encodeImage("png", 6, 8, gray)
    val bmp = buildBmp(6, 8, topDown = false, gray)
    val dec = MediaDecoder.real(4)
    val (pw, ph, pf, pEmb) = dec.decode("image", "png", png)
    assert((pw, ph, pf) == (6, 8, 1))
    // same pixels, different container ⇒ bit-identical embedding — the
    // property that lets the near-dup cascade link re-encodes
    assert(pEmb.toSeq == dec.decode("image", "bmp", bmp)._4.toSeq)
  }

  test("perceptual hashes: PNG↔BMP re-encode is hash-identical through DIFFERENT decode paths") {
    import MultimodalSpec.buildBmp
    def gray(x: Int, y: Int): Int = (x * 37 + y * 91 + (x * y) % 13 * 17) % 256
    val png = encodeImage("png", 24, 24, gray)
    val bmp = buildBmp(24, 24, topDown = false, gray)
    // PNG through ImageIO, BMP through the pure-JVM parser — the grids
    // and therefore both hashes must be bit-identical (integer pooling)
    val gPng = PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(png))
    val gBmp = PureJvmMedia.grayGrid64Bmp(bmp, PureJvmMedia.parseBmp(bmp))
    assert(gPng.toSeq == gBmp.toSeq, "integer gray grids must match across containers")
    assert(dhash56Of(gPng) == dhash56Of(gBmp))
    assert(ahash56Of(gPng) == ahash56Of(gBmp))
    // an unrelated image is far in hamming (random ≈ 28 of 56 bits)
    val other = encodeImage("png", 24, 24, (x, y) => (255 - x * 53 - y * 31) % 256 & 0xff)
    val gOther = PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(other))
    assert(java.lang.Long.bitCount(dhash56Of(gPng) ^ dhash56Of(gOther)) > 12)
    // dHash is invariant to a uniform brightness shift (gradients only)
    val brighter = encodeImage("png", 24, 24, (x, y) => math.min(255, gray(x, y) / 2 + 20))
    val gBase = PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(
      encodeImage("png", 24, 24, (x, y) => gray(x, y) / 2)))
    val gBright = PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(brighter))
    assert(dhash56Of(gBase) == dhash56Of(gBright),
      "uniform brightness shift must not move the gradient hash")
  }

  test("perceptualHashes dataset path + phashNearDupPairs recover a planted re-encoded pair") {
    import MultimodalSpec.buildBmp
    def gray(x: Int, y: Int): Int = (x * 41 + y * 73) % 256
    def gray2(x: Int, y: Int): Int = (x * 7 + y * 201 + 31) % 256
    val media = Seq(
      MediaRecord(1L, "image", "png", 24, 24, encodeImage("png", 24, 24, gray)),
      MediaRecord(2L, "image", "bmp", 24, 24, buildBmp(24, 24, topDown = false, gray)), // re-encode of 1
      MediaRecord(3L, "image", "png", 24, 24, encodeImage("png", 24, 24, gray2)), // unrelated
      MediaRecord(4L, "audio", "wav", 0, 0, Array[Byte](1, 2, 3)), // skipped: not an image
    )
    val hashed = perceptualHashes(spark.createDataset(media))
    assert(hashed.count() == 3) // the wav row is skipped
    // run the SAME candidates-then-verify cascade the q252 query uses,
    // feeding decoded grids through a v column rebuilt from the hashes'
    // source grids — here directly via a grid frame
    import org.apache.spark.sql.functions._
    val grids = media.filter(_.kind == "image").map { r =>
      val g =
        if (r.format == "bmp") PureJvmMedia.grayGrid64Bmp(r.bytes, PureJvmMedia.parseBmp(r.bytes))
        else PureJvmMedia.grayGrid64(PureJvmMedia.decodeImage(r.bytes))
      (r.media_id, r.format, g.toSeq)
    }
    val df = spark.createDataFrame(grids).toDF("media_id", "format", "v")
    val pairs = phashNearDupPairs(df, maxHamming = 12)
      .select("ma", "mb", "ham_d").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)), s"must recover exactly the planted re-encode: $pairs")
  }

  test("real decoder decodes JPEG: correct dims, embedding near the lossless reference") {
    def gray(x: Int, y: Int): Int = if (y < 8) 40 else 210
    val jpg = encodeImage("jpeg", 16, 16, gray)
    val png = encodeImage("png", 16, 16, gray)
    val dec = MediaDecoder.real(4)
    val (w, h, _, jEmb) = dec.decode("image", "jpeg", jpg)
    assert((w, h) == (16, 16))
    val pEmb = dec.decode("image", "png", png)._4
    jEmb.zip(pEmb).foreach { case (j, p) =>
      assert(math.abs(j - p) < 0.05f, s"lossy drift too large: ${jEmb.toSeq} vs ${pEmb.toSeq}")
    }
  }

  test("resizeImages REALLY transcodes ImageIO formats: bounded dims, decodable output") {
    def gray(x: Int, y: Int): Int = (x + y) % 256
    val png = encodeImage("png", 64, 32, gray)
    val ds = spark.createDataset(Seq(
      MediaRecord(1L, "image", "png", 0, 0, png),
      MediaRecord(2L, "audio", "wav", 0, 0, Array[Byte](1, 2, 3)), // passthrough untouched
    ))
    val out = resizeImages(ds, maxDim = 16, () => MediaDecoder.real())
      .collect().map(r => r.media_id -> r).toMap
    assert((out(1L).width, out(1L).height) == (16, 8))
    // the resized payload is a REAL png of the new dims, not truncated bytes
    val back = PureJvmMedia.decodeImage(out(1L).bytes)
    assert((back.getWidth, back.getHeight) == (16, 8))
    assert(out(2L).bytes.toSeq == Seq[Byte](1, 2, 3), "non-image rows pass through")
    // already-small images keep their exact payload
    val small = resizeImages(
      spark.createDataset(Seq(MediaRecord(3L, "image", "png", 0, 0, png))),
      maxDim = 64, () => MediaDecoder.real()).collect().head
    assert(small.bytes.toSeq == png.toSeq)
  }

  test("chunkAudio with the real decoder cuts frame-aligned standalone WAV chunks") {
    import MultimodalSpec.buildWav
    val wav = buildWav(sampleRate = 1000, channels = 2,
      samples = Array.tabulate(1000)(i => (i * 13 % 5000).toShort)) // 1000ms stereo
    val ds = spark.createDataset(Seq(MediaRecord(7L, "audio", "wav", 0, 0, wav)))
    val chunks = chunkAudio(ds, chunkMs = 300, hopMs = 200, () => MediaDecoder.real())
      .collect().sortBy(_.getAs[Int]("chunk_idx"))
    assert(chunks.length == 5) // starts 0,200,400,600,800
    chunks.foreach { c =>
      val start = c.getAs[Int]("start_ms")
      val dur = c.getAs[Int]("dur_ms")
      assert(dur == math.min(start + 300, 1000) - start)
      // each chunk re-containerizes as a VALID standalone wav with
      // exactly dur worth of frames at the source rate and channels
      val info = PureJvmMedia.parseWav(c.getAs[Array[Byte]]("chunk_bytes"))
      assert(info.sampleRate == 1000 && info.channels == 2)
      assert(info.frames == dur) // 1000 Hz → 1 frame per ms
    }
  }

  test("mediaNearDupPairs finds planted copies over REAL wav/bmp bytes") {
    import MultimodalSpec.{buildBmp, buildWav}
    val rnd = new scala.util.Random(7)
    val media = (0 until 10).map { i =>
      if (i % 2 == 0)
        MediaRecord(i.toLong, "audio", "wav", 0, 0,
          buildWav(4000, 1, Array.tabulate(2000)(_ => (rnd.nextInt(40000) - 20000).toShort)))
      else
        MediaRecord(i.toLong, "image", "bmp", 0, 0,
          buildBmp(6, 6, topDown = false, (_, _) => rnd.nextInt(256)))
    }
    val withDups = media ++ Seq(media(2).copy(media_id = 50L), media(3).copy(media_id = 51L))
    val pairs = mediaNearDupPairs(
      spark.createDataset(withDups).repartition(3), 0.999, () => MediaDecoder.real(8))
      .collect()
    val found = pairs.map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(found == Set((2L, 50L), (3L, 51L)), s"expected only planted dups, got $found")
  }

  test("mediaNearDupPairs: silent clips pair with nothing") {
    import MultimodalSpec.buildWav
    val rnd = new scala.util.Random(11)
    val silent = buildWav(4000, 1, Array.fill(2000)(0.toShort))
    val tone = buildWav(4000, 1, Array.tabulate(2000)(_ => (rnd.nextInt(40000) - 20000).toShort))
    val media = Seq(
      MediaRecord(1L, "audio", "wav", 0, 0, silent),
      MediaRecord(2L, "audio", "wav", 0, 0, silent.clone()),
      MediaRecord(3L, "audio", "wav", 0, 0, tone),
      MediaRecord(4L, "audio", "wav", 0, 0, tone.clone()))
    val found = mediaNearDupPairs(spark.createDataset(media).repartition(2), 0.999, () => MediaDecoder.real(8))
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(found == Set((3L, 4L)), s"a zero embedding has no cosine, got $found")
  }

  test("mediaNearDupPairs: a decoder whose embeddings are scaled by 10⁴ finds the same planted pairs") {
    import MultimodalSpec.{buildBmp, buildWav, scaled}
    val rnd = new scala.util.Random(7)
    val media = (0 until 10).map { i =>
      if (i % 2 == 0)
        MediaRecord(i.toLong, "audio", "wav", 0, 0,
          buildWav(4000, 1, Array.tabulate(2000)(_ => (rnd.nextInt(40000) - 20000).toShort)))
      else
        MediaRecord(i.toLong, "image", "bmp", 0, 0,
          buildBmp(6, 6, topDown = false, (_, _) => rnd.nextInt(256)))
    }
    val ds = spark.createDataset(media ++ Seq(media(2).copy(media_id = 50L), media(3).copy(media_id = 51L)))
    def found(mk: () => MediaDecoder) = mediaNearDupPairs(ds.repartition(3), 0.999, mk)
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    val plain = found(() => MediaDecoder.real(8))
    assert(plain == Set((2L, 50L), (3L, 51L)))
    assert(found(() => scaled(MediaDecoder.real(8), 1e4f)) == plain,
      "cosine is scale-invariant, so the decoder's output scale must not move a pair")
  }

  test("chunkAudio: hop-overlapping chunks cover the full duration, audio rows only") {
    val ds = spark.createDataset(fixture(30)).repartition(3)
    val chunks = chunkAudio(ds, chunkMs = 40, hopMs = 20, () => MediaDecoder.deterministicStub(4))
      .collect()
    val audio = fixture(30).filter(_.kind == "audio")
    assert(chunks.map(_.getAs[Long]("media_id")).toSet ==
      audio.map(_.media_id).toSet, "only audio rows chunk")
    audio.foreach { a =>
      val mine = chunks.filter(_.getAs[Long]("media_id") == a.media_id)
        .sortBy(_.getAs[Int]("chunk_idx"))
      val durMs = a.bytes.length // stub duration model
      assert(mine.length == math.ceil(durMs.toDouble / 20).toInt, s"chunk count for $durMs ms")
      // full coverage: chunk starts advance by hop; last chunk reaches the end
      mine.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("start_ms") == i * 20)
        assert(c.getAs[Int]("dur_ms") ==
          math.min(c.getAs[Int]("start_ms") + 40, durMs) - c.getAs[Int]("start_ms"))
        assert(c.getAs[Array[Byte]]("chunk_bytes").length == c.getAs[Int]("dur_ms"))
      }
      assert(mine.last.getAs[Int]("start_ms") + mine.last.getAs[Int]("dur_ms") == durMs)
    }
    // empty/corrupt payload → zero chunks, not one phantom 0-ms chunk
    val empty = spark.createDataset(Seq(
      MediaRecord(99L, "audio", "bin", 0, 0, Array.empty[Byte])))
    assert(chunkAudio(empty, 40, 20, () => MediaDecoder.deterministicStub(4)).count() == 0)
    // consecutive 40/20 chunks overlap by 20ms — the framing property
    val full = chunks.filter(c => c.getAs[Int]("dur_ms") == 40)
      .groupBy(_.getAs[Long]("media_id"))
    full.foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getAs[Int]("start_ms"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Int]("start_ms") - a.getAs[Int]("start_ms") == 20)
        case _ => ()
      }
    }
  }

  test("sceneSplit: cuts exactly at signature jumps, scenes tile the frame range") {
    import MultimodalSpec.fixedFrames
    // 8 frames × 10 bytes: frames 0-2 dark (0x10), 3-5 bright (0xf0),
    // 6-7 dark again → three scenes [0,2][3,5][6,7]
    val bytes = Array.tabulate(80) { j =>
      val f = j / 10
      (if (f >= 3 && f <= 5) 0xf0 else 0x10).toByte
    }
    val vids = Seq(
      MediaRecord(1L, "video", "mp4", 0, 0, bytes),
      MediaRecord(2L, "video", "mp4", 0, 0, Array.fill(80)(0x40.toByte)), // flat: 1 scene
      MediaRecord(3L, "image", "png", 0, 0, bytes), // non-video: ignored
    )
    val out = sceneSplit(spark.createDataset(vids).repartition(2), 0.5, () => fixedFrames(8))
      .collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("scene_id"),
        r.getAs[Long]("start_frame"), r.getAs[Long]("end_frame"), r.getAs[Long]("n_frames")))
    assert(out.filter(_._1 == 1L).toSeq ==
      Seq((1L, 0L, 0L, 2L, 3L), (1L, 1L, 3L, 5L, 3L), (1L, 2L, 6L, 7L, 2L)),
      s"scene structure: ${out.toSeq}")
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 0L, 7L, 8L)), "flat video = one scene")
    assert(!out.exists(_._1 == 3L), "non-video rows must not reach scene analysis")
  }

  test("frameSignatures: one row per frame, signatures in [0,1], deterministic") {
    val vids = fixture(12).filter(_.kind == "video")
    val ds = spark.createDataset(vids).repartition(3)
    val sigs = frameSignatures(ds, () => MediaDecoder.deterministicStub(8)).collect()
    assert(sigs.nonEmpty)
    assert(sigs.forall { r =>
      val s = r.getAs[Double]("sig"); s >= 0.0 && s <= 1.0
    })
    val again = frameSignatures(ds, () => MediaDecoder.deterministicStub(8)).collect()
    assert(sigs.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq ==
      again.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq)
  }

  test("mediaNearDupPairs: exact payload copies are found, all pairs verified above threshold") {
    // two byte-identical pairs planted among distinct payloads
    val base = fixture(24)
    val dup1 = base(1).copy(media_id = 100L) // audio copy
    val dup2 = base(3).copy(media_id = 101L) // image copy
    val ds = spark.createDataset(base ++ Seq(dup1, dup2)).repartition(3)
    val pairs = mediaNearDupPairs(ds, threshold = 0.999,
      () => MediaDecoder.deterministicStub(8)).collect()
    val found = pairs.map(r =>
      (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    // exactly the planted pairs: finds both copies, AND no false positive
    // among the 24 distinct payloads (a broken banding key matching
    // everything would fail here; cos >= threshold alone is tautological)
    assert(found == Set((1L, 100L), (3L, 101L)), s"expected only planted dups, got $found")
    assert(pairs.forall(_.getAs[Double]("cos") >= 0.999))
  }

  test("metadata-only queries prune the binary column from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("media").toString
    spark.createDataset(fixture(30)).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).groupBy("kind").count()
    val scanSchema = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanSchema.contains("kind"))
    assert(!scanSchema.contains("bytes"), "binary column must not be read for metadata-only query")
  }
}

/** Serializable test decoders (defined outside the suite so closures
  * don't capture the non-serializable ScalaTest engine).
  */
object MultimodalSpec {

  /** Decoder reporting a fixed frame count — lets tests control the
    * frame→byte-slice mapping and therefore the scene structure.
    */
  def fixedFrames(n: Int): Multimodal.MediaDecoder = new Multimodal.MediaDecoder {
    def decode(kind: String, format: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) =
      (16, 16, n, Array.fill(8)(0f))
  }

  /** `inner` with every embedding component multiplied by `k`. */
  def scaled(inner: Multimodal.MediaDecoder, k: Float): Multimodal.MediaDecoder = new Multimodal.MediaDecoder {
    def decode(kind: String, format: String, bytes: Array[Byte]): (Int, Int, Int, Array[Float]) = {
      val (w, h, frames, emb) = inner.decode(kind, format, bytes)
      (w, h, frames, emb.map(_ * k))
    }
  }

  /** Minimal canonical 16-bit PCM WAV: 44-byte header + interleaved
    * samples (every channel carries the same sample value).
    */
  def buildWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val blockAlign = channels * 2
    val dataLen = samples.length * blockAlign
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    ascii("RIFF"); w32(36 + dataLen); ascii("WAVE")
    ascii("fmt "); w32(16); w16(1); w16(channels); w32(sampleRate)
    w32(sampleRate * blockAlign); w16(blockAlign); w16(16)
    ascii("data"); w32(dataLen)
    samples.foreach(s => (0 until channels).foreach(_ => w16(s & 0xffff)))
    out.toByteArray
  }

  /** Minimal 24-bpp BI_RGB BMP; `gray(x, y)` in TOP-DOWN coordinates
    * regardless of `topDown` (the container's row direction flips, the
    * content does not).
    */
  def buildBmp(width: Int, height: Int, topDown: Boolean, gray: (Int, Int) => Int): Array[Byte] = {
    val stride = ((width * 24 + 31) / 32) * 4
    val dataLen = stride * height
    val out = new java.io.ByteArrayOutputStream(54 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    out.write('B'); out.write('M'); w32(54 + dataLen); w32(0); w32(54)
    w32(40); w32(width); w32(if (topDown) -height else height)
    w16(1); w16(24); w32(0); w32(dataLen); w32(2835); w32(2835); w32(0); w32(0)
    val rows = if (topDown) 0 until height else (height - 1) to 0 by -1
    rows.foreach { y =>
      var written = 0
      (0 until width).foreach { x =>
        val g = gray(x, y) & 0xff
        out.write(g); out.write(g); out.write(g) // B, G, R
        written += 3
      }
      while (written < stride) { out.write(0); written += 1 }
    }
    out.toByteArray
  }
}
