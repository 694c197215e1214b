package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.functions.Multimodal
import graft.functions.Multimodal.{MediaAsset, MediaMeta}

/** The REAL image codec path: javax.imageio decode → luminance features,
  * and decode → bilinear resize → PNG re-encode. Fake payloads fall back
  * to the stub (MultimodalSpec covers that path). */
class MultimodalCodecSpec extends SparkSpec {
  import spark.implicits._

  /** Encode a solid-RGB w×h PNG. */
  private def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Horizontal black→white gradient PNG. */
  private def gradientPng(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 255) / math.max(w - 1, 1)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Encode a 16-bit mono PCM WAV from [-1,1] samples via javax.sound —
    * the same SPI family the decoder under test uses, but the assertions
    * below check CONTENT (RMS values, durations), not round-tripping. */
  private def pcmWav(samples: Array[Double], sampleRate: Float): Array[Byte] = {
    import javax.sound.sampled._
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-1.0, math.min(1.0, s))
      val sh = math.round(v * 32767).toInt
      bytes(2 * i) = (sh & 0xFF).toByte
      bytes(2 * i + 1) = ((sh >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      sampleRate, 16, 1, 2, sampleRate, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Hand-write an uncompressed 24-bpp DIB AVI (RIFF layout): one vids
    * stream, `frames(k)` giving frame k's constant gray value 0..255.
    * Width 5 exercises the 4-byte DIB row padding (15 → 16 bytes). */
  private def rawAvi(w: Int, h: Int, usPerFrame: Long,
                     grays: Seq[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    def le32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
    }
    def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val frameSize = rowBytes * h
    val patches = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    def chunk(id: String)(body: => Unit): Unit = {
      cc(id)
      val sizeAt = bos.size(); le32(0) // placeholder
      body
      val end = bos.size(); val size = end - sizeAt - 4
      if (size % 2 == 1) bos.write(0) // even padding
      patches += ((sizeAt, size))
    }
    chunk("RIFF") {
      cc("AVI ")
      chunk("LIST") {
        cc("hdrl")
        chunk("avih") {
          le32(usPerFrame); le32(0); le32(0); le32(0)
          le32(grays.length); le32(0); le32(1); le32(0)
          le32(w); le32(h); le32(0); le32(0); le32(0); le32(0)
        }
        chunk("LIST") {
          cc("strl")
          chunk("strh") {
            cc("vids"); cc("DIB "); le32(0); le32(0); le32(0)
            le32(usPerFrame); le32(1000000L); le32(0); le32(grays.length)
            le32(frameSize); le32(0); le32(0); le32(0); le32(0)
          }
          chunk("strf") { // BITMAPINFOHEADER
            le32(40); le32(w); le32(h); le32((24 << 16) | 1) // planes=1, bpp=24
            le32(0) /* BI_RGB */; le32(frameSize)
            le32(0); le32(0); le32(0); le32(0)
          }
        }
      }
      chunk("LIST") {
        cc("movi")
        grays.foreach { g =>
          chunk("00db") {
            (0 until h).foreach { _ =>
              (0 until w).foreach { _ => bos.write(g); bos.write(g); bos.write(g) }
              (w * 3 until rowBytes).foreach(_ => bos.write(0))
            }
          }
        }
      }
    }
    val out = bos.toByteArray
    patches.foreach { case (at, v) =>
      out(at) = (v & 0xFF).toByte; out(at + 1) = ((v >> 8) & 0xFF).toByte
      out(at + 2) = ((v >> 16) & 0xFF).toByte; out(at + 3) = ((v >> 24) & 0xFF).toByte
    }
    out
  }

  test("parseAvi/decodeVideo read a real uncompressed-DIB AVI") {
    // 4 frames of 5×4 at 25 fps; grays 0, 60, 120, 240
    val grays = Seq(0, 60, 120, 240)
    val avi = rawAvi(5, 4, 40000L, grays)
    val vid = Multimodal.decodeVideo(avi).get
    assert(vid.width == 5 && vid.height == 4)
    assert(vid.nFrames == 4 && vid.durationMs == 160L)
    // frames land in envelope bins 0, 4, 8, 12 (i·16/4); a constant-gray
    // frame's mean Rec.601 luma is its gray value (299+587+114 = 1000).
    val expected = grays.map(_ / 255f)
    Seq(0, 4, 8, 12).zip(expected).foreach { case (bin, e) =>
      assert(math.abs(vid.lumaEnvelope(bin) - e) < 2e-3, s"bin $bin")
    }
    Seq(1, 2, 3, 5, 6, 7, 9, 10, 11, 13, 14, 15).foreach(b =>
      assert(vid.lumaEnvelope(b) == 0f, s"empty bin $b"))
  }

  test("sampleFrames pulls REAL frames and re-encodes them as PNG") {
    val grays = Seq(10, 80, 150, 220)
    val avi = rawAvi(5, 4, 40000L, grays)
    val assets = Seq(MediaAsset(7L, "video", avi,
      MediaMeta(None, None, None, None))).toDS()
    val rows = Multimodal.sampleFrames(assets, everyMs = 40L)
      .orderBy("ts_ms").collect()
    assert(rows.length == 4) // 160 ms / 40 ms
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(2) == i * 40L)
      assert(r.getInt(1) == i, "frame index tracks stream time")
      val png = r.getAs[Array[Byte]]("frame_payload")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 5 && img.getHeight == 4)
      val g = grays(i)
      assert((img.getRGB(2, 1) & 0xFF) == g, s"frame $i pixel gray")
    }
    // everyMs = 80 → every second frame
    val sparse = Multimodal.sampleFrames(assets, everyMs = 80L)
      .orderBy("ts_ms").collect()
    assert(sparse.map(_.getInt(1)).toSeq == Seq(0, 2))
  }

  test("videoFrameFeatures: per-frame luminance histograms match the frame grays") {
    val grays = Seq(10, 80, 150, 220)
    val assets = Seq(MediaAsset(9L, "video", rawAvi(5, 4, 40000L, grays),
      MediaMeta(None, None, None, None))).toDS()
    val rows = Multimodal.videoFrameFeatures(assets, everyMs = 40L)
      .orderBy("ts_ms").collect()
    assert(rows.length == 4)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(3) == 5 && r.getInt(4) == 4)
      val hist = r.getAs[scala.collection.Seq[Float]]("luma_hist")
      // a constant-gray frame has ALL pixels in bin gray/16
      assert(hist(grays(i) >> 4) == 1.0f, s"frame $i histogram")
      assert(math.abs(hist.sum - 1.0f) < 1e-5)
    }
    // non-demuxable payload contributes no frame rows
    val junk = Seq(MediaAsset(10L, "video", Array.fill[Byte](64)(3),
      MediaMeta(None, None, Some(1000L), None))).toDS()
    assert(Multimodal.videoFrameFeatures(junk, 40L).count() == 0L)
  }

  test("extractFeatures routes video through the real demux; compressed AVIs fall back") {
    val avi = rawAvi(5, 4, 40000L, Seq(100, 100))
    val real = Multimodal.extractFeatures(Seq(MediaAsset(1L, "video", avi,
      MediaMeta(None, None, None, None))).toDS()).collect()(0)
    assert(real.decoded_width.contains(5) && real.decoded_height.contains(4))
    assert(real.decoded_duration_ms.contains(80L))
    assert(math.abs(real.feature(0) - 100 / 255f) < 2e-3)
    // Flip biCompression to a non-zero codec tag: demux must refuse and
    // the stub path must take over (decoded fields empty).
    val compressed = avi.clone()
    val strfData = indexOfSlice(compressed, "strf".getBytes("US-ASCII")) + 8
    compressed(strfData + 16) = 1 // biCompression = BI_RLE8
    assert(Multimodal.decodeVideo(compressed).isEmpty)
    val fallback = Multimodal.extractFeatures(Seq(MediaAsset(2L, "video",
      compressed, MediaMeta(None, None, None, None))).toDS()).collect()(0)
    assert(fallback.decoded_width.isEmpty && fallback.decoded_duration_ms.isEmpty)
  }

  test("media feature envelopes flow into the embedding near-dup operator") {
    // Multimodal near-dup: the 16-dim feature envelopes from
    // extractFeatures are just embeddings — the EXISTING
    // embeddingNearDupPairs operator blocks and verifies them with no
    // media-specific code. Two re-encodes of the same clip (identical
    // envelope) must pair at cos ≥ 0.999; a reversed clip must not.
    val same = Seq(10, 80, 150, 220)
    val assets = Seq(
      Multimodal.MediaAsset(1L, "video", rawAvi(5, 4, 40000L, same),
        MediaMeta(None, None, None, None)),
      Multimodal.MediaAsset(2L, "video", rawAvi(5, 4, 40000L, same),
        MediaMeta(None, None, None, None)),
      Multimodal.MediaAsset(3L, "video", rawAvi(5, 4, 40000L, same.reverse),
        MediaMeta(None, None, None, None))).toDS()
    val vecs = Multimodal.extractFeatures(assets)
      .select(org.apache.spark.sql.functions.col("asset_id"),
        org.apache.spark.sql.functions.col("feature"))
      .toDF("vec_id", "embedding")
    val pairs = graft.functions.Similarity
      .embeddingNearDupPairs(vecs, "vec_id", "embedding", dim = 16,
        threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"identical clips pair, reversed clip does not: $pairs")
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int =
    hay.indices.find(i => i + needle.length <= hay.length &&
      needle.indices.forall(j => hay(i + j) == needle(j))).get

  test("decodeAudio reads real WAV params and temporal RMS envelope") {
    // 0.5 s of a 0.5-amplitude 440 Hz sine at 8 kHz mono
    val rate = 8000f
    val sine = Array.tabulate(4000)(i =>
      0.5 * math.sin(2 * math.Pi * 440 * i / rate))
    val d = Multimodal.decodeAudio(pcmWav(sine, rate))
    assert(d.exists(a => a.sampleRate == 8000 && a.channels == 1 &&
      a.durationMs == 500L))
    // every bin holds the sine's RMS: amplitude/√2 ≈ 0.3536
    d.get.energyEnvelope.foreach(e => assert(math.abs(e - 0.3536f) < 0.01f))

    // silence-then-tone: the envelope localizes energy in TIME
    val half = Array.tabulate(4000)(i =>
      if (i < 2000) 0.0 else 0.8 * math.sin(2 * math.Pi * 200 * i / rate))
    val env = Multimodal.decodeAudio(pcmWav(half, rate)).get.energyEnvelope
    assert(env.take(8).forall(_ < 0.01f))
    assert(env.drop(8).forall(e => math.abs(e - 0.8f / math.sqrt(2).toFloat) < 0.02f))

    // garbage and empty: None, no throw (mp3/ogg would land here too)
    assert(Multimodal.decodeAudio(Array.tabulate(64)(_.toByte)).isEmpty)
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
  }

  test("extractFeatures routes audio through the real javax.sound decode") {
    val rate = 8000f
    val tone = Array.tabulate(8000)(i =>
      0.25 * math.sin(2 * math.Pi * 330 * i / rate))
    val assets = Seq(
      MediaAsset(1L, "audio", pcmWav(tone, rate),
        MediaMeta(None, None, None, Some("wav"))),
      MediaAsset(2L, "audio", Array.tabulate(32)(_.toByte), // not decodable
        MediaMeta(None, None, Some(100L), Some("fakewav")))).toDS()
    val rows = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    assert(rows(0).sample_rate.contains(8000))
    assert(rows(0).decoded_duration_ms.contains(1000L))
    assert(rows(0).feature.forall(e => math.abs(e - 0.25f / math.sqrt(2).toFloat) < 0.01f))
    // stub fallback carries no decoded audio params
    assert(rows(1).sample_rate.isEmpty && rows(1).decoded_duration_ms.isEmpty)
  }

  test("binaryFile ingest routes by extension and decodes real pixels") {
    val dir = TempDirs.create("graft-media")
    java.nio.file.Files.write(dir.resolve("a.png"), solidPng(8, 6, 0xFFFFFF))
    java.nio.file.Files.write(dir.resolve("b.PNG"), gradientPng(16, 8))
    java.nio.file.Files.write(dir.resolve("c.wav"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("junk.bin"), Array[Byte](9, 9))

    val assets = Multimodal.ingestBinaryFiles(spark, dir.toString)
    val byType = assets.collect().groupBy(_.media_type)
    assert(byType("image").length === 2)   // extension match is case-folded
    assert(byType("audio").length === 1)
    assert(byType("binary").length === 1)
    // deterministic ids: re-ingest yields the same asset_ids
    val again = Multimodal.ingestBinaryFiles(spark, dir.toString)
    assert(assets.collect().map(_.asset_id).sorted.toSeq ===
      again.collect().map(_.asset_id).sorted.toSeq)

    // the ingested payloads are the REAL file bytes: features decode dims
    val feats = Multimodal.extractFeatures(assets).collect()
      .filter(_.media_type == "image").sortBy(_.decoded_width)
    assert(feats.map(f => (f.decoded_width, f.decoded_height)).toSeq ===
      Seq((Some(8), Some(6)), (Some(16), Some(8))))

    // glob pushdown: listing-level prune to png only
    val pngOnly = Multimodal.ingestBinaryFiles(spark, dir.toString,
      globFilter = Some("*.{png,PNG}"))
    assert(pngOnly.count() === 2)
  }

  test("streaming media ingest lands waves of files exactly once") {
    val base = TempDirs.create("graft-mstream")
    val inbox = java.nio.file.Files.createDirectory(base.resolve("inbox"))
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString

    java.nio.file.Files.write(inbox.resolve("a.png"), solidPng(8, 6, 0xFFFFFF))
    java.nio.file.Files.write(inbox.resolve("b.wav"),
      pcmWav(Array.tabulate(800)(i => 0.5 * math.sin(0.3 * i)), 8000f))

    val q = Multimodal.startMediaIngestStream(spark, inbox.toString, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val wave1 = spark.read.parquet(out).as[MediaAsset]
    assert(wave1.count() === 2)
    assert(wave1.collect().map(_.media_type).sorted.toSeq === Seq("audio", "image"))

    // second wave through a RESTARTED query on the same checkpoint: the
    // already-processed files must not re-ingest, the new one must land
    java.nio.file.Files.write(inbox.resolve("c.bin"), Array[Byte](1, 2, 3))
    val q2 = Multimodal.startMediaIngestStream(spark, inbox.toString, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(out).as[MediaAsset].collect()
    assert(all.length === 3)
    assert(all.map(_.asset_id).distinct.length === 3, "a file ingested twice")

    // the landed payloads are the real bytes: image decodes to its dims
    val feats = Multimodal.extractFeatures(spark.read.parquet(out).as[MediaAsset])
      .collect().sortBy(_.asset_id)
    assert(feats.count(f => f.decoded_width.contains(8)) === 1)
    assert(feats.count(f => f.sample_rate.contains(8000)) === 1)
  }

  test("decodeImage reads real PNG dimensions and luminance histogram") {
    // pure white 8×6: luma 255 → all pixels in bin 15
    val white = Multimodal.decodeImage(solidPng(8, 6, 0xFFFFFF))
    assert(white.exists(d => d.width == 8 && d.height == 6))
    assert(white.get.luminanceHist(15) === 1.0f)
    assert(white.get.luminanceHist.take(15).forall(_ === 0.0f))
    // pure black: bin 0
    val black = Multimodal.decodeImage(solidPng(4, 4, 0x000000))
    assert(black.get.luminanceHist(0) === 1.0f)
    // garbage bytes: None, no throw
    assert(Multimodal.decodeImage(Array.tabulate(64)(_.toByte)).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
  }

  test("extractFeatures uses the real decode for real images") {
    val assets = Seq(
      MediaAsset(1L, "image", solidPng(8, 6, 0xFFFFFF),
        MediaMeta(Some(8), Some(6), None, Some("png"))),
      MediaAsset(2L, "image", Array.tabulate(64)(_.toByte), // not decodable
        MediaMeta(None, None, None, Some("fake"))),
      MediaAsset(3L, "audio", Array.tabulate(32)(_.toByte),
        MediaMeta(None, None, Some(100L), Some("fakewav")))).toDS()
    val rows = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    // real image: decoded dims + luminance feature
    assert(rows(0).decoded_width.contains(8) && rows(0).decoded_height.contains(6))
    assert(rows(0).feature(15) === 1.0f)
    // undecodable image and audio: stub path, no dims
    assert(rows(1).decoded_width.isEmpty && rows(2).decoded_width.isEmpty)
    assert(rows(1).feature.length === 16)
  }

  test("resizeImages really rescales pixels and re-encodes PNG") {
    val assets = Seq(
      MediaAsset(1L, "image", gradientPng(16, 8),
        MediaMeta(Some(16), Some(8), None, Some("png"))),
      MediaAsset(2L, "image", Array.tabulate(64)(_.toByte), // undecodable
        MediaMeta(None, None, None, Some("fake"))),
      MediaAsset(3L, "video", Array.tabulate(32)(_.toByte),
        MediaMeta(None, None, Some(100L), Some("fakemp4")))).toDS()
    val out = Multimodal.resizeImages(assets, 4, 2).collect().sortBy(_.asset_id)
    // the resized payload is a genuine 4×2 PNG
    val round = Multimodal.decodeImage(out(0).payload)
    assert(round.exists(d => d.width == 4 && d.height == 2))
    assert(out(0).meta.width.contains(4) && out(0).meta.codec.contains("png"))
    // gradient survives downscale: leftmost darker than rightmost
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(0).payload))
    assert((img.getRGB(0, 0) & 0xFF) < (img.getRGB(3, 0) & 0xFF))
    // undecodable + non-image rows pass through untouched
    assert(out(1).payload.toSeq === Array.tabulate(64)(_.toByte).toSeq)
    assert(out(2).meta.duration_ms.contains(100L))
  }

  test("parseAvi rejects overflow-sized header dims instead of OOB-reading") {
    // A crafted header claiming 40000x30000 over the small real frames:
    // rowBytes*height = 3.6e9 overflows Int to a negative bound every
    // undersized frame would pass, and the decoders would then read far
    // past the payload (AIOOBE escaping the route-don't-throw contract).
    // The demuxer must validate in Long and reject the insane dims.
    val avi = rawAvi(5, 4, 40000L, Seq(10, 80))
    def patchDims(bytes: Array[Byte], cc: String, at: Int): Unit = {
      val idx = bytes.indices.find(i => i + 4 <= bytes.length &&
        new String(bytes, i, 4, "US-ASCII") == cc).get
      def le32(off: Int, v: Long): Unit = (0 until 4).foreach(k =>
        bytes(off + k) = ((v >> (8 * k)) & 0xFF).toByte)
      le32(idx + 8 + at, 40000L); le32(idx + 8 + at + 4, 30000L)
    }
    patchDims(avi, "avih", 32) // dwWidth/dwHeight
    patchDims(avi, "strf", 4)  // biWidth/biHeight
    assert(Multimodal.parseAvi(avi).isEmpty)
    assert(Multimodal.decodeVideo(avi).isEmpty) // no crash, routed to stub
  }

  test("parseAvi survives 60k-deep nested LIST chunks (no stack overflow)") {
    // ~12 bytes per nesting level: a ~700 KB crafted payload drives the
    // old recursive chunk walk through 60k stack frames and throws
    // StackOverflowError — an Error, invisible to the Exception guard.
    // The iterative walk must return None (no frames) without crashing.
    val n = 60000
    val sizes = new Array[Int](n)
    sizes(n - 1) = 4
    ((n - 2) to 0 by -1).foreach(i => sizes(i) = 12 + sizes(i + 1))
    val bos = new ByteArrayOutputStream()
    def cc(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Long): Unit = (0 until 4).foreach(k =>
      bos.write(((v >> (8 * k)) & 0xFF).toInt))
    cc("RIFF"); le32(4L + 8 + sizes(0)); cc("AVI ")
    (0 until n).foreach { i => cc("LIST"); le32(sizes(i)); cc("hdrl") }
    assert(Multimodal.parseAvi(bos.toByteArray).isEmpty)
  }

  test("real-image features are deterministic across reruns") {
    val assets = Seq(MediaAsset(1L, "image", gradientPng(32, 16),
      MediaMeta(Some(32), Some(16), None, Some("png")))).toDS()
    val a = Multimodal.extractFeatures(assets).collect()(0)
    val b = Multimodal.extractFeatures(assets).collect()(0)
    assert(a.feature.toSeq === b.feature.toSeq)
    assert(math.abs(a.feature.sum - 1.0f) < 1e-5)
  }
}
