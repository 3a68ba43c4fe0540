package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.Media

/** Multimodal plumbing: binary column schema, real per-modality
  * container decode (PNG / WAV / ISO-BMFF), frame-sample fan-out
  * shape.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "abc", "en", "s", 3L),          // 3 bytes  -> image (3 % 3 == 0)
    (1L, "abcd", "en", "s", 4L),         // 4 bytes  -> audio
    (2L, "abcdefgh", "en", "s", 8L)      // 8 bytes  -> video
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("frameSample expands video metadata rows with stride") {
    val meta = Seq((2L, 9), (5L, 3)).toDF("doc_id", "n_frames")
    val out = Multimodal.frameSample(meta, everyNth = 4)
      .select("doc_id", "frame_idx").as[(Long, Int)].collect().toSeq
    assert(out == Seq((2L, 0), (2L, 4), (2L, 8), (5L, 0)))
  }

  test("parseMp4Meta walks the real box tree (round trip of buildMp4)") {
    // id 20: w = 20%128+16 = 36, h = 20%96+16 = 36, frames = 20%24+1 = 21
    // (frames > 1 -> SPLIT stts: the parser must sum both runs)
    val (w, h, f, ts, dur) = Multimodal.parseMp4Meta(Multimodal.buildMp4(20L))
    assert((w, h, f, ts, dur) == (36, 36, 21, 12800, 21L * 512))
    // id 23: frames = 23%24+1 = 24; id 47: frames = 47%24+1 = 24, w 63+16
    val (w2, _, f2, _, _) = Multimodal.parseMp4Meta(Multimodal.buildMp4(47L))
    assert(w2 == 47 % 128 + 16 && f2 == 24)
  }

  test("parseMp4Meta handles version-1 boxes and 64-bit largesize headers") {
    // hand-assemble a container the WRITER never produces: moov with a
    // largesize header, v1 tkhd (64-bit times), v1 mdhd — pinning the
    // parser's spec coverage, not a writer round trip
    def be(bb: java.nio.ByteBuffer): Array[Byte] = bb.array()
    val tkhd = {
      val b = java.nio.ByteBuffer.allocate(8 + 96)
      b.putInt(8 + 96).put("tkhd".getBytes("US-ASCII"))
      b.putInt(0x01000007)                  // VERSION 1 + flags
      b.putLong(0L).putLong(0L)             // 64-bit creation/modification
      b.putInt(1).putInt(0)                 // track_ID, reserved
      b.putLong(100L)                       // 64-bit duration
      b.putLong(0L)                         // reserved
      b.putShort(0).putShort(0).putShort(0).putShort(0)
      (0 until 9).foreach(_ => b.putInt(0)) // matrix (content irrelevant)
      b.putInt(320 << 16).putInt(240 << 16)
      be(b)
    }
    val mdhd = {
      val b = java.nio.ByteBuffer.allocate(8 + 36)
      b.putInt(8 + 36).put("mdhd".getBytes("US-ASCII"))
      b.putInt(0x01000000)                  // VERSION 1
      b.putLong(0L).putLong(0L)
      b.putInt(90000)                       // timescale
      b.putLong(4500L)                      // 64-bit duration
      b.putShort(0x55C4.toShort).putShort(0)
      be(b)
    }
    val stts = {
      val b = java.nio.ByteBuffer.allocate(8 + 24)
      b.putInt(8 + 24).put("stts".getBytes("US-ASCII"))
      b.putInt(0).putInt(2).putInt(40).putInt(100).putInt(5).putInt(100)
      be(b)
    }
    def container(tp: String, parts: Array[Byte]*): Array[Byte] = {
      val n = 8 + parts.map(_.length).sum
      val b = java.nio.ByteBuffer.allocate(n)
      b.putInt(n).put(tp.getBytes("US-ASCII")); parts.foreach(b.put); be(b)
    }
    val stbl = container("stbl", stts)
    val minf = container("minf", stbl)
    val mdia = container("mdia", mdhd, minf)
    val trak = container("trak", tkhd, mdia)
    // moov with a 64-bit largesize header (size field == 1)
    val inner = Array(trak).map(_.length).sum
    val moovB = java.nio.ByteBuffer.allocate(16 + inner)
    moovB.putInt(1).put("moov".getBytes("US-ASCII")).putLong(16L + inner).put(trak)
    val bytes = be(moovB)
    val (w, h, f, ts, dur) = Multimodal.parseMp4Meta(bytes)
    assert((w, h, f, ts, dur) == (320, 240, 45, 90000, 4500L))
  }

  test("parseMp4Meta selects the 'vide' trak when audio comes first") {
    // real muxers commonly order traks audio-first; the parser must
    // pick the trak whose hdlr is 'vide', not trak #1
    def be(bb: java.nio.ByteBuffer): Array[Byte] = bb.array()
    def box(tp: String, parts: Array[Byte]*): Array[Byte] = {
      val n = 8 + parts.map(_.length).sum
      val b = java.nio.ByteBuffer.allocate(n)
      b.putInt(n).put(tp.getBytes("US-ASCII")); parts.foreach(b.put); be(b)
    }
    def hdlr(tp: String): Array[Byte] = box("hdlr", be {
      val b = java.nio.ByteBuffer.allocate(25)
      b.putInt(0).putInt(0).put(tp.getBytes("US-ASCII"))
        .putInt(0).putInt(0).putInt(0).put(0.toByte); b })
    def tkhd(w: Int, h: Int): Array[Byte] = box("tkhd", be {
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(7).putInt(0).putInt(0).putInt(1).putInt(0).putInt(0).putLong(0L)
      b.putShort(0).putShort(0).putShort(0).putShort(0)
      (0 until 9).foreach(_ => b.putInt(0))
      b.putInt(w << 16).putInt(h << 16); b })
    def mdhd(ts: Int, dur: Int): Array[Byte] = box("mdhd", be {
      val b = java.nio.ByteBuffer.allocate(24)
      b.putInt(0).putInt(0).putInt(0).putInt(ts).putInt(dur)
        .putShort(0x55C4.toShort).putShort(0); b })
    def stts(count: Int, delta: Int): Array[Byte] = box("stts", be {
      val b = java.nio.ByteBuffer.allocate(16)
      b.putInt(0).putInt(1).putInt(count).putInt(delta); b })
    def trak(handler: String, w: Int, h: Int, ts: Int, frames: Int,
        delta: Int): Array[Byte] =
      box("trak", tkhd(w, h), box("mdia", mdhd(ts, frames * delta),
        hdlr(handler), box("minf", box("stbl", stts(frames, delta)))))
    val audioFirst = box("moov",
      trak("soun", 0, 0, 44100, 44100, 1),   // audio: 0x0, huge sample count
      trak("vide", 320, 240, 12800, 48, 512))
    val (w, h, f, ts, dur) = Multimodal.parseMp4Meta(audioFirst)
    assert((w, h, f, ts, dur) == (320, 240, 48, 12800, 48L * 512))
  }

  test("parseMp4Meta fails loudly on a missing moov (not a silent zero)") {
    val junk = Array.fill[Byte](32)(7)
    val e = intercept[Exception] { Multimodal.parseMp4Meta(junk) }
    assert(e.getMessage != null)
  }

  test("stageMp4s + binaryFile round trip parses the staged boxes") {
    val dir = tempDir("graft_mp4_spec")
      .resolve("staged").toString
    // only doc 2 is video-typed (8 % 3 == 2)
    val staged = Multimodal.staged(spark, docs, dir, Media.Mp4)
    val out = Multimodal.decodeVideoMeta(staged)
    assert(out.schema == Multimodal.videoMetaSchema)
    // staging rule for id 2: w = 18, h = 18, frames = 3, ts 12800
    assert(out.as[(Long, Int, Int, Int, Int, Long)].collect().toSeq ==
      Seq((2L, 18, 18, 3, 12800, 3L * 512)))
    // idempotent: a second call reads the published files back, it
    // renders nothing (no documents, same file)
    assert(Multimodal.staged(spark, docs.limit(0), dir, Media.Mp4).count() == 1)
  }

  test("decodeImageMeta reads REAL dimensions from png bytes (javax.imageio)") {
    // hand-render two PNGs with known dims — no staging rule involved,
    // so this pins the decoder itself, not the harness arithmetic
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xFF8800)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bin = Seq((10L, png(17, 5)), (11L, png(1, 1)))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeImageMeta(bin)
      .select("doc_id", "n_bytes", "media_type", "width", "height", "n_frames")
      .as[(Long, Long, String, Int, Int, Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, 17L * 5 * 3, "image", 17, 5, 1),
      (11L, 3L, "image", 1, 1, 1)))
  }

  test("tileBrightness: each quadrant sums its own pixels; 1×1 degenerates") {
    // 2×2 gray image: one pixel per tile, values 10/20/30/40
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def g(v: Int) = (v << 16) | (v << 8) | v
    img.setRGB(0, 0, g(10)); img.setRGB(1, 0, g(20))
    img.setRGB(0, 1, g(30)); img.setRGB(1, 1, g(40))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val one = new java.awt.image.BufferedImage(1, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    one.setRGB(0, 0, g(99))
    val bos1 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(one, "png", bos1)
    val bin = Seq((1L, bos.toByteArray), (2L, bos1.toByteArray))
      .toDF("doc_id", "content")
    val out = Multimodal.tileBrightness(bin)
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 0, 1L, 10L, 10.0), (1L, 1, 1L, 20L, 20.0),
      (1L, 2, 1L, 30L, 30.0), (1L, 3, 1L, 40L, 40.0),
      (2L, 0, 1L, 99L, 99.0)), out)
  }

  test("decodeJpegCheck: staged block-gradient passes the gate; garbage raster fails") {
    // real staged jpeg for one id: encode exactly as Media.Jpg does
    def jpegFor(id: Long): Array[Byte] = {
      val w = (id % 56 + 8).toInt
      val h = (id % 40 + 8).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((id * 17 + (x / 8) * 31 + (y / 8) * 7) % 256).toInt
        img.setRGB(x, y, v * 0x010101)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // an all-mid-gray jpeg of the RIGHT dims: dims match, raster wrong
    def flatGray(id: Long): Array[Byte] = {
      val w = (id % 56 + 8).toInt
      val h = (id % 40 + 8).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x808080)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val bin = Seq((9L, jpegFor(9L)), (42L, jpegFor(42L)), (7L, flatGray(7L)))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeJpegCheck(bin)
      .as[(Long, Int, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (7L, (7 % 56 + 8), (7 % 40 + 8), false), // right dims, wrong pixels
      (9L, (9 % 56 + 8).toInt, (9 % 40 + 8).toInt, true),
      (42L, (42 % 56 + 8).toInt, (42 % 40 + 8).toInt, true)), out)
  }

  test("resizeImages: NN thumbnail digest matches an independent pixel walk") {
    // 5x3 image with distinct per-pixel gray values; the expected digest
    // is computed here by a straight reference loop over the SAME source
    // pixels, so the test pins the sampling arithmetic (floor(i*w/outW))
    // rather than trusting the operator's own math
    val w = 5; val h = 3
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 40 + y * 7) % 256) * 0x010101)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bin = Seq((7L, bos.toByteArray)).toDF("doc_id", "content")
    val expected = (for (j <- 0 until 12; i <- 0 until 16)
      yield ((i * w / 16) * 40 + (j * h / 12) * 7) % 256).map(_.toLong).sum
    val out = Multimodal.resizeImages(bin)
      .as[(Long, Int, Int, Int, Int, Long)].collect().toSeq
    assert(out == Seq((7L, 5, 3, 16, 12, expected)))
  }

  test("imageDHash: bit set iff the right NN sample is brighter, hex MSB-first") {
    // 18x8 image: gray rises with x in row 0 (all 8 row-0 bits set),
    // falls with x in row 1 (none set), constant elsewhere (strict >
    // never fires). h = 8 makes sy = y exactly.
    val w = 18; val h = 8
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = if (y == 0) x * 10 else if (y == 1) 200 - x * 10 else 37
      img.setRGB(x, y, g * 0x010101)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bin = Seq((9L, bos.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.imageDHash(bin)
      .as[(Long, Int, Int, String)].collect().toSeq
    // row 0 bits 0..7 -> low byte 0xff, printed LAST (MSB-first)
    assert(out == Seq((9L, 18, 8, "00000000000000ff")), out)
  }

  test("audioDHash: contour bits follow the sampled amplitudes, hex MSB-first") {
    // 65 mono samples so the NN grid is the identity (⌊i·65/65⌋ = i):
    // strictly rising first 9 samples -> bits 0..7 set, then strictly
    // falling -> no further bits. Amplitudes stay positive (hi byte 0).
    val n = 65
    val pcm = new Array[Byte](n * 2)
    for (j <- 0 until n) {
      val v = if (j <= 8) j * 10 else math.max(0, 80 - (j - 8) * 5)
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = 0
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val bin = Seq((3L, bos.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.audioDHash(bin)
      .as[(Long, Long, String)].collect().toSeq
    assert(out == Seq((3L, 65L, "00000000000000ff")), out)
  }

  test("stagePngs + binaryFile round trip decodes the staged dims") {
    val dir = tempDir("graft_png_spec")
      .resolve("staged").toString
    // only doc 0 is image-typed
    val staged = Multimodal.staged(spark, docs, dir, Media.Png)
    val out = Multimodal.decodeImageMeta(staged)
      .select("doc_id", "width", "height").as[(Long, Int, Int)]
      .collect().toSeq
    // staging rule: w = 0%64+1 = 1, h = 0%48+1 = 1
    assert(out == Seq((0L, 1, 1)))
    // idempotent: a second call reads the published files back, it
    // renders nothing (no documents, same file)
    assert(Multimodal.staged(spark, docs.limit(0), dir, Media.Png).count() == 1)
  }

  test("jpg staging + binaryFile round trip passes the full-raster decode gate") {
    val dir = tempDir("graft_jpg_spec")
      .resolve("staged").toString
    // only doc 0 is image-typed
    val staged = Multimodal.staged(spark, docs, dir, Media.Jpg)
    val out = Multimodal.decodeJpegCheck(staged)
      .as[(Long, Int, Int, Boolean)].collect().toSeq
    // staging rule: w = 0%56+8 = 8, h = 0%40+8 = 8
    assert(out == Seq((0L, 8, 8, true)))
    // idempotent: a second call reads the published files back, it
    // renders nothing (no documents, same file)
    assert(Multimodal.staged(spark, docs.limit(0), dir, Media.Jpg).count() == 1)
  }

  test("captionIntegrity scores caption agreement over image-dup pairs") {
    // three image-typed docs (12 bytes, % 3 == 0) whose ids are all
    // % 64 == 0 -> 1-pixel-wide renders -> dhash 0 -> one exact-dup
    // image clique; captions: two identical, one diverging
    val cdocs = Seq(
      (0L, "the cat sat.", "en", "s", 12L),
      (192L, "the cat sat.", "en", "s", 12L),
      (384L, "the dog sat.", "en", "s", 12L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft_capint_spec")
      .resolve("staged").toString
    val out = Multimodal.captionIntegrity(
      Multimodal.staged(spark, cdocs, dir, Media.Png), cdocs)
      .as[(Long, Long, Long, Boolean, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 192L, 0L, true, 1.0),   // same image, same caption
      (0L, 384L, 0L, false, 0.5),  // same image, conflicting caption
      (192L, 384L, 0L, false, 0.5)), out)
  }

  test("stageWavs + binaryFile round trip decodes the staged RIFF header") {
    val dir = tempDir("graft_wav_spec")
      .resolve("staged").toString
    // only doc 1 is audio-typed (4 % 3 == 1)
    val staged = Multimodal.staged(spark, docs, dir, Media.Wav)
    val out = Multimodal.decodeAudioMeta(staged)
    assert(out.schema == Multimodal.audioMetaSchema)
    // staging rule for id 1: rate = 8000 + 1·4000, channels = 1%2+1 = 2,
    // frames = 1%50+10 = 11, pcm = 11·2·2
    assert(out.as[(Long, Int, Int, Long, Long)].collect().toSeq ==
      Seq((1L, 12000, 2, 11L, 44L)))
    // idempotent: a second call reads the published files back, it
    // renders nothing (no documents, same file)
    assert(Multimodal.staged(spark, docs.limit(0), dir, Media.Wav).count() == 1)
  }

  test("audioBandEnergy splits samples into quarter bands of exact sum-squares") {
    // 8 mono samples 1..8 -> bands of 2: energies 5, 25, 61, 113
    val samples = Array[Short](1, 2, 3, 4, 5, 6, 7, 8)
    val pcm = new Array[Byte](16)
    samples.zipWithIndex.foreach { case (v, j) =>
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 8),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((9L, buf.toByteArray)).toDF("doc_id", "content")
    assert(Multimodal.audioBandEnergy(in)
      .as[(Long, Int, Long, Long)].collect().toSeq == Seq(
        (9L, 0, 2L, 5L), (9L, 1, 2L, 25L),
        (9L, 2, 2L, 61L), (9L, 3, 2L, 113L)))
  }

  test("audioStats streams every 16-bit sample of a hand-built WAV") {
    // 3 mono samples 100, -200, 300: sum/min/max need the full stream
    val samples = Array[Short](100, -200, 300)
    val pcm = new Array[Byte](6)
    samples.zipWithIndex.foreach { case (v, j) =>
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 3),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((3L, buf.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.audioStats(in)
    assert(out.schema == Multimodal.audioStatsSchema)
    assert(out.as[(Long, Long, Long, Int, Int)].collect().toSeq ==
      Seq((3L, 3L, 200L, -200, 300)))
  }

  test("audioZcr counts exact sign transitions over the sample walk") {
    // signs: + - + + -  → transitions at j=1,2,4 → 3 crossings over
    // 4 adjacent pairs; 0 counts as non-negative by definition
    val samples = Array[Short](100, -200, 0, 300, -1)
    val pcm = new Array[Byte](10)
    samples.zipWithIndex.foreach { case (v, j) =>
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 5),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((7L, buf.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.audioZcr(in)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((7L, 5L, 3L, 0.75)), out)
  }

  test("audioSilence measures lead/trail runs and the total silent count") {
    // threshold 4096: samples 10, -20, 9000, 30, -9000, 5, 8
    // silent at j=0,1,3,5,6; loud at 2 and 4 → lead=2, trail=2, n=5
    val samples = Array[Short](10, -20, 9000, 30, -9000, 5, 8)
    val pcm = new Array[Byte](14)
    samples.zipWithIndex.foreach { case (v, j) =>
      pcm(2 * j) = (v & 0xff).toByte
      pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 7),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((9L, buf.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.audioSilence(in)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((9L, 7L, 2L, 2L, 5L)), out)

    // all-silent clip: lead = trail = ns
    val quiet = Array[Short](1, -2, 3)
    val qp = new Array[Byte](6)
    quiet.zipWithIndex.foreach { case (v, j) =>
      qp(2 * j) = (v & 0xff).toByte
      qp(2 * j + 1) = ((v >> 8) & 0xff).toByte
    }
    val qbuf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(qp), fmt, 3),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, qbuf)
    val qout = Multimodal.audioSilence(
      Seq((4L, qbuf.toByteArray)).toDF("doc_id", "content"))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(qout == Seq((4L, 3L, 3L, 3L, 3L)), qout)
  }

  test("resampleAudio picks the nearest-neighbor source frame per grid point") {
    // 4 stereo frames, channel-0 samples 10, 20, 30, 40; resample to
    // outN=8 → source frame ⌊j·4/8⌋ = 0,0,1,1,2,2,3,3 → sum = 200
    val ch0 = Array[Short](10, 20, 30, 40)
    val pcm = new Array[Byte](16)
    ch0.zipWithIndex.foreach { case (v, j) =>
      pcm(4 * j) = (v & 0xff).toByte
      pcm(4 * j + 1) = ((v >> 8) & 0xff).toByte
      // channel 1 = 999 everywhere: must NOT leak into the digest
      pcm(4 * j + 2) = (999 & 0xff).toByte
      pcm(4 * j + 3) = ((999 >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 4),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((5L, buf.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.resampleAudio(in, outN = 8)
    assert(out.schema == Multimodal.audioResampleSchema)
    assert(out.as[(Long, Long, Int, Long)].collect().toSeq ==
      Seq((5L, 4L, 8, 200L)))
  }

  test("resampleAudio fails loudly on a header-only WAV") {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array.empty[Byte]), fmt, 0),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((6L, buf.toByteArray)).toDF("doc_id", "content")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.resampleAudio(in).collect()
    }
    assert(ex.getMessage.contains("no complete PCM frame")
      || Option(ex.getCause).exists(_.getMessage.contains("no complete PCM frame")))
  }

  test("audioSilence fails loudly on a header-only WAV") {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array.empty[Byte]), fmt, 0),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val in = Seq((6L, buf.toByteArray)).toDF("doc_id", "content")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.audioSilence(in).collect()
    }
    assert(ex.getMessage.contains("PCM stream has 0 bytes")
      || Option(ex.getCause).exists(_.getMessage.contains("PCM stream has 0 bytes")))
  }

  test("every image kernel fails loudly on an undecodable payload") {
    val in = Seq((13L, Array.fill[Byte](64)(7))).toDF("doc_id", "content")
    val want = "undecodable image payload for doc 13"
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "decodeImageMeta" -> (Multimodal.decodeImageMeta(_)),
      "pixelStats" -> (Multimodal.pixelStats(_)),
      "imageDHash" -> (Multimodal.imageDHash(_)),
      "decodeJpegCheck" -> (Multimodal.decodeJpegCheck(_))
    ).foreach { case (name, kernel) =>
      val ex = intercept[org.apache.spark.SparkException] { kernel(in).collect() }
      assert(ex.getMessage.contains(want)
        || Option(ex.getCause).exists(_.getMessage.contains(want)), name)
    }
  }

  test("grayHistogram folds whole rasters into 16 bands, zero bands absent") {
    // 2x2 image: bytes 10/20/30/40 -> bands 0 (10), 1 (20,30), 2 (40)
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 10 * 0x010101); img.setRGB(1, 0, 20 * 0x010101)
    img.setRGB(0, 1, 30 * 0x010101); img.setRGB(1, 1, 40 * 0x010101)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val in = Seq((7L, buf.toByteArray)).toDF("doc_id", "content")
    assert(Multimodal.grayHistogram(in)
      .as[(Int, Long)].collect().toSeq == Seq((0, 1L), (1, 2L), (2, 1L)))
  }

  test("pixelStats sweeps the FULL raster of a hand-built PNG") {
    // 2x2 image with distinct per-pixel low bytes 10/20/30/40: sum,
    // min, max only come out right if every pixel is visited
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 10 * 0x010101); img.setRGB(1, 0, 20 * 0x010101)
    img.setRGB(0, 1, 30 * 0x010101); img.setRGB(1, 1, 40 * 0x010101)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val in = Seq((7L, buf.toByteArray)).toDF("doc_id", "content")
    val out = Multimodal.pixelStats(in)
    assert(out.schema == Multimodal.pixelStatsSchema)
    assert(out.as[(Long, Int, Int, Long, Int, Int)].collect().toSeq ==
      Seq((7L, 2, 2, 100L, 10, 40)))
  }
}
