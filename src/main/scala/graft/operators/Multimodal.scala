package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns accompanied by typed metadata. The decode /
  * feature-extract step is the per-partition escape hatch — the ONE
  * place imperative code is warranted, because codec libraries are
  * record-at-a-time.
  *
  * Every per-document kernel runs through ONE runner, [[perDoc]]: it
  * selects (doc_id, content), runs the one narrow `mapPartitions` (no
  * shuffle; at 100 TB the partitions follow the `binaryFile` splits and
  * each task streams its files through the codec one at a time) and
  * types the rows. Each modality has one decode step on top of it, and
  * that step owns the fail-loudly rule, so no kernel can skip it:
  * - IMAGE: [[perImage]] decodes each payload once with the JDK's
  *   `javax.imageio` (PNG/JPEG need no external libs) into a [[Gray]]
  *   view whose `apply(x, y)` is the one pixel rule; an undecodable
  *   payload fails the task.
  * - AUDIO: [[perClip]] decodes each WAV once with `javax.sound.sampled`
  *   ([[pcm16le]]) into interleaved signed 16-bit samples, the one
  *   sample rule; a non-16-bit-LE or sample-less clip fails the task.
  * - VIDEO: the JDK has no video CODEC, but container METADATA needs
  *   none — [[decodeVideoMeta]] walks the ISO-BMFF (MP4) box tree in
  *   plain byte arithmetic ([[parseMp4Meta]]): `moov/trak/tkhd` for the
  *   16.16-fixed width/height, `moov/trak/mdia/mdhd` for
  *   timescale/duration, and `.../minf/stbl/stts` entry-sum for the
  *   frame count. True pixel decode would require an external codec and
  *   stays out of scope; everything header-readable is read for real.
  */
object Multimodal {

  /** The one per-document runner: `docs`' (doc_id, content) rows
    * through `kernel` in one narrow mapPartitions, typed by `schema`.
    */
  private def perDoc(docs: DataFrame, schema: StructType)(
      kernel: (Long, Array[Byte]) => Iterator[Row]): DataFrame =
    docs.select(col("doc_id"), col("content")).mapPartitions { rows =>
      rows.flatMap(r => kernel(r.getLong(0), r.getAs[Array[Byte]](1)))
    }(Encoders.row(schema))

  /** A decoded image seen through the one pixel rule: `apply(x, y)` is
    * the low (blue) byte of pixel (x, y) — the gray value of every
    * staged render. Pixels are read from the decoded image on demand,
    * never copied out, so a kernel that samples pays only for its
    * samples.
    */
  private final class Gray(img: java.awt.image.BufferedImage) {
    val w: Int = img.getWidth
    val h: Int = img.getHeight
    def apply(x: Int, y: Int): Int = img.getRGB(x, y) & 0xff
  }

  /** [[perDoc]] over images: each payload decoded once, an undecodable
    * one failing loudly.
    */
  private def perImage(images: DataFrame, schema: StructType)(
      kernel: (Long, Gray) => Iterator[Row]): DataFrame =
    perDoc(images, schema) { (id, bytes) =>
      javax.imageio.ImageIO.setUseCache(false) // in-memory decode, no tmp spill
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"undecodable image payload for doc $id")
      kernel(id, new Gray(img))
    }

  /** A decoded clip: `s` holds the interleaved signed 16-bit samples
    * (frame f, channel c at f·channels + c).
    */
  private final case class Pcm(s: Array[Int], channels: Int)

  /** Decode a WAV payload to samples, asserting 16-bit little-endian
    * signed PCM FIRST (the sample rule below would silently produce
    * wrong values, not an error, on an 8/24-bit, big-endian or float
    * clip) and at least one complete sample (silently emitting sentinel
    * stats for an empty stream would let a truncated or header-only
    * clip pass as "quiet audio").
    */
  private def pcm16le(payload: Array[Byte], docId: Long): Pcm = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"doc $docId: expected 16-bit LE signed PCM, got $fmt")
    val data = ais.readAllBytes()
    ais.close()
    require(data.length >= 2, s"doc $docId: PCM stream has ${data.length} bytes — " +
      "no complete PCM frame (truncated or header-only WAV)")
    val s = new Array[Int](data.length / 2)
    var j = 0
    while (j < s.length) {
      s(j) = (data(2 * j + 1) << 8) | (data(2 * j) & 0xff)
      j += 1
    }
    Pcm(s, fmt.getChannels)
  }

  /** [[perDoc]] over WAV clips: each payload decoded once by [[pcm16le]]. */
  private def perClip(audio: DataFrame, schema: StructType)(
      kernel: (Long, Pcm) => Iterator[Row]): DataFrame =
    perDoc(audio, schema)((id, bytes) => kernel(id, pcm16le(bytes, id)))

  /** Schema of a decoded media record. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** REAL image decode over (doc_id, content) binary rows: actual
    * width/height read from the container bytes. `n_bytes` reports the
    * DECODED RGB buffer size (w·h·3) — the decode-verifiable quantity;
    * the container byte size is compression-dependent and carried by
    * the `binaryFile` source's `length` column for callers that want it.
    */
  def decodeImageMeta(images: DataFrame): DataFrame =
    perImage(images, mediaMetaSchema) { (id, g) =>
      Iterator.single(Row(id, g.w.toLong * g.h * 3L, "image", g.w, g.h, 1))
    }

  /** A media modality staged for the decoders: the docs whose UTF-8
    * text length % 3 == `residue` (the modality rule) render as real
    * `doc_<id>.<ext>` files whose every decoded field derives from
    * doc_id, so an oracle can predict what a correct decoder reads back.
    */
  sealed abstract class Media(val ext: String, val residue: Int) {
    private[Multimodal] def render(id: Long, file: java.io.File): Unit
  }

  object Media {
    /** PNG, w = id%64+1, h = id%48+1, gray (id + 31x + 7y) mod 256. */
    case object Png extends Media("png", 0) {
      private[Multimodal] def render(id: Long, file: java.io.File): Unit =
        writeGray(file, "png", (id % 64 + 1).toInt, (id % 48 + 1).toInt)(
          (x, y) => ((id + x * 31 + y * 7) % 256).toInt)
    }

    /** Baseline JPEG, w = id%56+8, h = id%40+8, gray CONSTANT PER 8×8
      * DCT BLOCK ((id·17 + ⌊x/8⌋·31 + ⌊y/8⌋·7) mod 256): a flat block
      * carries only its DC coefficient, so lossy quantization moves
      * each pixel by a few counts and [[decodeJpegCheck]] can hold a
      * full-raster decode to the formula.
      */
    case object Jpg extends Media("jpg", 0) {
      /** Gray of pixel (x, y) in doc `id`'s render. */
      private[Multimodal] def gray(id: Long, x: Int, y: Int): Int =
        ((id * 17 + (x / 8) * 31 + (y / 8) * 7) % 256).toInt

      private[Multimodal] def render(id: Long, file: java.io.File): Unit =
        writeGray(file, "jpg", (id % 56 + 8).toInt, (id % 40 + 8).toInt)(gray(id, _, _))
    }

    /** 16-bit PCM WAV, rate = 8000 + id%3·4000, channels = id%2+1,
      * frames = id%50+10.
      */
    case object Wav extends Media("wav", 1) {
      private[Multimodal] def render(id: Long, file: java.io.File): Unit = {
        val rate = (8000 + (id % 3) * 4000).toInt
        val channels = (id % 2 + 1).toInt
        val frames = (id % 50 + 10).toInt
        val pcm = Array.tabulate[Byte](frames * channels * 2)(
          i => ((id + i * 31) % 256 - 128).toByte)
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, channels,
          true, false) // signed 16-bit little-endian PCM
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, file)
        ()
      }
    }

    /** ISO-BMFF container, [[buildMp4]]'s staging rule. */
    case object Mp4 extends Media("mp4", 2) {
      private[Multimodal] def render(id: Long, file: java.io.File): Unit = {
        java.nio.file.Files.write(file.toPath, buildMp4(id))
        ()
      }
    }
  }

  /** A w×h gray image, pixel (x, y) = `gray(x, y)`, written as `format`. */
  private def writeGray(file: java.io.File, format: String, w: Int, h: Int)(
      gray: (Int, Int) => Int): Unit = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, gray(x, y) * 0x010101)
        x += 1
      }
      y += 1
    }
    javax.imageio.ImageIO.write(img, format, file)
    ()
  }

  /** Render `documents`' `media`-typed docs into `dir`, once: a
    * published dir is reused as it is. The render runs in this JVM
    * over a collect of the doc ids: the dir is handed straight to a
    * `binaryFile` read, and an executor-side render on a non-local
    * master would scatter the files into executor-local /tmp and
    * publish an empty dir. Files land in `<dir>.tmp` and publish with
    * one rename.
    */
  private def publish(documents: DataFrame, dir: String, media: Media): Unit = {
    val published = new java.io.File(dir)
    if (published.exists()) return
    val tmp = new java.io.File(dir + ".tmp")
    tmp.mkdirs() // the publish step needs a dir even if no doc qualifies
    documents.select(col("doc_id"))
      .filter(length(col("text").cast("binary")) % 3 === media.residue)
      .collect().map(_.getLong(0))
      .foreach(id => media.render(id, new java.io.File(tmp, s"doc_$id.${media.ext}")))
    // a false renameTo is fine only if a concurrent run already
    // published; otherwise the staging silently vanished — fail loudly
    if (!tmp.renameTo(published) && !published.exists())
      sys.error(s"${media.ext} staging: could not publish $tmp -> $published")
  }

  /** `documents`' `media` files staged in `dir` (rendered by the first
    * call, reused after) and read back through the `binaryFile` source
    * as the (doc_id, content) rows every decoder here takes.
    */
  def staged(spark: SparkSession, documents: DataFrame, dir: String,
      media: Media): DataFrame = {
    publish(documents, dir, media)
    spark.read.format("binaryFile").load(dir)
      .select(regexp_extract(col("path"), s"doc_(\\d+)\\.${media.ext}$$", 1)
        .cast("long").as("doc_id"), col("content"))
  }

  /** Schema of a resized-image record: source dims, target dims, and
    * a digest of the RESIZED pixels (proof the resample actually ran
    * over decoded data, not just the header).
    */
  val imageResizeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("checksum", LongType)))

  /** REAL thumbnail pipeline over (doc_id, content) binary rows:
    * decode, then a nearest-neighbor resample to a fixed (outW × outH)
    * target, then a pixel-sum digest of the thumbnail. Nearest-neighbor
    * (source pixel ⌊i·w/outW⌋, ⌊j·h/outH⌋) is chosen over Graphics2D
    * interpolation deliberately: NN is pure integer arithmetic, so the
    * digest is engine- and platform-exact and an oracle can predict it
    * — interpolated filters round differently across JVMs/toolkits.
    * The per-task cost is decode + outW·outH samples per image, the
    * batch-inference preprocessing shape at 100 TB.
    */
  def resizeImages(images: DataFrame, outW: Int = 16, outH: Int = 12): DataFrame =
    perImage(images, imageResizeSchema) { (id, g) =>
      var sum = 0L
      var j = 0
      while (j < outH) {
        val y = j * g.h / outH
        var i = 0
        while (i < outW) {
          sum += g(i * g.w / outW, y)
          i += 1
        }
        j += 1
      }
      Iterator.single(Row(id, g.w, g.h, outW, outH, sum))
    }

  /** Schema of a JPEG decode-verification record: exact container
    * dims plus a full-raster tolerance gate against the staged
    * block-gradient.
    */
  val jpegCheckSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("decode_ok", BooleanType)))

  /** REAL lossy-codec decode verification: decode the staged JPEG,
    * then sweep EVERY pixel comparing the luminance against the
    * [[Media.Jpg]] block-gradient formula — `decode_ok` iff the max
    * absolute deviation stays within `tol`. Dims are exact (oracle
    * predicts them from doc_id); pixels can't hash-match across
    * codecs for a lossy format, but a flat-block source bounds DCT
    * quantization error to a few counts, so the gate proves the full
    * raster was actually decoded (garbage, header-only, or sampled
    * decodes blow the bound) while staying implementation-agnostic.
    */
  def decodeJpegCheck(images: DataFrame, tol: Int = 12): DataFrame =
    perImage(images, jpegCheckSchema) { (id, g) =>
      var maxDiff = 0
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w) {
          val d = math.abs(g(x, y) - Media.Jpg.gray(id, x, y))
          if (d > maxDiff) maxDiff = d
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, g.w, g.h, maxDiff <= tol))
    }

  /** Schema of a per-image pixel-statistics record (full-resolution
    * channel stats over the REAL decoded raster).
    */
  val pixelStatsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("px_sum", LongType),
    StructField("px_min", IntegerType),
    StructField("px_max", IntegerType)))

  /** Per-image 16-band census of the gray byte (band = gray >> 4):
    * (doc_id, band, n_px), empty bands absent — ≤16 rows per image.
    */
  private def grayBands(images: DataFrame): DataFrame =
    perImage(images, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("band", IntegerType, nullable = false),
        StructField("n_px", LongType, nullable = false)))) { (id, g) =>
      val acc = new Array[Long](16)
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w) {
          acc(g(x, y) >> 4) += 1L
          x += 1
        }
        y += 1
      }
      (0 until 16).iterator.filter(acc(_) > 0L).map(b => Row(id, b, acc(b)))
    }

  /** Corpus-level grayscale tone histogram over the REAL decoded
    * rasters — 16 bands of the gray byte, the exposure/contrast census
    * a vision pipeline runs before normalization decisions (a spike at
    * band 0/15 means clipped images; a single hot band means
    * near-constant rasters): [[grayBands]] summed by band. Spark's
    * partial aggregation folds each task's per-image bands to ≤16 rows
    * before the band-keyed shuffle, no matter how many pixels were read.
    */
  def grayHistogram(images: DataFrame): DataFrame =
    grayBands(images)
      .groupBy("band")
      .agg(sum(col("n_px")).as("n_pixels"))
      .orderBy("band")

  /** Per-image tonal entropy over the REAL decode — the flat/degenerate
    * frame screen of image curation (a solid or two-tone frame scores
    * near 0 bits; a busy natural raster approaches the 4-bit ceiling of
    * the 16-band census): Shannon entropy of the [[grayBands]] bands,
    * per image. Each band's −p·log₂p term crosses a round(…,12) barrier
    * before the exact-decimal per-image sum (the TextOps.tokenEntropy
    * discipline), so partial-aggregation order can never move the hash.
    */
  def imageEntropy(images: DataFrame): DataFrame = {
    val tot = Window.partitionBy("doc_id")
    grayBands(images)
      .withColumn("p", col("n_px").cast("double") /
        sum(col("n_px")).over(tot).cast("double"))
      .withColumn("contrib",
        round(col("p") * log(col("p")) / log(lit(2.0)), 12))
      .groupBy("doc_id")
      .agg(sum(col("n_px")).as("n_pixels"),
        (-sum(col("contrib").cast(DecimalType(18, 14))))
          .cast("double").as("entropy16"))
      .orderBy("doc_id")
  }

  /** 2×2 tile brightness census over the REAL decode — the
    * blank-region / letterbox LOCALIZATION probe of image curation
    * ([[pixelStats]] sees whole-frame sums; this sees "the bottom half
    * is black", the crop/pad signal an image-cleaning pass acts on —
    * the raster twin of [[audioBandEnergy]]). Tile of pixel (x, y) is
    * (2y/h)·2 + 2x/w — non-negative integer division, engine-exact,
    * degenerating gracefully on 1-pixel-wide rasters (everything lands
    * in the left tiles, which then simply don't exist on either
    * engine). Exact integer sums; the per-tile mean divides behind a
    * round(…,6) barrier. ≤4 rows per image.
    */
  def tileBrightness(images: DataFrame): DataFrame =
    perImage(images, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("tile", IntegerType, nullable = false),
        StructField("n_px", LongType, nullable = false),
        StructField("px_sum", LongType, nullable = false)))) { (id, g) =>
      val n = new Array[Long](4)
      val s = new Array[Long](4)
      var y = 0
      while (y < g.h) {
        val ty = y * 2 / g.h
        var x = 0
        while (x < g.w) {
          val t = ty * 2 + x * 2 / g.w
          n(t) += 1L
          s(t) += g(x, y)
          x += 1
        }
        y += 1
      }
      (0 until 4).iterator.filter(n(_) > 0L).map(t => Row(id, t, n(t), s(t)))
    }.withColumn("mean_px",
        round(col("px_sum").cast("double") / col("n_px").cast("double"), 6))
      .orderBy("doc_id", "tile")

  /** Per-image pixel statistics over the REAL decoded raster —
    * sum/min/max of the gray byte across EVERY pixel, the
    * brightness/degenerate-image screen of a vision-data pipeline
    * (all-black / all-white / constant images are filtered before
    * training). Unlike [[decodeImageMeta]] (header-verifiable) and
    * like [[resizeImages]], this proves the decoder touched the full
    * raster: the oracle predicts the exact sum from the staged
    * gradient formula, so a header-only or sampled implementation
    * cannot pass. Cost is one w·h sweep per image.
    */
  def pixelStats(images: DataFrame): DataFrame =
    perImage(images, pixelStatsSchema) { (id, g) =>
      var sum = 0L
      var mn = 255
      var mx = 0
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w) {
          val v = g(x, y)
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, g.w, g.h, sum, mn, mx))
    }

  /** Horizontal gradient energy over the REAL decode — the
    * sharpness/blur QA screen (a Tenengrad-style focus measure,
    * restricted to the x-gradient so it is integer-exact): the sum of
    * |p(x+1,y) − p(x,y)| over every horizontally adjacent pixel pair,
    * plus the mean per pair. Blurry or flat renders score low; the
    * staged ramp pattern gives a closed-form oracle.
    */
  def gradientEnergy(images: DataFrame): DataFrame =
    perImage(images, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("n_pairs", LongType, nullable = false),
        StructField("grad_sum", LongType, nullable = false)))) { (id, g) =>
      var gs = 0L
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w - 1) {
          gs += math.abs(g(x + 1, y) - g(x, y)).toLong
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, g.w, g.h, (g.w - 1).toLong * g.h, gs))
    }.withColumn("mean_grad",
        when(col("n_pairs") > 0L, round(col("grad_sum").cast("double")
          / col("n_pairs").cast("double"), 9)).otherwise(lit(0.0d)))
      .orderBy("doc_id")

  /** Schema of a per-image border/interior brightness record. */
  val borderContrastSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("border_sum", LongType, nullable = false),
    StructField("n_border", LongType, nullable = false),
    StructField("interior_sum", LongType, nullable = false),
    StructField("n_interior", LongType, nullable = false)))

  /** Border-vs-interior brightness contrast over the REAL decode — the
    * letterbox/frame screen of image curation: a padded or framed
    * image shows a border ring whose mean brightness diverges hard
    * from its interior, and those frames poison both perceptual
    * hashing (the ring dominates the [[imageDHash]] gradient grid) and
    * training crops. Border = the 1-px outer ring; images too small
    * to have an interior (w ≤ 2 or h ≤ 2) emit a NULL interior mean
    * and a 0 contrast on both engines. One decode pass per image with
    * integer ring/interior sums; means and their difference are
    * round-6 doubles computed from the exact integers, the contrast
    * from the ROUNDED means so all three emitted numbers round-trip.
    */
  def borderContrast(images: DataFrame): DataFrame = {
    val raw = perImage(images, borderContrastSchema) { (id, g) =>
      var bs = 0L; var bn = 0L; var is = 0L; var in = 0L
      var y = 0
      while (y < g.h) {
        var x = 0
        while (x < g.w) {
          val v = g(x, y).toLong
          if (x == 0 || x == g.w - 1 || y == 0 || y == g.h - 1) {
            bs += v; bn += 1L
          } else { is += v; in += 1L }
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, g.w, g.h, bs, bn, is, in))
    }
    val bm = round(col("border_sum").cast("double")
      / col("n_border").cast("double"), 6)
    val im = round(col("interior_sum").cast("double")
      / col("n_interior").cast("double"), 6)
    raw.select(col("doc_id"), col("width"), col("height"),
      bm.as("border_mean"),
      when(col("n_interior") > 0L, im).as("interior_mean"),
      when(col("n_interior") > 0L, round(bm - im, 6)).otherwise(lit(0.0d))
        .as("contrast"))
      .orderBy("doc_id")
  }

  /** Schema of a per-image perceptual-hash record. */
  val imageDHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("dhash", StringType)))

  /** Per-image difference hash (dHash) over the REAL decoded raster —
    * THE standard perceptual fingerprint for image near-dup detection
    * (re-encoded / slightly-cropped copies keep their gradient signs
    * while byte-level hashes shatter). A 9×8 nearest-neighbor sample
    * grid ([[resizeImages]]'s ⌊i·w/9⌋ mapping — pure integer
    * arithmetic, so the oracle can predict every sampled gray value
    * from the staged gradient formula), bit (y·8+x) set iff the right
    * neighbor is strictly brighter; emitted as a 16-hex-char string
    * (MSB-first), which sidesteps signed-BIGINT overflow on bit 63 in
    * the oracle engine and reads as a fingerprint. Downstream, 64-bit
    * Hamming banding (the [[DedupOps.simhash]] pigeonhole machinery)
    * turns the hash column into bounded near-dup candidate joins at
    * corpus scale. Cost is decode + 72 samples per image.
    */
  def imageDHash(images: DataFrame): DataFrame =
    perImage(images, imageDHashSchema) { (id, g) =>
      var hash = 0L
      var y = 0
      while (y < 8) {
        val sy = y * g.h / 8
        var x = 0
        while (x < 8) {
          if (g((x + 1) * g.w / 9, sy) > g(x * g.w / 9, sy)) hash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, g.w, g.h, f"$hash%016x"))
    }

  /** Perceptual near-duplicate image pairs: [[imageDHash]] fingerprints
    * joined through the generic 4×16-bit banded Hamming machinery
    * ([[DedupOps.bandedHamming64]] — pigeonhole-EXACT for distance
    * ≤ 3, one bounded equi-join, no all-pairs stage). This is the
    * image twin of SimHash text dedup: re-encoded or slightly-altered
    * copies keep their gradient-sign structure, and — as the staged
    * corpus itself shows — degenerate constant images (1-pixel-wide
    * renders, blank thumbnails) all collapse to hash 0 and surface as
    * an exact-dup clique a vision pipeline must catch before
    * training. The hex fingerprint splits into two 32-bit halves for
    * the long rebuild (a single 64-bit hex parse would overflow the
    * signed cast).
    */
  def imageNearDup(images: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = imageDHash(images).select(col("doc_id"),
      shiftleft(conv(substring(col("dhash"), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(col("dhash"), 9, 8), 16, 10).cast("long"))
        .as("h"))
    DedupOps.bandedHamming64(sig, maxHamming).orderBy("doc_a", "doc_b")
  }

  /** Cross-modal caption-integrity census — the join a multimodal
    * corpus build runs BETWEEN its two dedup modalities: every
    * perceptual image near-dup pair ([[imageNearDup]] — REAL PNG
    * decode, banded Hamming) scored by how much its two CAPTIONS
    * agree (exact canonical-token fingerprint equality plus the
    * distinct-token Jaccard). A duplicated image whose captions
    * diverge is a labeling conflict (keep one caption? flag the pair?
    * a training example teaching two answers for one input); text
    * dedup alone never sees it because the captions are NOT near-dups
    * of each other.
    *
    * Scale shape: the pair list is candidate-scale (banded Hamming
    * equi-join, pigeonhole-exact ≤ maxHamming); each caption join is
    * keyed on doc_id with the pair side candidate-scale (AQE
    * broadcasts it), so the corpus-scale caption table never
    * self-joins and token arrays ride only on matched rows. Jaccard
    * is per-row array arithmetic over the engine-shared tokenizer
    * ([[TextOps.toksCol]]), two empty captions score 1.0, and the
    * ratio rounds to 6 dp on both engines.
    */
  def captionIntegrity(images: DataFrame, documents: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val pairs = imageNearDup(images, maxHamming)
    // tokenize once: the Jaccard token set and the fingerprint read
    // the same staged array
    val caps = documents.select(col("doc_id"), TextOps.toksCol.as("__t"))
      .select(col("doc_id"),
        array_distinct(col("__t")).as("toks"),
        md5(array_join(col("__t"), " ")).as("fp"))
    val inter = size(array_intersect(col("toks_a"), col("toks_b")))
    val uni = size(col("toks_a")) + size(col("toks_b")) - inter
    pairs
      .join(caps.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        col("fp").as("fp_a")), "doc_a")
      .join(caps.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        col("fp").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        (col("fp_a") === col("fp_b")).as("same_caption"),
        when(uni === 0, lit(1.0d))
          .otherwise(round(inter.cast("double") / uni.cast("double"), 6))
          .as("caption_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Schema of a per-clip PCM sample-statistics record (full-stream
    * 16-bit sample stats over the REAL decoded audio).
    */
  val audioStatsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("s_sum", LongType),
    StructField("s_min", IntegerType),
    StructField("s_max", IntegerType)))

  /** Per-clip band energy over the REAL PCM decode — the clip split
    * into `bands` equal sample ranges, each reporting its sample count
    * and Σv² energy: the silence/clipping LOCALIZATION probe
    * ([[audioStats]] sees a whole-clip min/max; this sees "the last
    * quarter is dead air", the trim signal an audio-curation pass
    * acts on). Energy accumulates in exact BIGINTs (|v| ≤ 2¹⁵ →
    * v²·samples far under 2⁶³) and band assignment is positive integer
    * division (floor = truncate on both engines). ≤`bands` rows out
    * per clip.
    */
  def audioBandEnergy(audio: DataFrame, bands: Int = 4): DataFrame =
    perClip(audio, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("band", IntegerType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("energy", LongType, nullable = false)))) { (id, p) =>
      val ns = p.s.length
      val e = new Array[Long](bands)
      val c = new Array[Long](bands)
      var j = 0
      while (j < ns) {
        val v = p.s(j)
        val b = j * bands / ns
        e(b) += v.toLong * v
        c(b) += 1L
        j += 1
      }
      (0 until bands).iterator.filter(c(_) > 0L).map(b => Row(id, b, c(b), e(b)))
    }.orderBy("doc_id", "band")

  /** Per-clip PCM sample statistics over the REAL decoded audio
    * stream — sum/min/max of every sample, the loudness/degenerate-clip
    * screen of an audio pipeline (silence and clipping are both
    * filtered before training). The audio twin of [[pixelStats]]: the
    * oracle predicts the exact sample sum from the staged PCM byte
    * formula, so a header-only decode cannot pass — this proves
    * `javax.sound.sampled` streamed the actual sample data.
    */
  def audioStats(audio: DataFrame): DataFrame =
    perClip(audio, audioStatsSchema) { (id, p) =>
      var sum = 0L
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var j = 0
      while (j < p.s.length) {
        val v = p.s(j)
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        j += 1
      }
      Iterator.single(Row(id, p.s.length.toLong, sum, mn, mx))
    }

  /** Zero-crossing census over the REAL PCM decode — ZCR is the
    * cheapest voiced/unvoiced + noisiness feature an audio-curation
    * pass computes (white noise crosses ~every other sample; a pure
    * low tone barely crosses), and it is integer-exact: the count of
    * adjacent sample pairs whose (v ≥ 0) signs differ, over the same
    * linear sample walk as [[audioStats]], so the DuckDB oracle
    * predicts it sample-for-sample from the staged PCM formula. The
    * final rate divides by (n−1) behind a round(…,9) barrier. One row
    * per clip; a clip needs two samples to have a pair.
    */
  def audioZcr(audio: DataFrame): DataFrame =
    perClip(audio, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("n_cross", LongType, nullable = false)))) { (id, p) =>
      val ns = p.s.length
      require(ns >= 2, s"doc $id: PCM stream has $ns sample(s) — " +
        "fewer than two complete 16-bit samples")
      var cross = 0L
      var j = 1
      while (j < ns) {
        if ((p.s(j) >= 0) != (p.s(j - 1) >= 0)) cross += 1L
        j += 1
      }
      Iterator.single(Row(id, ns.toLong, cross))
    }
      // the rate divides OUTSIDE the decode kernel, through the same
      // column-level round the oracle uses (JVM-side BigDecimal
      // rounding of a double risks last-bit drift vs engine round)
      .withColumn("zcr", round(col("n_cross").cast("double")
        / (col("n_samples") - 1).cast("double"), 9))
      .orderBy("doc_id")

  /** Clipping census over the real PCM decode — the standard audio-QA
    * gate (a clipped recording saturates the 16-bit range; its
    * spectrum is garbage for any downstream model, and no later
    * normalization can undo it). Counts samples with |v| ≥ `threshold`
    * (near full scale, default 30000 of ±32768) per document —
    * integer-exact, so the oracle predicts every count from the
    * staged PCM formula. One row per clip.
    */
  def audioClipping(audio: DataFrame, threshold: Int = 30000): DataFrame =
    perClip(audio, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("n_clipped", LongType, nullable = false)))) { (id, p) =>
      var clipped = 0L
      var j = 0
      while (j < p.s.length) {
        val v = p.s(j)
        if (v >= threshold || v <= -threshold) clipped += 1L
        j += 1
      }
      Iterator.single(Row(id, p.s.length.toLong, clipped))
    }.withColumn("clip_ratio", round(col("n_clipped").cast("double")
        / col("n_samples").cast("double"), 9))
      .orderBy("doc_id")

  /** Silence census over the real PCM decode — the trim/VAD
    * preprocessing gate: leading and trailing run lengths of samples
    * under `threshold` absolute amplitude (what a trimmer would cut)
    * plus the total silent-sample count (what a voice-activity
    * screen reads). Integer-exact over the decoded stream, so the
    * oracle predicts every count from the staged PCM formula; one row
    * per clip — the same single decode pass shape as
    * [[audioZcr]]/[[audioClipping]].
    */
  def audioSilence(audio: DataFrame, threshold: Int = 4096): DataFrame =
    perClip(audio, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("lead_silence", LongType, nullable = false),
        StructField("trail_silence", LongType, nullable = false),
        StructField("n_silent", LongType, nullable = false)))) { (id, p) =>
      val ns = p.s.length
      var silent = 0L
      var firstLoud = -1
      var lastLoud = -1
      var j = 0
      while (j < ns) {
        val v = p.s(j)
        if (v > -threshold && v < threshold) silent += 1L
        else { if (firstLoud < 0) firstLoud = j; lastLoud = j }
        j += 1
      }
      val lead = if (firstLoud < 0) ns.toLong else firstLoud.toLong
      val trail = if (lastLoud < 0) ns.toLong else (ns - 1 - lastLoud).toLong
      Iterator.single(Row(id, ns.toLong, lead, trail, silent))
    }.orderBy("doc_id")

  /** Schema of a resampled-audio record: source frame count, target
    * point count, and a digest of the RESAMPLED channel-0 amplitudes
    * (proof the resample ran over decoded PCM, not just the header).
    */
  val audioResampleSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_frames", LongType),
    StructField("out_n", IntegerType),
    StructField("rs_sum", LongType)))

  /** REAL audio resample over the decoded PCM stream — the audio leg
    * of [[resizeImages]]: nearest-neighbor down/up-sample of channel 0
    * to a fixed `outN` points (source frame ⌊j·f/outN⌋ — pure integer
    * arithmetic, so the digest is engine- and platform-exact), summed
    * into one signed digest. The fixed-length, fixed-rate clip grid is
    * the batch-inference preprocessing shape for audio models; the
    * oracle predicts every sampled amplitude from the staged PCM
    * formula, so a header-only decode cannot pass.
    */
  def resampleAudio(audio: DataFrame, outN: Int = 64): DataFrame =
    perClip(audio, audioResampleSchema) { (id, p) =>
      val f = p.s.length / p.channels
      var sum = 0L
      var j = 0
      while (j < outN) {
        sum += p.s((j * f / outN) * p.channels)
        j += 1
      }
      Iterator.single(Row(id, f.toLong, outN, sum))
    }

  /** Schema of a per-clip audio fingerprint record. */
  val audioDHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("ahash", StringType)))

  /** Per-clip audio difference hash over the REAL decoded PCM stream —
    * the audio leg of the perceptual-fingerprint family ([[imageDHash]]
    * for images, SimHash for text): 65 nearest-neighbor sample points
    * (`⌊i·n/65⌋`, the [[resizeImages]] integer mapping — a clip
    * resampled or padded keeps its coarse amplitude CONTOUR), bit i
    * set iff the next sampled amplitude is strictly louder. Emitted as
    * the same 16-hex MSB-first string as the image hash so
    * [[DedupOps.bandedHamming64]] consumes either family unchanged.
    * The oracle predicts every sampled amplitude from the staged PCM
    * formula, so a header-only decode cannot pass.
    */
  def audioDHash(audio: DataFrame): DataFrame =
    perClip(audio, audioDHashSchema) { (id, p) =>
      val n = p.s.length
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (p.s((i + 1) * n / 65) > p.s(i * n / 65)) hash |= 1L << i
        i += 1
      }
      Iterator.single(Row(id, n.toLong, f"$hash%016x"))
    }

  /** Schema of a decoded audio record: header-readable quantities
    * only (`pcm_bytes` = frames · channels · 2 for 16-bit PCM — the
    * decode-verifiable decoded size, analogous to
    * [[decodeImageMeta]]'s w·h·3).
    */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("pcm_bytes", LongType)))

  /** REAL audio decode over (doc_id, content) binary rows: sample
    * rate, channel count and frame length read from the WAV RIFF
    * header with the JDK's `javax.sound.sampled` (no external libs).
    */
  def decodeAudioMeta(audio: DataFrame): DataFrame =
    perDoc(audio, audioMetaSchema) { (id, bytes) =>
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength.toLong
      require(frames >= 0, s"headerless audio payload for doc $id")
      Iterator.single(Row(id, fmt.getSampleRate.toInt, fmt.getChannels, frames,
        frames * fmt.getChannels * 2L))
    }

  /** Schema of a decoded video record: ISO-BMFF header-readable
    * quantities only — tkhd pixel dimensions, stts-summed frame
    * count, mdhd timescale/duration. (`duration` is in media
    * timescale units; seconds = duration / timescale.)
    */
  val videoMetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("timescale", IntegerType),
    StructField("duration", LongType)))

  /** Parse ISO-BMFF (MP4) container metadata — pure byte arithmetic,
    * no codec (ISO/IEC 14496-12 box structure): width/height from
    * `moov/trak/tkhd` (16.16 fixed point), timescale/duration from
    * `mdia/mdhd`, frame count as the SUM of `stbl/stts` entry sample
    * counts. Handles 64-bit `largesize` headers and version-1
    * tkhd/mdhd (64-bit times). Returns (width, height, nFrames,
    * timescale, duration).
    */
  private[graft] def parseMp4Meta(bytes: Array[Byte]): (Int, Int, Int, Int, Long) = {
    def be16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def be32(o: Int): Long = (be16(o).toLong << 16) | be16(o + 2)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    // payload bounds of every box named `name` in [start, end)
    def findAll(name: String, start: Int, end: Int): Seq[(Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int)]
      var off = start
      while (off + 8 <= end) {
        val size0 = be32(off)
        val tp = new String(bytes, off + 4, 4, "US-ASCII")
        val (hdr, size) =
          if (size0 == 1L) (16, be64(off + 8))        // largesize
          else if (size0 == 0L) (8, (end - off).toLong) // to end of file
          else (8, size0)
        if (size < hdr || off + size > end)
          sys.error(s"corrupt '$tp' box: size $size at offset $off")
        if (tp == name) out += ((off + hdr, off + size.toInt))
        off += size.toInt
      }
      out.result()
    }
    def find(name: String, start: Int, end: Int): (Int, Int) =
      findAll(name, start, end).headOption
        .getOrElse(sys.error(s"no '$name' box in [$start, $end)"))
    val (moovS, moovE) = find("moov", 0, bytes.length)
    // select the VIDEO track: real muxers commonly order traks
    // audio-first, so "first trak" would read an audio tkhd (0×0
    // dims) and sum audio sample counts — pick the first trak whose
    // mdia/hdlr handler_type is 'vide', falling back to the first
    // trak for handler-less minimal containers
    val traks = findAll("trak", moovS, moovE)
    if (traks.isEmpty) sys.error(s"no 'trak' box in [$moovS, $moovE)")
    def handlerOf(ts: Int, te: Int): String =
      try {
        val (mdS, mdE) = find("mdia", ts, te)
        val (hS, _) = find("hdlr", mdS, mdE)
        new String(bytes, hS + 8, 4, "US-ASCII") // ver/flags 4 + pre_defined 4
      } catch { case _: RuntimeException => "" }
    val (trakS, trakE) = traks.find(t => handlerOf(t._1, t._2) == "vide")
      .getOrElse(traks.head)
    val (tkS, _) = find("tkhd", trakS, trakE)
    val whOff = tkS + (if ((bytes(tkS) & 0xff) == 1) 88 else 76)
    val width = (be32(whOff) >> 16).toInt
    val height = (be32(whOff + 4) >> 16).toInt
    val (mdiaS, mdiaE) = find("mdia", trakS, trakE)
    val (mdS, _) = find("mdhd", mdiaS, mdiaE)
    val (timescale, duration) =
      if ((bytes(mdS) & 0xff) == 1) (be32(mdS + 20).toInt, be64(mdS + 24))
      else (be32(mdS + 12).toInt, be32(mdS + 16))
    val (minfS, minfE) = find("minf", mdiaS, mdiaE)
    val (stblS, stblE) = find("stbl", minfS, minfE)
    val (stS, _) = find("stts", stblS, stblE)
    val entries = be32(stS + 4).toInt
    var frames = 0L
    var i = 0
    while (i < entries) { frames += be32(stS + 8 + i * 8); i += 1 }
    (width, height, frames.toInt, timescale, duration)
  }

  /** REAL video container-metadata decode over (doc_id, content)
    * binary rows via [[parseMp4Meta]].
    */
  def decodeVideoMeta(videos: DataFrame): DataFrame =
    perDoc(videos, videoMetaSchema) { (id, bytes) =>
      val (w, h, f, ts, dur) = parseMp4Meta(bytes)
      Iterator.single(Row(id, w, h, f, ts, dur))
    }

  /** Build one minimal-but-valid ISO-BMFF container for doc `id`:
    * ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr, minf(vmhd,
    * stbl(stsd[mp4v], stts, stsc, stsz, stco))))) + mdat. Staging
    * rule (what a correct parser must read back): w = id%128+16,
    * h = id%96+16, frames = id%24+1, timescale 12800, 512 ticks per
    * frame (25 fps). The stts table is split into TWO runs whenever
    * frames > 1, so a parser must sum entries, not echo the first
    * count.
    */
  private[graft] def buildMp4(id: Long): Array[Byte] = {
    val w = (id % 128 + 16).toInt
    val h = (id % 96 + 16).toInt
    val frames = (id % 24 + 1).toInt
    val timescale = 12800
    val delta = 512
    def bytes(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n); f(bb)
      require(bb.remaining() == 0, s"box payload underfilled ($n)")
      bb.array()
    }
    def box(tp: String, parts: Array[Byte]*): Array[Byte] = {
      val n = 8 + parts.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(n)
      bb.putInt(n).put(tp.getBytes("US-ASCII"))
      parts.foreach(bb.put); bb.array()
    }
    def matrix(b: java.nio.ByteBuffer): Unit = { // unity transform
      b.putInt(0x00010000).putInt(0).putInt(0)
      b.putInt(0).putInt(0x00010000).putInt(0)
      b.putInt(0).putInt(0).putInt(0x40000000); ()
    }
    val movieDur = frames.toLong * delta * 1000 / timescale // ms-scale mvhd
    val ftyp = box("ftyp", bytes(12) { b =>
      b.put("isom".getBytes("US-ASCII")).putInt(512)
        .put("isom".getBytes("US-ASCII")); () })
    val mvhd = box("mvhd", bytes(100) { b =>
      b.putInt(0)                    // version 0 + flags
      b.putInt(0).putInt(0)          // creation, modification (epoch 0: deterministic)
      b.putInt(1000).putInt(movieDur.toInt)
      b.putInt(0x00010000)           // rate 1.0
      b.putShort(0x0100.toShort).putShort(0) // volume, reserved
      b.putInt(0).putInt(0)          // reserved
      matrix(b)
      (0 until 6).foreach(_ => b.putInt(0)) // pre_defined
      b.putInt(2); () })             // next_track_ID
    val tkhd = box("tkhd", bytes(84) { b =>
      b.putInt(0x00000007)           // v0; enabled | in_movie | in_preview
      b.putInt(0).putInt(0).putInt(1).putInt(0) // times, track_ID, reserved
      b.putInt(movieDur.toInt).putLong(0L)
      b.putShort(0).putShort(0).putShort(0).putShort(0)
      matrix(b)
      b.putInt(w << 16).putInt(h << 16); () }) // 16.16 fixed
    val mdhd = box("mdhd", bytes(24) { b =>
      b.putInt(0).putInt(0).putInt(0)
      b.putInt(timescale).putInt(frames * delta)
      b.putShort(0x55C4.toShort).putShort(0); () }) // language 'und'
    val hdlr = box("hdlr", bytes(25) { b =>
      b.putInt(0).putInt(0).put("vide".getBytes("US-ASCII"))
      b.putInt(0).putInt(0).putInt(0).put(0.toByte); () })
    val vmhd = box("vmhd", bytes(12) { b =>
      b.putInt(1).putShort(0).putShort(0).putShort(0).putShort(0); () })
    val stsd = box("stsd",
      bytes(8) { b => b.putInt(0).putInt(1); () },
      bytes(86) { b =>                       // minimal mp4v VisualSampleEntry
        b.putInt(86).put("mp4v".getBytes("US-ASCII"))
        b.putInt(0).putShort(0)              // reserved[6]
        b.putShort(1)                        // data_reference_index
        b.putShort(0).putShort(0)            // pre_defined, reserved
        b.putInt(0).putInt(0).putInt(0)      // pre_defined[3]
        b.putShort(w.toShort).putShort(h.toShort)
        b.putInt(0x00480000).putInt(0x00480000) // 72 dpi
        b.putInt(0).putShort(1)              // reserved, frame_count
        b.put(new Array[Byte](32))           // compressorname
        b.putShort(24).putShort(0xFFFF.toShort); () })
    val stts =
      if (frames > 1) box("stts", bytes(24) { b =>
        b.putInt(0).putInt(2)
        b.putInt(frames - 1).putInt(delta).putInt(1).putInt(delta); () })
      else box("stts", bytes(16) { b =>
        b.putInt(0).putInt(1).putInt(1).putInt(delta); () })
    val stsc = box("stsc", bytes(20) { b =>
      b.putInt(0).putInt(1).putInt(1).putInt(frames).putInt(1); () })
    val stsz = box("stsz", bytes(12) { b =>
      b.putInt(0).putInt(1).putInt(frames); () }) // every sample 1 byte
    // one deterministic pseudo-payload byte per frame
    val mdatPayload = Array.tabulate[Byte](frames)(i => ((id + i * 31) % 256 - 128).toByte)
    // stco stores the ABSOLUTE file offset of the single chunk; every
    // box size above is now known, stco itself is fixed 20 bytes
    val stblInner = stsd.length + stts.length + stsc.length + stsz.length + 20
    val mdiaInner = mdhd.length + hdlr.length + (8 + vmhd.length + 8 + stblInner)
    val moovSize = 8 + mvhd.length + (8 + tkhd.length + 8 + mdiaInner)
    val chunkOffset = ftyp.length + moovSize + 8
    val stco = box("stco", bytes(12) { b =>
      b.putInt(0).putInt(1).putInt(chunkOffset); () })
    val stbl = box("stbl", stsd, stts, stsc, stsz, stco)
    val minf = box("minf", vmhd, stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    val mdat = box("mdat", mdatPayload)
    require(moov.length == moovSize, s"moov size drift: ${moov.length} vs $moovSize")
    ftyp ++ moov ++ mdat
  }

  /** Frame-sample plumbing: one row per sampled "frame" (generator
    * shape of a video pipeline) from decoded video metadata
    * ([[decodeVideoMeta]] output or anything with doc_id + n_frames)
    * — flatMap expansion with bounded fan-out, no shuffle.
    */
  def frameSample(videoMeta: DataFrame, everyNth: Int = 7): DataFrame =
    videoMeta
      .select(col("doc_id"), col("n_frames"),
        explode(expr(s"sequence(0, n_frames - 1, $everyNth)")).as("frame_idx"))
      .withColumn("frame_fp",
        md5(concat(col("doc_id").cast("string"), lit(":"), col("frame_idx").cast("string"))))
      .select("doc_id", "frame_idx", "frame_fp")
      .orderBy("doc_id", "frame_idx")
}
