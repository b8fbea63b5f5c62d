package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder-prompt north star): image/audio/
  * video as opaque `binary` columns + typed metadata structs, with
  * decode / feature-extract / resize / frame-sample as BATCHED
  * per-partition transforms — the Scala analog of `mapInPandas`
  * (vectorized UDF plumbing). Codecs are injectable via `Decoder`:
  * `ImageIoDecoder` is a REAL image codec on the JDK's `javax.imageio`
  * (PNG/BMP/GIF/JPEG); `StubDecoder` remains for synthetic payloads and
  * as the template for native audio/video codecs this container cannot
  * ship.
  *
  * Scale design: media bytes never leave the executor (mapPartitions),
  * batches amortize per-call overhead exactly like Arrow batches do for
  * Pandas UDFs, and metadata-only queries never touch the binary column
  * (columnar parquet prunes it at the scan).
  */
object Multimodal {

  /** Typed media row: opaque payload + metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  final case class Features(
      media_id: Long, kind: String, n_bytes: Int,
      sha256: String, width: Int, height: Int,
      features: Array[Float])

  /** Wrap a source table's binary column into the media schema. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast("binary").as("payload"))
      .withColumn("width", (pmod(crc32(col("payload")), lit(64)) + 32).cast("int"))
      .withColumn("height", (pmod(crc32(reverse(col("payload"))), lit(64)) + 32).cast("int"))
      .withColumn("n_frames", lit(1).cast("int"))

  /** THE CODEC CONTRACT: the one boundary a real deployment replaces.
    * Implementations must be Serializable (shipped inside the task
    * closure) and thread-safe per `open()`ed instance. `open()` runs
    * once per batch on the executor — the place to initialize a native
    * codec (JNI/ffi) — and the returned function decodes one payload to
    * a fixed-`dim` feature vector. Everything around it (batching,
    * schema, partition flow, binary-column pruning) is engine code and
    * identical for any decoder. */
  trait Decoder extends Serializable {
    def dim: Int
    def open(): Array[Byte] => Array[Float]
  }

  /** STUB DECODER — stands in for an image/audio codec (this container
    * ships no media libraries). Deterministic: folds payload bytes into
    * `dim` float accumulators, so specs pin the plumbing end to end. */
  final case class StubDecoder(dim: Int = 8) extends Decoder {
    def open(): Array[Byte] => Array[Float] = payload => {
      val acc = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        acc(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      acc
    }
  }

  /** REAL image codec on the JDK's own `javax.imageio` (PNG/BMP/GIF/
    * JPEG/WBMP — zero dependencies beyond the JDK): decodes the payload
    * and emits a fixed-`dim` feature vector
    * `[width, height, meanR, meanG, meanB, meanLuma, stddevLuma,
    * fracBright]` (channel means normalized to 0..1, fracBright =
    * fraction of sampled pixels with luma > 0.5; truncated / zero-padded
    * to `dim`). Undecodable payloads (ImageIO.read → null) yield an
    * all-zero vector instead of failing the batch — the skip-don't-crash
    * discipline a corpus-scale decode job needs (count them with
    * `array_max(features) = 0` downstream). The pixel scan is bounded:
    * images beyond ~1M pixels are strided in both axes, so per-row cost
    * is O(1M) samples regardless of image size. A fresh decode closure
    * per `open()` (per batch) — ImageReader state is not shareable
    * across threads. */
  final case class ImageIoDecoder(dim: Int = 8) extends Decoder {
    def open(): Array[Byte] => Array[Float] = {
      javax.imageio.ImageIO.setUseCache(false) // no executor-disk temp files
      payload => {
        val out = new Array[Float](dim)
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          catch { case _: java.io.IOException => null }
        if (img != null && img.getWidth > 0 && img.getHeight > 0) {
          val (w, h) = (img.getWidth, img.getHeight)
          // stride so sampled pixels ≤ ~1M: bounded work on any image
          val step = math.max(1L, math.round(math.sqrt(w.toLong * h / 1e6))).toInt
          var (sr, sg, sb, sl, sll) = (0.0, 0.0, 0.0, 0.0, 0.0)
          var bright = 0L
          var n = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = ((rgb >> 16) & 0xff) / 255.0
              val g = ((rgb >> 8) & 0xff) / 255.0
              val b = (rgb & 0xff) / 255.0
              val luma = 0.299 * r + 0.587 * g + 0.114 * b
              sr += r; sg += g; sb += b; sl += luma; sll += luma * luma
              if (luma > 0.5) bright += 1
              n += 1
              x += step
            }
            y += step
          }
          val mean = sl / n
          val feats = Array(
            w.toFloat, h.toFloat,
            (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
            mean.toFloat,
            math.sqrt(math.max(0.0, sll / n - mean * mean)).toFloat,
            bright.toFloat / n)
          System.arraycopy(feats, 0, out, 0, math.min(dim, feats.length))
        }
        out
      }
    }
  }

  /** REAL audio codec on the JDK's `javax.sound.sampled` (WAV/AIFF/AU
    * PCM — zero dependencies beyond the JDK): decodes the payload and
    * emits `[sampleRate, channels, nFrames, meanAbs, rms, peak,
    * zeroCrossRate, silenceFrac]` (amplitudes normalized to −1..1;
    * channels averaged per frame; truncated / zero-padded to `dim`).
    * Supports 16-bit signed and 8-bit unsigned PCM natively, plus
    * µ-law / A-law telephony encodings through the JDK's own codec SPI
    * (converted to 16-bit PCM before the scan) — no external plugins.
    * Undecodable
    * payloads yield the zero vector (skip-don't-crash, as with
    * `ImageIoDecoder`). Frame scan strided past ~1M frames so per-row
    * cost is bounded on any clip length. */
  final case class WavDecoder(dim: Int = 8) extends Decoder {
    def open(): Array[Byte] => Array[Float] = payload => {
      val out = new Array[Float](dim)
      try {
        val ais0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        // non-PCM telephony encodings (µ-law / A-law WAV or AU) convert
        // through the JDK's own codec SPI to 16-bit signed PCM — same
        // zero-dependency posture as the PCM path; everything below
        // then reads the CONVERTED stream's format
        val enc0 = ais0.getFormat.getEncoding
        val ais =
          if (enc0 == javax.sound.sampled.AudioFormat.Encoding.ULAW ||
              enc0 == javax.sound.sampled.AudioFormat.Encoding.ALAW) {
            val f0 = ais0.getFormat
            javax.sound.sampled.AudioSystem.getAudioInputStream(
              new javax.sound.sampled.AudioFormat(
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
                f0.getSampleRate, 16, f0.getChannels, f0.getChannels * 2,
                f0.getSampleRate, false),
              ais0)
          } else ais0
        val fmt = ais.getFormat
        val bits = fmt.getSampleSizeInBits
        val ch = fmt.getChannels
        val bytesPerFrame = fmt.getFrameSize
        val ok = (bits == 16 &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) ||
          (bits == 8 &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED)
        if (ok && bytesPerFrame > 0) {
          val bytes = ais.readAllBytes()
          val nFrames = bytes.length / bytesPerFrame
          val step = math.max(1, nFrames / 1000000) // bound sampled frames
          var (sAbs, sSq) = (0.0, 0.0)
          var peak = 0.0
          var (zc, silent, n) = (0L, 0L, 0L)
          var prevPos = true
          var f = 0
          while (f < nFrames) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val off = f * bytesPerFrame + c * (bits / 8)
              acc += (if (bits == 16) {
                val lo = bytes(off) & 0xff
                val hi = bytes(off + 1)
                val v = if (fmt.isBigEndian) ((bytes(off) << 8) | (bytes(off + 1) & 0xff))
                        else ((hi << 8) | lo)
                v / 32768.0
              } else ((bytes(off) & 0xff) - 128) / 128.0)
              c += 1
            }
            val x = acc / ch
            val ax = math.abs(x)
            sAbs += ax; sSq += x * x
            if (ax > peak) peak = ax
            if (ax < 0.01) silent += 1
            val pos = x >= 0
            if (n > 0 && pos != prevPos) zc += 1
            prevPos = pos
            n += 1
            f += step
          }
          if (n > 0) {
            val feats = Array(
              fmt.getSampleRate, ch.toFloat, nFrames.toFloat,
              (sAbs / n).toFloat, math.sqrt(sSq / n).toFloat, peak.toFloat,
              zc.toFloat / n, silent.toFloat / n)
            System.arraycopy(feats, 0, out, 0, math.min(dim, feats.length))
          }
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException | _: java.io.IOException => ()
      }
      out
    }
  }

  /** Batched feature extraction: one pass per partition, `batchSize`
    * rows decoded per inner batch (the mapInPandas batch analog), codec
    * opened once per batch via `decoder.open()`. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      decoder: Decoder = StubDecoder(), batchSize: Int = 256): Dataset[Features] = {
    import spark.implicits._
    media.select("media_id", "kind", "payload", "width", "height")
      .as[(Long, String, Array[Byte], Int, Int)]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val decode = decoder.open() // codec init once per batch
          batch.iterator.map { case (id, kind, payload, w, h) =>
            val sha = java.security.MessageDigest.getInstance("SHA-256")
              .digest(payload).map("%02x".format(_)).mkString
            Features(id, kind, payload.length, sha, w, h, decode(payload))
          }
        }
      }
  }

  /** "Resize": deterministic payload down-sampling (every k-th byte) —
    * the shape of a real resize kernel without the codec. */
  def resample(spark: SparkSession, media: DataFrame, stride: Int): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        (id, p.indices.collect { case i if i % stride == 0 => p(i) }.toArray)
      })
      .toDF("media_id", "payload_small")
  }

  /** Frame sampling over MULTI-FRAME containers — the video
    * frame-sample operator, with animated GIF as the JDK-native
    * container (`ImageReader`'s image-sequence API; a real video
    * backend slots in behind the same seam with the identical row
    * shape). Each payload explodes into `(media_id, frame_idx, width,
    * height, frame_png)` rows: every `stride`-th container frame, at
    * most `maxFrames` per doc (the per-row work bound — a pathological
    * million-frame file cannot monopolize a task), re-encoded PNG so
    * each row composes directly with the single-frame ops
    * (`extractFeatures(ImageIoDecoder)` on `frame_png`). Frames are
    * the container's raw frames (no disposal-method compositing —
    * feature extraction wants content samples, not playback fidelity).
    * Fully narrow flatMap: no shuffle, undecodable payloads contribute
    * zero rows (skip-don't-crash), reader disposed per payload. */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Int = 1,
      maxFrames: Int = 64, maxPixels: Long = DefaultMaxPixels): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, payload) =>
          val frames = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Int, Int, Array[Byte])]
          // same skip-don't-crash surface as decodeBounded: header
          // dimensions gate each frame BEFORE its buffer allocates,
          // and any plugin throw (NonFatal, not just IOException —
          // JDK readers raise RuntimeExceptions on crafted payloads)
          // skips the frame/payload instead of failing the task.
          val iis =
            try javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(payload))
            catch { case scala.util.control.NonFatal(_) => null }
          if (iis != null) {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (readers.hasNext) {
              val reader = readers.next()
              try {
                reader.setInput(iis)
                val n =
                  try reader.getNumImages(true)
                  catch { case scala.util.control.NonFatal(_) => 0 }
                var i = 0
                while (i < n && frames.length < maxFrames) {
                  val img =
                    try {
                      val w = reader.getWidth(i).toLong
                      val h = reader.getHeight(i).toLong
                      if (w <= 0 || h <= 0 || w * h > maxPixels) null
                      else reader.read(i)
                    } catch { case scala.util.control.NonFatal(_) => null }
                  if (img != null) {
                    val baos = new java.io.ByteArrayOutputStream()
                    javax.imageio.ImageIO.write(img, "png", baos)
                    frames += ((id, i, img.getWidth, img.getHeight,
                      baos.toByteArray))
                  }
                  i += stride
                }
              } finally { reader.dispose(); iis.close() }
            } else iis.close()
          }
          frames
        }
      }.toDF("media_id", "frame_idx", "width", "height", "frame_png")
  }

  /** Metadata-only projection — must prune the binary column at the
    * parquet scan (assert via .explain: ReadSchema excludes payload). */
  def metaOnly(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"), col("width"), col("height"))

  /** Perceptual image hashes — dHash (gradient) and aHash (average),
    * the public-knowledge 64-bit fingerprints every image-dedup
    * pipeline keys on, JDK-only (`javax.imageio` decode + manual
    * box-average downsample, no AWT scaler — `Graphics2D` scaling is
    * platform-dependent; this arithmetic is deterministic everywhere):
    *
    *  - grayscale luma (0.299 R + 0.587 G + 0.114 B) box-averaged to a
    *    9×8 grid (dHash) / 8×8 grid (aHash) — cell rectangles scale
    *    with the image, so a resized or re-encoded copy averages
    *    (approximately) the same content and lands on the same bits;
    *    per-image work is bounded by the ≤ ~1M-sampled-pixels stride
    *    rule regardless of resolution;
    *  - dHash bit y·8+x = cell(x+1, y) > cell(x, y) (horizontal
    *    gradient sign); aHash bit y·8+x = cell(x, y) > mean of the 64
    *    cells. Gradient/mean comparisons absorb the small pixel noise
    *    JPEG re-encoding introduces — equality-of-bytes dedup cannot.
    *
    * Undecodable payloads yield NULL hashes (skip-don't-crash;
    * [[imageNearDup]] drops them). Narrow mapPartitions — bytes never
    * leave the executor, exactly [[extractFeatures]]' flow. */
  def imageHashes(spark: SparkSession, media: DataFrame,
      maxPixels: Long = DefaultMaxPixels): DataFrame = {
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, payload) =>
          val (dh, ah) = hashPayload(payload, maxPixels)
          (id, dh, ah)
        }
      }.toDF("media_id", "dhash", "ahash")
  }

  /** Decode + dHash/aHash ONE payload — [[imageHashes]]' per-row core,
    * factored so callers that must thread extra columns through the
    * hash (the streaming intake carries its event-time column) share
    * the exact bit semantics instead of a re-implementation. (None,
    * None) = undecodable/oversized payload (skip-don't-crash). */
  private[graft] def hashPayload(payload: Array[Byte],
      maxPixels: Long = DefaultMaxPixels): (Option[Long], Option[Long]) = {
    val img = decodeBounded(payload, maxPixels)
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      (Option.empty[Long], Option.empty[Long])
    else {
      val d = grayGrid(img, 9, 8)
      var dhash = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (d(y * 9 + x + 1) > d(y * 9 + x))
            dhash |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      val a = grayGrid(img, 8, 8)
      var mean = 0.0
      var i = 0
      while (i < 64) { mean += a(i); i += 1 }
      mean /= 64.0
      var ahash = 0L
      i = 0
      while (i < 64) {
        if (a(i) > mean) ahash |= 1L << i
        i += 1
      }
      (Some(dhash), Some(ahash))
    }
  }

  /** The default decode-size ceiling (pixels): 32M covers every real
    * photo format through 8K stills at ~128 MB of INT_RGB buffer,
    * while a decompression bomb (a few-KB payload declaring a
    * billion-pixel canvas) is rejected from its HEADER. */
  val DefaultMaxPixels: Long = 32000000L

  /** Decode `payload` to a BufferedImage, or null when it is
    * undecodable OR declares more than `maxPixels` pixels. The
    * declared dimensions are read from the container header
    * (`ImageReader.getWidth/getHeight`) BEFORE the full-frame buffer
    * allocates, so a decompression-bomb payload yields a NULL hash
    * instead of an executor OOM — and ANY decoder throw is a skip,
    * never a task failure: JDK image plugins raise RuntimeExceptions
    * (CMMException, IllegalArgumentException, IndexOutOfBounds) on
    * crafted/truncated payloads, not just IOException, so the catch
    * is NonFatal, the documented skip-don't-crash contract. */
  private def decodeBounded(payload: Array[Byte],
      maxPixels: Long): java.awt.image.BufferedImage = {
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (iis == null) null
    else try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) null
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val w = reader.getWidth(0).toLong
          val h = reader.getHeight(0).toLong
          if (w <= 0 || h <= 0 || w * h > maxPixels) null
          else reader.read(0)
        } catch { case scala.util.control.NonFatal(_) => null }
        finally reader.dispose()
      }
    } finally iis.close()
  }

  /** Luma box-average of `img` onto a `gw`×`gh` grid (row-major
    * `gy·gw + gx`): each cell averages its FULL pixel rectangle —
    * point-subsampling jitters cell means enough to flip
    * borderline comparison bits between a base image and its resized
    * copy, defeating the whole hash. Work stays bounded on any
    * resolution via [[ImageIoDecoder]]'s stride rule (≤ ~1M sampled
    * pixels per image, strided consistently from each cell's origin —
    * deterministic). */
  private def grayGrid(img: java.awt.image.BufferedImage,
      gw: Int, gh: Int): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val step =
      math.max(1L, math.round(math.sqrt(w.toLong * h / 1e6))).toInt
    val out = new Array[Double](gw * gh)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        var acc = 0.0
        var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            acc += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            n += 1
            x += step
          }
          y += step
        }
        out(gy * gw + gx) = acc / n
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Image-content near-dup pairs: [[imageHashes]] (dHash by default —
    * the more re-encode-robust of the two) feeding [[graft.ext.Dedup
    * .hammingNearDup]]'s 4×16 banding + exact Hamming verification
    * VERBATIM — the SimHash near-dup machinery, swapped onto pixel
    * signatures. Pigeonhole-complete for Hamming ≤ 3 up to the
    * mega-bucket cap (solid-color corpora collapse into one bucket —
    * cap + observe, the q99 discipline). Undecodable payloads drop.
    * `maxBucket` defaults to 0 = census-derived (the
    * [[graft.ext.Dedup.hammingNearDup]] in-plan rule — the fixed
    * default was measured below the mean bucket size at 2M
    * signatures, silently losing recall). */
  def imageNearDup(spark: SparkSession, media: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 0, useAhash: Boolean = false,
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    graft.ext.Dedup.hammingNearDup(spark,
      imagePacked(spark, media, useAhash), maxDist, maxBucket, capMetrics)
  }

  /** Image near-dup on the COMBINED 128-bit perceptual signature
    * (lo = dHash, hi = aHash) through [[graft.ext.Dedup
    * .hammingNearDup]]'s 4×32-bit banding — the corpus-wide batch
    * shape for image dedup past the 64-bit form's ~4M-signature
    * band-saturation boundary (see [[graft.ext.Dedup
    * .hammingNearDup]]'s SCALE BOUNDARY note). One decode pass
    * yields both hashes, so the signature costs nothing extra.
    * Semantics: `maxDist` spans BOTH hashes — a pair must survive the
    * gradient test and the global-brightness test TOGETHER, so at the
    * same maxDist this is a strictly STRICTER (higher-precision,
    * lower-recall) test than [[imageNearDup]]'s single-hash one. The
    * radius canNOT be widened to compensate: the 4-band LSH is
    * pigeonhole-complete only for Hamming ≤ 3 (enforced by
    * [[graft.ext.Dedup.hammingNearDup]]'s `require` — at maxDist
    * 4+ a pair whose differing bits span all four bands would be
    * silently dropped). Callers who want the 64-bit form's looser
    * tolerance should use [[imageNearDup]]; this form is for
    * precision AND the >4M-signature scale path. Rows where either
    * hash is NULL drop (undecodable payloads). */
  def imageNearDup128(spark: SparkSession, media: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 0,
      capMetrics: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    graft.ext.Dedup.hammingNearDup(spark, imagePacked128(spark, media),
      maxDist, maxBucket, capMetrics)

  private def imagePacked(spark: SparkSession, media: DataFrame,
      useAhash: Boolean): DataFrame = {
    val hcol = if (useAhash) "ahash" else "dhash"
    imageHashes(spark, media)
      .filter(col(hcol).isNotNull)
      .select(col("media_id").as("doc_id"), col(hcol).as("packed"))
  }

  /** The 128-bit perceptual signature frame `(doc_id, lo = dHash,
    * hi = aHash)` — [[imageNearDup128]]'s input, factored so the
    * persisted-index forms below share it. One decode pass yields both
    * hashes; rows where either is NULL drop (undecodable payloads). */
  private def imagePacked128(spark: SparkSession, media: DataFrame): DataFrame =
    imageHashes(spark, media)
      .filter(col("dhash").isNotNull && col("ahash").isNotNull)
      .select(col("media_id").as("doc_id"), col("dhash").as("lo"),
        col("ahash").as("hi"))

  /** Persist an image-content dedup index ([[graft.ext.Dedup
    * .writeHammingIndex]] over [[imageHashes]]) — hash once at crawl
    * time, intake forever: arriving images check against the indexed
    * corpus without re-decoding a single seen image. */
  def writeImageHashIndex(spark: SparkSession, media: DataFrame,
      path: String, useAhash: Boolean = false): Unit =
    graft.ext.Dedup.writeHammingIndex(spark,
      imagePacked(spark, media, useAhash), path)

  /** Image near-dup intake at crawl time: decode + hash the ARRIVING
    * batch only, pair against a [[writeImageHashIndex]] directory
    * ([[graft.ext.Dedup.hammingIntake]] — indexed side scanned, never
    * shuffled or re-decoded). Output (a_id = arrival media_id,
    * b_id = indexed media_id, hamming). */
  def imageDupIntake(spark: SparkSession, media: DataFrame, path: String,
      maxDist: Int = 3, maxBucket: Int = 0,
      useAhash: Boolean = false): DataFrame =
    graft.ext.Dedup.hammingIntake(spark,
      imagePacked(spark, media, useAhash), path, maxDist, maxBucket)

  /** Image ADMISSION at crawl time — [[imageDupIntake]]'s pair stream
    * turned into the verdict the composed crawl intake consumes
    * ([[graft.ext.Dedup.hammingIntakeAdmit]] over [[imageHashes]]):
    * exact dedup within the arriving batch (first media_id per
    * identical hash wins), then survivors with NO indexed signature
    * within `maxDist` admit. Arriving images decode ONCE; the indexed
    * corpus is never re-decoded. Output `(media_id, packed)` — the
    * admitted rows' hashes; append them with [[appendImageHashIndex]]
    * (which restores the index's `doc_id` column name) so the next
    * increment sees this one. */
  def imageIntakeAdmit(spark: SparkSession, media: DataFrame, path: String,
      maxDist: Int = 3, maxBucket: Int = 0,
      useAhash: Boolean = false): DataFrame =
    graft.ext.Dedup.hammingIntakeAdmit(spark,
        imagePacked(spark, media, useAhash), path, maxDist, maxBucket)
      .select(col("doc_id").as("media_id"), col("packed"))

  /** Append admitted image hashes to a [[writeImageHashIndex]]
    * directory — the other half of the intake loop
    * ([[imageIntakeAdmit]]'s output column is `media_id`; the index
    * tables key on `doc_id`, so appending the admitted frame directly
    * would fail analysis — this is the documented bridge). */
  def appendImageHashIndex(spark: SparkSession, admitted: DataFrame,
      path: String): Unit =
    graft.ext.Dedup.appendHammingIndex(spark,
      admitted.select(col("media_id").as("doc_id"), col("packed")), path)

  /** Persist the 128-BIT image-content dedup index ([[graft.ext.Dedup
    * .writeHammingIndex]] over the combined dHash‖aHash signature —
    * [[imageNearDup128]]'s input): the build-once form whose band
    * space never saturates, for image corpora past the 64-bit index's
    * candidate-growth boundary (~O(100M) indexed signatures). Same
    * decode-once economics as [[writeImageHashIndex]] — both hashes
    * fall out of the one pixel pass. */
  def writeImageHashIndex128(spark: SparkSession, media: DataFrame,
      path: String): Unit =
    graft.ext.Dedup.writeHammingIndex(spark,
      imagePacked128(spark, media), path)

  /** 128-bit image near-dup intake at crawl time — [[imageDupIntake]]
    * on the combined signature against a [[writeImageHashIndex128]]
    * directory ([[graft.ext.Dedup.hammingIntake]]: touched-bucket
    * census guard, indexed side scanned never shuffled or re-decoded).
    * Output (a_id = arrival media_id, b_id = indexed media_id,
    * hamming over both hashes). */
  def imageDupIntake128(spark: SparkSession, media: DataFrame,
      path: String, maxDist: Int = 3, maxBucket: Int = 0): DataFrame =
    graft.ext.Dedup.hammingIntake(spark,
      imagePacked128(spark, media), path, maxDist, maxBucket)

  /** 128-bit image ADMISSION at crawl time — [[imageIntakeAdmit]] on
    * the combined dHash‖aHash signature ([[graft.ext.Dedup
    * .hammingIntakeAdmit]]): exact dedup within the arriving batch
    * (first media_id per identical signature pair wins), then
    * survivors with no indexed signature within `maxDist` (summed over
    * both hashes — the stricter, higher-precision test) admit.
    * Arrivals decode once; output `(media_id, lo, hi)` — the admitted
    * rows' signatures; append them with [[appendImageHashIndex128]]
    * so the next increment sees this one. */
  def imageIntakeAdmit128(spark: SparkSession, media: DataFrame,
      path: String, maxDist: Int = 3, maxBucket: Int = 0): DataFrame =
    imageIntakeAdmit128Tracked(spark, media, path, maxDist, maxBucket)._1
    // one-shot form: the increment-bounded signature checkpoint stays
    // until RDD GC; intake LOOPS should call the Tracked form (or
    // [[graft.ext.Corpus.crawlIntakeMixed128]], whose release covers it)

  /** [[imageIntakeAdmit128]] plus the signature checkpoint's RELEASE
    * handle. A LAZY checkpoint keeps the decode-once contract honest:
    * the admit's two consumers of the signature frame (the intake's
    * dup side and the final anti-join's left side) plan diverged
    * projections that defeat ReuseExchange on the 128-bit shape
    * (PlanSpec's q174 note), so without it every arriving payload
    * would DECODE TWICE. The first action materializes the
    * increment-bounded (media_id, lo, hi) rows once; consume the
    * admitted frame fully, then `release()` (the frame is not
    * re-computable after — checkpoint lineage is truncated). */
  def imageIntakeAdmit128Tracked(spark: SparkSession, media: DataFrame,
      path: String, maxDist: Int = 3, maxBucket: Int = 0)
      : (DataFrame, () => Unit) = {
    val (packed, blocks) = graft.ext.Dedup.checkpointTracked(
      imagePacked128(spark, media), eager = false)
    (graft.ext.Dedup.hammingIntakeAdmit(spark, packed, path, maxDist,
        maxBucket)
      .select(col("doc_id").as("media_id"), col("lo"), col("hi")),
     () => blocks.foreach(_.unpersist(blocking = false)))
  }

  /** Append admitted 128-bit image signatures to a
    * [[writeImageHashIndex128]] directory — [[appendImageHashIndex]]'s
    * twin for the non-saturating lifecycle (renames `media_id` back to
    * the index's `doc_id` before delegating, so the documented
    * admit → append intake loop composes as written). */
  def appendImageHashIndex128(spark: SparkSession, admitted: DataFrame,
      path: String): Unit =
    graft.ext.Dedup.appendHammingIndex(spark,
      admitted.select(col("media_id").as("doc_id"), col("lo"), col("hi")),
      path)

  /** Video-content near-dup via SHARED FRAMES — the multimodal stack
    * composed end to end: [[sampleFrames]] explodes each container
    * into ≤ `maxFrames` strided frames, [[imageHashes]] dHashes every
    * frame, [[graft.ext.Dedup.hammingNearDup]] finds near-dup frame
    * pairs, and the roll-up counts them per VIDEO pair — two videos
    * sharing re-encoded/resized copies of `minFrames`+ frames are
    * near-dups even when their byte streams share nothing. Output
    * `(a_id, b_id, n_frame_pairs)`, a_id < b_id.
    *
    * Scale shape: everything upstream of the banding is narrow
    * (explode → decode → hash per frame, bytes never leave the
    * executor), the banding is the capped 4×16 machinery (a static
    * title card shared by half the corpus is the mega-bucket case —
    * capped, observable), and the roll-up is one partial-aggregable
    * groupBy on video-id pairs. Frame identity rides
    * `media_id · 2²⁰ + frame_idx` (maxFrames is bounded far below
    * 2²⁰), so the frame pair stream carries flat longs. */
  def videoNearDup(spark: SparkSession, media: DataFrame,
      stride: Int = 1, maxFrames: Int = 64, maxDist: Int = 3,
      maxBucket: Int = 0, minFrames: Int = 1): DataFrame = {
    require(maxFrames < (1 << 20), s"maxFrames=$maxFrames ≥ 2^20")
    // the id side of the packing is guarded IN-PLAN (media ids are
    // data, not a parameter a require can see): an id outside
    // [0, 2^43) would overflow the ·2²⁰ shift and silently corrupt
    // pair identities after the DIV roll-up, so it raises with a
    // named error instead. One codegen'd CASE — no extra pass.
    val packedId = when(
      col("media_id") >= 0 && col("media_id") < lit(1L << 43),
      col("media_id") * (1L << 20) + col("frame_idx"))
      .otherwise(raise_error(concat(
        lit("videoNearDup: media_id outside [0, 2^43) packing range: "),
        col("media_id").cast("string"))))
    val frames = sampleFrames(spark, media, stride, maxFrames)
      .select(packedId.as("media_id"), col("frame_png").as("payload"))
    graft.ext.Dedup.hammingNearDup(spark,
        imagePacked(spark, frames, useAhash = false), maxDist, maxBucket)
      .select(expr(s"a_id DIV ${1L << 20}").as("a_id"),
        expr(s"b_id DIV ${1L << 20}").as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_frame_pairs"))
      .filter(col("n_frame_pairs") >= minFrames)
  }
}
