package graft.multimodal

import org.apache.spark.sql.functions._

import graft.pumle.SparkSpec

object MultimodalSpec {
  /** A "real codec" stand-in proving open() runs and the engine carries
    * whatever the decoder returns, untouched. Top-level so the task
    * closure doesn't capture the (non-serializable) suite. */
  final case class FakeCodec(dim: Int) extends Multimodal.Decoder {
    def open(): Array[Byte] => Array[Float] =
      payload => Array.tabulate(dim)(i =>
        if (i == 0) payload.length.toFloat else -1.0f)
  }
}

/** Binary-column plumbing: schema, batched decode, pruning. */
class MultimodalSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq((1L, "hello world"), (2L, "spark native"), (3L, "x"))
      .toDF("doc_id", "text")
  }

  test("asMedia wraps binary payload with deterministic metadata") {
    val m = Multimodal.asMedia(docs, "doc_id", "text", "image")
    assert(m.columns.toSeq ==
      Seq("media_id", "kind", "payload", "width", "height", "n_frames"))
    val r = m.orderBy("media_id").collect()
    assert(r.forall(_.getAs[Int]("width") >= 32))
    // deterministic across runs
    val again = Multimodal.asMedia(docs, "doc_id", "text", "image")
      .orderBy("media_id").collect()
    assert(r.map(_.getInt(3)).sameElements(again.map(_.getInt(3))))
  }

  test("batched feature extraction is deterministic and batch-size-invariant") {
    val m = Multimodal.asMedia(docs, "doc_id", "text", "image")
    val f1 = Multimodal.extractFeatures(spark, m, Multimodal.StubDecoder(4), batchSize = 2)
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(spark, m, Multimodal.StubDecoder(4), batchSize = 100)
      .collect().sortBy(_.media_id)
    assert(f1.length == 3)
    assert(f1.zip(f2).forall { case (a, b) =>
      a.sha256 == b.sha256 && a.features.sameElements(b.features)
    })
    // "hello world" = 11 bytes; fold of known bytes
    val hw = f1.find(_.media_id == 1L).get
    assert(hw.n_bytes == 11)
    assert(hw.sha256.startsWith("b94d27b9")) // sha256("hello world")
  }

  test("Decoder is a pluggable boundary: injected fake codec flows through") {
    val m = Multimodal.asMedia(docs, "doc_id", "text", "image")
    val f = Multimodal.extractFeatures(spark, m, MultimodalSpec.FakeCodec(3))
      .collect().sortBy(_.media_id)
    assert(f.map(_.features(0).toInt).toSeq == Seq(11, 12, 1)) // payload lengths
    assert(f.forall(r => r.features.length == 3 && r.features(1) == -1.0f))
  }

  test("ImageIoDecoder decodes a generated PNG end to end (real javax.imageio codec)") {
    import spark.implicits._
    // 2×1 PNG: left pixel pure red, right pixel pure blue
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000)
    img.setRGB(1, 0, 0x0000ff)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val rows = Seq((1L, buf.toByteArray), (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val media = Multimodal.asMedia(rows, "doc_id", "payload", "image")
    val f = Multimodal.extractFeatures(spark, media, Multimodal.ImageIoDecoder())
      .collect().sortBy(_.media_id)
    val png = f(0).features
    assert(png(0) == 2.0f && png(1) == 1.0f) // true decoded dimensions
    assert(math.abs(png(2) - 0.5) < 1e-3)    // mean R: one full-red of two
    assert(png(3) == 0.0f)                   // no green anywhere
    assert(math.abs(png(4) - 0.5) < 1e-3)    // mean B: one full-blue of two
    assert(math.abs(png(5) - (0.299 + 0.114) / 2) < 1e-3) // mean luma
    assert(math.abs(png(6) - (0.299 - 0.114) / 2) < 1e-3) // stddev luma
    assert(png(7) == 0.0f)                   // nothing above luma 0.5
    // undecodable payload → all-zero vector, batch survives
    assert(f(1).features.forall(_ == 0.0f))
    assert(f(1).n_bytes == 12)
  }

  test("WavDecoder decodes a generated 16-bit PCM sine WAV (real javax.sound codec)") {
    import spark.implicits._
    // 1s of 440 Hz at 8 kHz mono, amplitude 0.5, 16-bit little-endian PCM
    val (sr, n, amp) = (8000f, 8000, 0.5)
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val v = (amp * math.sin(2 * math.Pi * 440 * i / sr) * 32767).toInt.toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val rows = Seq((1L, buf.toByteArray), (2L, "not audio at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val media = Multimodal.asMedia(rows, "doc_id", "payload", "audio")
    val f = Multimodal.extractFeatures(spark, media, Multimodal.WavDecoder())
      .collect().sortBy(_.media_id)
    val wav = f(0).features
    assert(wav(0) == 8000f && wav(1) == 1f && wav(2) == 8000f) // sr, ch, frames
    assert(math.abs(wav(3) - 2 * amp / math.Pi) < 0.01)  // mean |A·sin| = 2A/π
    assert(math.abs(wav(4) - amp / math.sqrt(2)) < 0.01) // rms = A/√2
    assert(math.abs(wav(5) - amp) < 0.01)                // peak ≈ A
    assert(math.abs(wav(6) - 2 * 440 / sr) < 0.01)       // zero crossings/frame
    assert(wav(7) < 0.05)                                // sine is rarely near 0
    assert(f(1).features.forall(_ == 0.0f))              // undecodable → zeros
  }

  test("WavDecoder decodes µ-law WAV via the JDK converter SPI (non-PCM path)") {
    import spark.implicits._
    // same 440 Hz sine as the PCM spec, encoded µ-LAW through the JDK's
    // own codec: the features must land on the same analytic values —
    // µ-law is 8-bit log-companded, so tolerances are looser
    val (sr, n, amp) = (8000f, 8000, 0.5)
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val v = (amp * math.sin(2 * math.Pi * 440 * i / sr) * 32767).toInt.toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val pcmFmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val ulawFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, sr, 8, 1, 1, sr, false)
    val ulaw = javax.sound.sampled.AudioSystem.getAudioInputStream(ulawFmt,
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), pcmFmt, n.toLong))
    val buf = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ulaw,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, buf)
    val media = Multimodal.asMedia(
      Seq((1L, buf.toByteArray)).toDF("doc_id", "payload"),
      "doc_id", "payload", "audio")
    val wav = Multimodal.extractFeatures(spark, media, Multimodal.WavDecoder())
      .collect().head.features
    assert(wav(0) == 8000f && wav(1) == 1f && wav(2) == 8000f) // sr, ch, frames
    assert(math.abs(wav(3) - 2 * amp / math.Pi) < 0.02)  // mean |A·sin| = 2A/π
    assert(math.abs(wav(4) - amp / math.sqrt(2)) < 0.02) // rms = A/√2
    assert(math.abs(wav(5) - amp) < 0.02)                // peak ≈ A
    assert(math.abs(wav(6) - 2 * 440 / sr) < 0.01)       // zero crossings/frame
  }

  test("sampleFrames explodes an animated GIF into strided, capped PNG frame rows") {
    import spark.implicits._
    // 7-frame animated GIF, frame i solid gray level i*30 — written with
    // the JDK's own GIF sequence writer
    def gif(nFrames: Int): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nFrames).foreach { i =>
        val img = new java.awt.image.BufferedImage(
          6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        val v = i * 30
        g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, 6, 4); g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      baos.toByteArray
    }
    val rows = Seq((1L, gif(7)), (2L, "not a gif".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val media = Multimodal.asMedia(rows, "doc_id", "payload", "video")
    val frames = Multimodal.sampleFrames(spark, media, stride = 2, maxFrames = 3)
      .orderBy("media_id", "frame_idx").collect()
    // doc 1: frames 0, 2, 4 (stride 2, capped at 3); doc 2: zero rows
    assert(frames.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 0), (1L, 2), (1L, 4)), frames.mkString(", "))
    assert(frames.forall(r => r.getInt(2) == 6 && r.getInt(3) == 4))
    // each emitted frame round-trips through the single-frame codec:
    // mean luma tracks the frame's gray level (the compose-with-
    // extractFeatures contract)
    val fdf = frames.map(r => (r.getLong(0) * 10 + r.getInt(1), r.getAs[Array[Byte]]("frame_png")))
      .toSeq.toDF("media_id", "payload")
    val feats = Multimodal.extractFeatures(spark,
        Multimodal.asMedia(fdf, "media_id", "payload", "image"),
        Multimodal.ImageIoDecoder())
      .collect().sortBy(_.media_id).map(_.features)
    val lumas = feats.map(_.apply(5))
    assert(lumas(0) < lumas(1) && lumas(1) < lumas(2), lumas.mkString(", "))
  }

  test("resample strides the payload deterministically") {
    val m = Multimodal.asMedia(docs, "doc_id", "text", "image")
    val out = Multimodal.resample(spark, m, 2).orderBy("media_id").collect()
    assert(new String(out(0).getAs[Array[Byte]]("payload_small")) == "hlowrd")
  }

  // ---------------------------------------------------------- perceptual hash

  private def grayImg(w: Int, h: Int)(v: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = math.max(0, math.min(255, v(x, y)))
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    img
  }

  /** Smooth deterministic test pattern — low-frequency so box-averaged
    * grid cells survive resizing/JPEG with their comparison signs. */
  private def pattern(w: Int, h: Int, fx: Double, fy: Double, phase: Double) =
    grayImg(w, h) { (x, y) =>
      (127.5 * (1 + math.sin(2 * math.Pi *
        ((x + 0.5) / w * fx + (y + 0.5) / h * fy) + phase))).round.toInt
    }

  private def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** Deterministic box-average resize (no platform-dependent AWT scaler). */
  private def resizeBox(img: java.awt.image.BufferedImage, tw: Int, th: Int) = {
    val (w, h) = (img.getWidth, img.getHeight)
    grayImg(tw, th) { (tx, ty) =>
      val (x0, x1) = (tx * w / tw, math.max(tx * w / tw + 1, (tx + 1) * w / tw))
      val (y0, y1) = (ty * h / th, math.max(ty * h / th + 1, (ty + 1) * h / th))
      var acc = 0L; var n = 0
      for (y <- y0 until y1; x <- x0 until x1) { acc += img.getRGB(x, y) & 0xff; n += 1 }
      (acc.toDouble / n).round.toInt
    }
  }

  test("imageHashes: dHash/aHash bit semantics pinned on constructed fixtures") {
    import spark.implicits._
    // 9×8 strictly-increasing-in-x ramp: every horizontal comparison is
    // 'right > left' → all 64 dHash bits set
    val ramp = enc(grayImg(9, 8)((x, _) => x * 28), "png")
    // 8×8 left-half black / right-half white: aHash bits exactly the
    // bright columns 4..7 of each row → 0xF0 per byte
    val halves = enc(grayImg(8, 8)((x, _) => if (x < 4) 0 else 255), "png")
    val out = Multimodal.imageHashes(spark,
        Seq((1L, ramp), (2L, halves)).toDF("media_id", "payload"))
      .orderBy("media_id").collect()
    assert(out(0).getLong(1) == -1L) // dhash: all 64 bits
    assert(out(1).getLong(2) == 0xF0F0F0F0F0F0F0F0L) // ahash: right half
    // lossless re-encode (PNG → BMP) decodes to identical pixels →
    // identical hashes
    val bmp = enc(grayImg(9, 8)((x, _) => x * 28), "bmp")
    val again = Multimodal.imageHashes(spark,
      Seq((3L, bmp)).toDF("media_id", "payload")).collect()
    assert(again(0).getLong(1) == -1L)
  }

  test("imageNearDup: resized/re-encoded copies collide, distinct patterns don't, junk drops") {
    import spark.implicits._
    // 6 distinct smooth patterns; per pattern: base PNG + box-resized
    // PNG + lossless BMP + lossy JPEG re-encode. Near-dup must pair
    // every variant with its base and never cross patterns.
    // frequencies kept within dHash's stable band (≤ ~2.5 periods over
    // the 9-cell grid): beyond that the grid undersamples the pattern
    // and box-resize legitimately flips > 3 comparison bits — a
    // property of the algorithm, not the plumbing under test
    val shapes = Seq((1.0, 0.0, 0.0), (2.0, 1.0, 1.1), (1.0, 2.0, 2.2),
      (2.0, 2.0, 0.7), (0.0, 2.0, 1.9), (1.0, 3.0, 2.9))
    val rows = shapes.zipWithIndex.flatMap { case ((fx, fy, ph), p) =>
      val base = pattern(64, 64, fx, fy, ph)
      Seq(
        (p * 10L + 0L, enc(base, "png")),
        (p * 10L + 1L, enc(resizeBox(base, 48, 48), "png")),
        (p * 10L + 2L, enc(base, "bmp")),
        (p * 10L + 3L, enc(base, "jpg")))
    } :+ (999L, "definitely not an image payload".getBytes("UTF-8"))
    val media = rows.toDF("media_id", "payload")
    // undecodable payload → null hashes
    val hashes = Multimodal.imageHashes(spark, media).collect()
    assert(hashes.find(_.getLong(0) == 999L).get.isNullAt(1))
    assert(hashes.count(r => !r.isNullAt(1)) == rows.length - 1)
    val pairs = Multimodal.imageNearDup(spark, media, maxBucket = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no cross-pattern pair, junk row absent
    assert(pairs.forall { case (a, b) => a / 10 == b / 10 },
      s"cross-pattern pairs: ${pairs.filterNot(p => p._1 / 10 == p._2 / 10)}")
    assert(!pairs.exists(p => p._1 == 999L || p._2 == 999L))
    // every variant pairs with its base (dHash Hamming ≤ 3 survives
    // box-resize and JPEG re-encode on smooth content)
    shapes.indices.foreach { p =>
      Seq(1L, 2L, 3L).foreach { v =>
        assert(pairs.contains((p * 10L, p * 10L + v)),
          s"pattern $p variant $v did not pair with its base: $pairs")
      }
    }
  }

  test("imageHashes: maxPixels gates from the header — oversized/bomb payloads yield NULL hashes") {
    import spark.implicits._
    val img = enc(grayImg(16, 16)((x, y) => (x * y) % 256), "png") // 256 px
    val ok = Multimodal.imageHashes(spark,
      Seq((1L, img)).toDF("media_id", "payload")).collect()
    assert(!ok(0).isNullAt(1))
    // a ceiling below the declared 256 pixels rejects PRE-decode
    val rej = Multimodal.imageHashes(spark,
      Seq((1L, img)).toDF("media_id", "payload"), maxPixels = 255L).collect()
    assert(rej(0).isNullAt(1) && rej(0).isNullAt(2))
    // crafted decompression bomb: a VALID PNG header declaring a
    // 10⁹×10⁹ canvas with no pixel data behind it — the header bound
    // must reject it without ever allocating the canvas (a decode
    // attempt would OOM the executor) and without failing the task
    val bomb = bombPng(1000000000, 1000000000)
    val b = Multimodal.imageHashes(spark,
      Seq((2L, bomb)).toDF("media_id", "payload")).collect()
    assert(b(0).isNullAt(1) && b(0).isNullAt(2))
    // sampleFrames shares the per-frame guard
    assert(Multimodal.sampleFrames(spark,
      Seq((3L, img)).toDF("media_id", "payload"), maxPixels = 255L).count() == 0)
    assert(Multimodal.sampleFrames(spark,
      Seq((4L, bomb)).toDF("media_id", "payload")).count() == 0)
  }

  test("videoNearDup raises a named error on media ids outside the 2^43 packing range") {
    import spark.implicits._
    val png = enc(pattern(48, 48, 1.0, 0.0, 0.0), "png")
    val media = Seq((1L << 43, png)).toDF("media_id", "payload")
    val e = intercept[Exception] {
      Multimodal.videoNearDup(spark, media).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("packing range")),
      s"unexpected failure chain: ${messages(e).mkString(" | ")}")
    // in-range ids pass through the guard unchanged
    assert(Multimodal.videoNearDup(spark,
      Seq(((1L << 43) - 1, png)).toDF("media_id", "payload")).count() == 0)
  }

  /** A syntactically valid PNG signature + IHDR chunk (correct CRC)
    * declaring a `w`×`h` canvas, with no pixel data — the
    * decompression-bomb shape: tiny payload, enormous declared
    * allocation. */
  private def bombPng(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val crc = new java.util.zip.CRC32()
    crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdr)
    val chunk = java.nio.ByteBuffer.allocate(4 + 4 + 13 + 4)
      .putInt(13).put("IHDR".getBytes("US-ASCII")).put(ihdr)
      .putInt(crc.getValue.toInt)
    out.write(chunk.array())
    out.toByteArray
  }

  test("videoNearDup: containers sharing frames pair, disjoint ones don't") {
    import spark.implicits._
    def gif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
      writer.endWriteSequence(); ios.close(); writer.dispose()
      baos.toByteArray
    }
    def p(fx: Double, fy: Double, ph: Double) = pattern(48, 48, fx, fy, ph)
    // A and B share two patterns (B's copies re-rendered — the GIF
    // writer re-palettizes, so bytes differ while content matches);
    // C is disjoint
    val a = gif(Seq(p(1, 0, 0.0), p(2, 1, 1.1), p(1, 2, 2.2)))
    val b = gif(Seq(p(2, 1, 1.1), p(1, 2, 2.2), p(2, 2, 0.7)))
    val c = gif(Seq(p(0, 2, 1.9), p(1, 3, 2.9)))
    val media = Seq((1L, a), (2L, b), (3L, c)).toDF("media_id", "payload")
    val pairs = Multimodal.videoNearDup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(t => (t._1, t._2)).toSet == Set((1L, 2L)),
      s"only A-B may pair: ${pairs.mkString(", ")}")
    assert(pairs.head._3 >= 2, s"A and B share two frames: ${pairs.head}")
    // minFrames filters weak overlaps
    assert(Multimodal.videoNearDup(spark, media, minFrames = 3).count() <=
      (if (pairs.head._3 >= 3) 1 else 0))
  }

  test("metadata-only query prunes the binary column from the parquet scan") {
    val dir = graft.core.TempDir("mm").toString
    Multimodal.asMedia(docs, "doc_id", "text", "image")
      .write.mode("overwrite").parquet(dir)
    val meta = Multimodal.metaOnly(spark.read.parquet(dir))
    val plan = meta.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"payload not pruned:\n$plan")
    assert(meta.count() == 3)
  }
}
