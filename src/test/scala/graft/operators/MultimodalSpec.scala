package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("synthesize produces the canonical media schema") {
    val media = Multimodal.synthesize(spark, 30)
    assert(media.columns.toSeq ==
      Seq("media_id", "modality", "width", "height", "n_frames", "payload"))
    assert(media.count() == 30)
    assert(media.select("modality").distinct().count() == 3)
  }

  test("decode round-trips geometry: dims for image/video, rate+channels for audio") {
    val media = Multimodal.synthesize(spark, 30)
    val decoded = Multimodal.decodeFeatures(media, frameStride = 2).toDF()
    // image (real BMP) and video (stub header) decode to the metadata dims
    val dims = media.filter(col("modality") =!= "audio").join(decoded,
      media("media_id") === decoded("mediaId") &&
        media("width") === decoded("decodedWidth") &&
        media("height") === decoded("decodedHeight") &&
        media("modality") === decoded("modality"))
    assert(dims.count() == 20, "image+video rows must match their source metadata")
    // audio (real WAV) decodes to the PCM geometry, not the scraped w/h
    decoded.filter(col("modality") === "audio").collect().foreach { r =>
      val i = r.getAs[Long]("mediaId")
      val (rate, ch, frames) = Multimodal.synthWavGeom(i)
      assert(r.getAs[Int]("decodedWidth") == rate &&
        r.getAs[Int]("decodedHeight") == ch &&
        r.getAs[Int]("nFramesSampled") == frames,
        s"audio $i decoded geometry mismatch")
    }
  }

  test("features are deterministic and fixed-dimension") {
    val media = Multimodal.synthesize(spark, 10)
    val a = Multimodal.decodeFeatures(media).collect().map(f => f.mediaId -> f.feature.toSeq).toMap
    val b = Multimodal.decodeFeatures(media).collect().map(f => f.mediaId -> f.feature.toSeq).toMap
    assert(a == b)
    assert(a.values.forall(_.size == 16))
  }

  test("frame sampling respects stride") {
    val media = Multimodal.synthesize(spark, 30).filter(col("modality") === "video")
    val d1 = Multimodal.decodeFeatures(media, frameStride = 1).collect()
    val d4 = Multimodal.decodeFeatures(media, frameStride = 4).collect()
    val f1 = d1.map(f => f.mediaId -> f.nFramesSampled).toMap
    val f4 = d4.map(f => f.mediaId -> f.nFramesSampled).toMap
    assert(f1.forall { case (id, n) => n >= f4(id) })
    assert(f4.values.forall(_ >= 1))
  }

  test("decodeBmp really parses the format: hand-built 2x2 bottom-up BMP with row padding") {
    // 2x2 @ 24bpp: rowSize = 8 (6 pixel bytes + 2 padding). Logical
    // top-down pixel bytes are 10..60 (row 0) and 70..120 (row 1); the
    // file stores row 1 FIRST (bottom-up) with 0xEE padding. A decoder
    // that ignores bottom-up order reads lane 0 as 70; one that ignores
    // padding shifts every row-1 byte by two.
    val buf = java.nio.ByteBuffer.allocate(54 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(70).putInt(0).putInt(54)
      .putInt(40).putInt(2).putInt(2)
      .putShort(1).putShort(24).putInt(0)
      .putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    Seq(70, 80, 90, 100, 110, 120, 0xEE, 0xEE, // stored first = logical row 1
        10, 20, 30, 40, 50, 60, 0xEE, 0xEE)    // stored last  = logical row 0
      .foreach(b => buf.put(b.toByte))
    val f = Multimodal.decodeBmp(42L, buf.array())
    assert(f.mediaId == 42L && f.modality == "image")
    assert(f.decodedWidth == 2 && f.decodedHeight == 2 && f.nFramesSampled == 1)
    // 12 pixel bytes < 16 lanes: lane d holds exactly logical byte d
    val expect = Seq(10f, 20f, 30f, 40f, 50f, 60f, 70f, 80f, 90f, 100f, 110f, 120f,
      0f, 0f, 0f, 0f)
    assert(f.feature.toSeq == expect, s"got ${f.feature.toSeq}")
  }

  test("decodeBmp refuses unsupported BMP flavours loudly") {
    val buf = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54).putInt(0).putInt(54)
      .putInt(40).putInt(1).putInt(1)
      .putShort(1).putShort(8).putInt(0) // 8bpp: palette format, unsupported
      .putInt(0).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val ex = intercept[IllegalArgumentException] { Multimodal.decodeBmp(1L, buf.array()) }
    assert(ex.getMessage.contains("24-bit"))
  }

  test("decodeFeatures refuses hostile BMP headers with the media_id, as imagePool does") {
    import spark.implicits._
    // a 54-byte header plus 16 pixel bytes, 24-bit BI_RGB
    def bmp(w: Int, h: Int, dataOffset: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(54 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte)
        .putInt(70).putInt(0).putInt(dataOffset)
        .putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24).putInt(0)
        .putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
      buf.array()
    }
    val hostile = Seq(
      71L -> bmp(1000000000, 1, 54), 72L -> bmp(-5, 2, 54),
      73L -> bmp(0, 2, 54), 74L -> bmp(2, 2, -100))
    for ((id, payload) <- hostile) {
      val media = Seq((id, payload)).toDF("media_id", "payload")
      val err = intercept[Exception](Multimodal.decodeFeatures(media).collect())
      val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        String.valueOf(t.getMessage).contains(s"media_id=$id")),
        s"media $id: ${chain.map(_.toString).mkString(" | ")}")
    }
  }

  test("image payloads are real BMPs and the real decoder recovers the synthetic pixels") {
    val media = Multimodal.synthesize(spark, 30).filter(col("modality") === "image")
    val payloads = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(payloads.nonEmpty)
    payloads.foreach { case (i, p) =>
      assert(p(0) == 'B'.toByte && p(1) == 'M'.toByte, s"media $i is not a BMP")
      val f = Multimodal.decodeBmp(i, p)
      // independent recomputation of lane 0 from the closed form
      val n = f.decodedWidth * f.decodedHeight * 3
      val lane0 = (0 until n by 16).map(pp => ((i * 31 + pp.toLong * 7) % 251).toDouble)
      assert(f.feature(0) == (lane0.sum / lane0.size).toFloat,
        s"media $i lane-0 mean mismatch")
    }
  }

  test("audio payloads are real WAVs and the real decoder recovers the synthetic samples") {
    val media = Multimodal.synthesize(spark, 30).filter(col("modality") === "audio")
    val payloads = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(payloads.nonEmpty)
    payloads.foreach { case (i, p) =>
      assert(new String(p, 0, 4, "US-ASCII") == "RIFF", s"media $i is not RIFF")
      val (rate, ch, frames) = Multimodal.synthWavGeom(i)
      val stats = Multimodal.wavStats(i, p)
      assert(stats.sampleRate == rate && stats.channels == ch &&
        stats.bits == 16 && stats.nFrames == frames)
      // independent recomputation from the closed form
      val vs = (0 until frames * ch).map(j => (((i * 31 + j.toLong * 7) % 251) - 125).toInt)
      assert(stats.peak == vs.map(math.abs).max)
      assert(stats.sumSq == vs.map(v => v.toLong * v).sum)
      assert(stats.durationUs == frames.toLong * 1000000L / rate)
      assert(stats.rms == math.sqrt(vs.map(v => v.toLong * v).sum.toDouble / vs.size))
    }
  }

  test("parseWav walks unknown and ODD-sized chunks (RIFF pad byte) to find fmt/data") {
    // layout: RIFF/WAVE + junk "LIST" chunk of ODD size 5 (padded to 6)
    // + fmt + data. A walker that forgets the pad byte lands mid-chunk
    // and dies; one that hardcodes offset 12 for fmt dies too.
    val samples = Seq[Short](100, -200, 300, -400)
    val dataSize = samples.size * 2
    val buf = java.nio.ByteBuffer.allocate(12 + (8 + 6) + (8 + 16) + 8 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(buf.capacity - 8).put("WAVE".getBytes("US-ASCII"))
    buf.put("LIST".getBytes("US-ASCII")).putInt(5)
      .put(Array.tabulate[Byte](6)(_.toByte))       // 5 payload bytes + 1 pad
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(buf.putShort)
    val pcm = Multimodal.parseWav(7L, buf.array())
    assert(pcm.sampleRate == 44100 && pcm.channels == 2 && pcm.bits == 16)
    assert(pcm.nFrames == 2 && pcm.samples.toSeq == samples.map(_.toInt))
  }

  test("parseWav decodes 8-bit unsigned PCM centered to signed") {
    val buf = java.nio.ByteBuffer.allocate(44 + 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 4).put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    buf.put("data".getBytes("US-ASCII")).putInt(4)
    Seq(0, 128, 255, 200).foreach(b => buf.put(b.toByte))
    val pcm = Multimodal.parseWav(8L, buf.array())
    assert(pcm.bits == 8 && pcm.samples.toSeq == Seq(-128, 0, 127, 72))
  }

  test("parseWav refuses non-PCM formats loudly") {
    val buf = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36).put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(3).putShort(1).putInt(8000).putInt(32000).putShort(4).putShort(32) // IEEE float
    buf.put("data".getBytes("US-ASCII")).putInt(0)
    val ex = intercept[IllegalArgumentException] { Multimodal.parseWav(9L, buf.array()) }
    assert(ex.getMessage.contains("PCM"))
  }

  private def bmp2x2(topDown: Boolean): Array[Byte] = {
    // logical top-down pixel bytes: row 0 = 10..60, row 1 = 70..120
    // (BGR triplets: pixel (0,0) = B10 G20 R30, (1,0) = B40 G50 R60 ...)
    val buf = java.nio.ByteBuffer.allocate(54 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(70).putInt(0).putInt(54)
      .putInt(40).putInt(2).putInt(if (topDown) -2 else 2)
      .putShort(1).putShort(24).putInt(0)
      .putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val rows = Seq(Seq(10, 20, 30, 40, 50, 60, 0xEE, 0xEE),
      Seq(70, 80, 90, 100, 110, 120, 0xEE, 0xEE))
    val stored = if (topDown) rows else rows.reverse
    stored.flatten.foreach(b => buf.put(b.toByte))
    buf.array()
  }

  test("poolImage: 1x1 pool of the hand-built 2x2 BMP is the exact channel mean") {
    val cells = Multimodal.poolImage(7L, bmp2x2(topDown = false), 1, 1)
    assert(cells.size == 1)
    val c = cells.head
    // B bytes: 10, 40, 70, 100; G: 20, 50, 80, 110; R: 30, 60, 90, 120
    assert(c == Multimodal.ImageCell(7L, 0, 0, 75.0, 65.0, 55.0))
  }

  test("poolImage: top-down and bottom-up encodings of the same pixels pool identically") {
    val a = Multimodal.poolImage(7L, bmp2x2(topDown = false), 2, 1)
    val b = Multimodal.poolImage(7L, bmp2x2(topDown = true), 2, 1)
    assert(a == b)
    // left column = pixels (0,0)/(0,1): R mean = (30+90)/2
    assert(a.head == Multimodal.ImageCell(7L, 0, 0, 60.0, 50.0, 40.0))
  }

  test("poolImage: grid == dims returns the raw pixels; cell means re-average to the image mean") {
    val img = Multimodal.synthBmp(3L, 16, 16)
    val full = Multimodal.poolImage(3L, img, 16, 16)
    assert(full.size == 256)
    // every 1-pixel cell is the exact byte triple
    full.foreach { c =>
      val p = (c.cellY * 16 + c.cellX) * 3
      assert(c.bMean == ((3L * 31 + 7L * p) % 251).toDouble)
      assert(c.gMean == ((3L * 31 + 7L * (p + 1)) % 251).toDouble)
      assert(c.rMean == ((3L * 31 + 7L * (p + 2)) % 251).toDouble)
    }
    // count-weighted 4x4 cell means collapse to the whole-image mean
    val pooled = Multimodal.poolImage(3L, img, 4, 4)
    val wavg = pooled.map(_.rMean).sum / pooled.size // uniform cells: 4x4 over 16x16
    val exact = full.map(_.rMean).sum / full.size
    assert(math.abs(wavg - exact) < 1e-9)
  }

  test("imagePool: distributed pool on the synth corpus matches the local kernel") {
    val media = Multimodal.synthesize(spark, 30)
    val dist = Multimodal.imagePool(media, 4, 4).collect()
      .map(c => (c.mediaId, c.cellX, c.cellY) -> ((c.rMean, c.gMean, c.bMean))).toMap
    val local = media.filter(col("modality") === "image")
      .select("media_id", "payload").collect()
      .flatMap(r => Multimodal.poolImage(r.getLong(0), r.getAs[Array[Byte]]("payload"), 4, 4))
    assert(local.nonEmpty)
    local.foreach(c =>
      assert(dist((c.mediaId, c.cellX, c.cellY)) == ((c.rMean, c.gMean, c.bMean))))
  }

  test("poolImage refuses a grid finer than the source") {
    val ex = intercept[IllegalArgumentException] {
      Multimodal.poolImage(1L, bmp2x2(topDown = false), 3, 1)
    }
    assert(ex.getMessage.contains("finer than source"))
  }

  private def wavOf(samples: Seq[Seq[Int]], sampleRate: Int = 8000): Array[Byte] = {
    // samples(frame)(channel), 16-bit PCM
    val channels = samples.head.size
    val flat = samples.flatten
    val buf = java.nio.ByteBuffer.allocate(44 + flat.size * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + flat.size * 2)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2).putShort((channels * 2).toShort).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(flat.size * 2)
    flat.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  private def spectrumOf(payload: Array[Byte], bins: Seq[Int]): Map[Int, Double] = {
    import spark.implicits._
    val media = Seq((1L, "audio", 0, 0, 1, payload))
      .toDF("media_id", "modality", "width", "height", "n_frames", "payload")
    Multimodal.audioSpectrum(media, bins).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
  }

  test("audioSpectrum: a pure sine concentrates its energy in its own bin") {
    val n = 64
    val sine = (0 until n).map(j =>
      Seq(math.round(100.0 * math.cos(2 * math.Pi * 4 * j / n)).toInt))
    val sp = spectrumOf(wavOf(sine), Seq(1, 2, 4, 8))
    // bin 4 holds ~ (N·A/2 / N)² = 2500 → ln ≈ 7.8; others near 0
    assert(sp(4) > 7.0, s"sine bin should dominate, got $sp")
    assert(Seq(1, 2, 8).forall(b => sp(b) < 1.0), s"off bins should be ~0: $sp")
  }

  test("audioSpectrum: constant (DC) signal has no energy in any k >= 1 bin") {
    val dc = Seq.fill(50)(Seq(117))
    val sp = spectrumOf(wavOf(dc), Seq(1, 2, 4, 8))
    // integer bins are orthogonal to the constant over exact N — float
    // residue only
    assert(sp.values.forall(_ < 1e-6), s"DC leaked: $sp")
  }

  test("audioSpectrum: analyses channel 0 of a stereo clip") {
    val n = 64
    val stereo = (0 until n).map { j =>
      Seq(math.round(100.0 * math.cos(2 * math.Pi * 2 * j / n)).toInt, // ch0: bin-2 sine
        if (j % 2 == 0) 90 else -90) // ch1: alternating = bin n/2, not measured
    }
    val sp = spectrumOf(wavOf(stereo), Seq(1, 2, 4, 8))
    assert(sp(2) > 7.0, s"ch0's bin-2 sine must dominate: $sp")
    assert(Seq(1, 4, 8).forall(b => sp(b) < 1.0), s"ch1 must not leak: $sp")
  }

  test("audioSpectrum: distributed result matches a local recomputation on the synth corpus") {
    val media = Multimodal.synthesize(spark, 12)
    val got = Multimodal.audioSpectrum(media, Seq(1, 2)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val audio = media.filter(col("modality") === "audio")
      .select("media_id", "payload").collect()
    assert(audio.nonEmpty && got.size == audio.length * 2)
    audio.foreach { r =>
      val id = r.getLong(0)
      val wav = Multimodal.parseWav(id, r.getAs[Array[Byte]]("payload"))
      val nf = wav.nFrames
      Seq(1, 2).foreach { k =>
        var c = 0.0
        var s = 0.0
        (0 until nf).foreach { j =>
          val v = wav.samples(j * wav.channels).toDouble
          val ang = 2 * math.Pi * k * j / nf
          c += v * math.cos(ang)
          s += v * math.sin(ang)
        }
        val expect = math.log(1.0 + (c * c + s * s) / (nf.toDouble * nf))
        assert(math.abs(got((id, k)) - expect) < 1e-9,
          s"media $id bin $k: ${got((id, k))} vs $expect")
      }
    }
  }

  test("metadata profile never reads payload pages (column pruning)") {
    val media = Multimodal.synthesize(spark, 30)
    val tmp = java.nio.file.Files.createTempDirectory("media").toString
    media.write.mode("overwrite").parquet(tmp)
    val onDisk = spark.read.parquet(tmp)
    val profile = Multimodal.metadataProfile(onDisk)
    val plan = profile.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.split("ReadSchema")(1).split("\n")(0).contains("payload"),
      s"payload must be pruned from the scan:\n$plan")
    assert(profile.count() == 3)
  }

  /** 9x8 BMP whose luma is a pure function of x — the dHash identity
    * fixtures. `step` > 0 makes a rising gradient, < 0 a falling one.
    */
  private def bmpGradient(step: Int): Array[Byte] = {
    val w = 9; val h = 8
    val rowSize = ((w * 3 + 3) / 4) * 4
    val buf = java.nio.ByteBuffer.allocate(54 + rowSize * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + rowSize * h).putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24).putInt(0)
      .putInt(rowSize * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val arr = buf.array()
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (step > 0) x * step else (w - 1 - x) * -step
      val base = 54 + (h - 1 - y) * rowSize + x * 3
      arr(base) = v.toByte; arr(base + 1) = v.toByte; arr(base + 2) = v.toByte
    }
    arr
  }

  test("dHashBmp: rising gradient sets all 64 bits, falling gradient none") {
    assert(Multimodal.dHashImage(1L, bmpGradient(20), 0) == -1L)
    assert(Multimodal.dHashImage(1L, bmpGradient(-20), 0) == 0L)
  }

  test("dHashBmp: exact brightness invariance when no channel clamps") {
    // gradient tops out at 8*20 = 160; +delta 40 stays under 255
    val img = bmpGradient(20)
    assert(Multimodal.dHashImage(1L, img, 0) == Multimodal.dHashImage(1L, img, 40))
    // synth corpus: bytes reach 250, +24 clamps — hamming stays small
    val m = Multimodal.synthesize(spark, 30)
    val a = Multimodal.imageDHashRaw(m, 0).withColumnRenamed("dhash64", "h0")
    val b = Multimodal.imageDHashRaw(m, 24).withColumnRenamed("dhash64", "h24")
    val hd = a.join(b, "media_id")
      .select(org.apache.spark.sql.functions.expr("bit_count(h0 ^ h24)"))
      .collect().map(_.getInt(0))
    assert(hd.forall(_ <= 8), s"clamp distortion should stay tiny, got ${hd.toSeq}")
  }

  test("dHash hex rendering is 16 lowercase chars and round-trips the long") {
    val m = Multimodal.synthesize(spark, 30)
    val hexed = Multimodal.imageDHash(m).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val raw = Multimodal.imageDHashRaw(m).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hexed.nonEmpty && hexed.keySet == raw.keySet)
    hexed.foreach { case (id, s) =>
      assert(s.length == 16 && s == s.toLowerCase)
      assert(java.lang.Long.parseUnsignedLong(s, 16) == raw(id))
    }
  }

  test("dHashBmp refuses undersized and truncated payloads loudly") {
    intercept[IllegalArgumentException] {
      Multimodal.dHashImage(1L, bmp2x2(topDown = false), 0) // 2x2 < 9x8
    }
    val img = bmpGradient(20)
    intercept[IllegalArgumentException] {
      Multimodal.dHashImage(1L, img.take(100), 0)
    }
  }
}
