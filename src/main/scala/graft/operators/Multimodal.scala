package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for LLM data pipelines: image/audio/video
  * payloads ride as opaque `BinaryType` columns next to typed metadata;
  * decode / feature-extraction runs partition-wise so heavyweight codec
  * state is initialized once per partition, not per row (the Scala analog
  * of arrow-batched pandas UDFs on a Python cluster).
  *
  * Decode coverage is format-by-format honest:
  *  - IMAGE payloads are real 24-bit uncompressed BMPs and [[decodeBmp]]
  *    is a REAL decoder — pure byte arithmetic (LE header fields,
  *    bottom-up row order, 4-byte row padding), no codec library — that
  *    recovers width/height from the header and computes features from
  *    the actual pixel bytes. Hand it any 24-bit BI_RGB file and it
  *    answers correctly (spec: a hand-built 2×2 with padding).
  *  - AUDIO payloads are real RIFF/WAVE PCM files and [[parseWav]] is a
  *    REAL decoder — the RIFF chunk walk (odd-sized chunks pad to even,
  *    unknown chunks skipped), the fmt-chunk fields (sample rate,
  *    channels, bit depth), and the actual PCM samples (16-bit signed LE
  *    or 8-bit unsigned), no codec library. [[audioStats]] computes
  *    duration/peak/RMS from the decoded samples.
  *  - VIDEO container structure is real: payloads are genuine ISO BMFF
  *    (MP4) files and [[parseMp4]] is a REAL box parser — big-endian
  *    size+fourcc walk with the format's two structural quirks
  *    (size==1 → 64-bit largesize, size==0 → box runs to the end of its
  *    container), recursing into moov/trak/mdia/minf/stbl to read
  *    mvhd (timescale, duration), the video trak's tkhd dimensions
  *    (16.16 fixed point), the stsd sample-entry codec fourcc, and the
  *    stsz frame count — everything a metadata-level video profile
  *    needs, no codec library. Only FRAME decode is a clearly-marked
  *    DETERMINISTIC STUB (features come from mdat bytes, not decoded
  *    pixels — that step genuinely needs ffmpeg/javacv; swap it in
  *    [[decodeMp4Features]] and nothing else changes).
  */
object Multimodal {

  /** Canonical media-table schema: payload + typed metadata. At 100 TB the
    * payload column dominates — keep it LAST in the schema (parquet column
    * pruning means metadata-only queries never touch payload pages), and
    * size row groups so a row group's payloads fit executor memory.
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("payload", BinaryType)))

  /** Logical pixel-array byte p of synthetic image i — the single source
    * of truth shared by [[synthesize]] (which lays these bytes out in
    * real bottom-up padded BMP rows) and the q36 oracle (which restates
    * the closed form in SQL).
    */
  @inline private def synthPixelByte(i: Long, p: Int): Int =
    ((i * 31 + p.toLong * 7) % 251).toInt

  /** A real, well-formed 24-bit uncompressed BMP (BITMAPINFOHEADER,
    * bottom-up rows, rows padded to 4 bytes) whose logical top-down
    * pixel-array byte p equals [[synthPixelByte]](i, p).
    */
  private[operators] def synthBmp(i: Long, w: Int, h: Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(54 + dataSize).putInt(0).putInt(54)     // file size, reserved, data offset
      .putInt(40).putInt(w).putInt(h)                 // info size, width, height (+h = bottom-up)
      .putShort(1).putShort(24).putInt(0)             // planes, bpp, BI_RGB
      .putInt(dataSize).putInt(2835).putInt(2835)     // image size, 72 dpi
      .putInt(0).putInt(0)                            // palette unused
    val arr = buf.array()
    var y = 0
    while (y < h) {
      val base = 54 + (h - 1 - y) * rowSize           // bottom-up: logical row y stores last-first
      var x = 0
      while (x < w * 3) {
        arr(base + x) = synthPixelByte(i, y * w * 3 + x).toByte
        x += 1
      }
      y += 1
    }
    arr
  }

  /** Logical PCM sample value at flat index j (j = frame·channels + ch)
    * of synthetic audio i — the single source of truth shared by
    * [[synthWav]] (which lays these out as real 16-bit LE samples) and
    * the q36/q109 oracles (closed form in SQL). Range [-125, 125].
    */
  @inline private def synthSample(i: Long, j: Int): Int =
    (((i * 31 + j.toLong * 7) % 251) - 125).toInt

  /** Synthetic-audio geometry for id i: (sampleRate, channels, nFrames)
    * — shared with the oracle SQL closed forms.
    */
  @inline private[operators] def synthWavGeom(i: Long): (Int, Int, Int) =
    (8000 + (i % 4).toInt * 4000, 1 + (i % 2).toInt, 200 + (i % 50).toInt * 4)

  /** A real, well-formed RIFF/WAVE PCM file: RIFF header, 16-byte fmt
    * chunk (audioFormat=1, channels, sample rate, byte rate, block
    * align, 16 bits), data chunk of 16-bit LE samples where flat sample
    * j equals [[synthSample]](i, j).
    */
  private[operators] def synthWav(i: Long): Array[Byte] = {
    val (sampleRate, channels, nFrames) = synthWavGeom(i)
    val nSamples = nFrames * channels
    val dataSize = nSamples * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                                    // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)              // byte rate
      .putShort((channels * 2).toShort)               // block align
      .putShort(16)                                   // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var j = 0
    while (j < nSamples) { buf.putShort(synthSample(i, j).toShort); j += 1 }
    buf.array()
  }

  /** Synthetic-video geometry for id i: (width, height, nFrames,
    * timescale, durationTicks, codec) — shared with the q110 oracle's
    * closed forms. durationTicks = nFrames · perFrameDelta keeps stts
    * integer-exact.
    */
  @inline private[operators] def synthMp4Geom(i: Long): (Int, Int, Int, Long, Long, String) = {
    val nFrames = 8 + (i % 4).toInt
    (64 + (i % 8).toInt * 32, 64 + (i % 5).toInt * 32, nFrames,
      1000L + (i % 5) * 200L, nFrames.toLong * (40L + i % 7),
      if (i % 2 == 0) "avc1" else "hev1")
  }

  // ---- ISO BMFF (MP4) box building ---------------------------------------

  /** A box: 32-bit BE size (8 + body) + fourcc + body. */
  private def mp4Box(fourcc: String, body: Array[Byte]*): Array[Byte] = {
    val len = body.map(_.length).sum
    val buf = java.nio.ByteBuffer.allocate(8 + len)
    buf.putInt(8 + len).put(fourcc.getBytes("US-ASCII"))
    body.foreach(buf.put)
    buf.array()
  }

  /** A full box: version byte + 24-bit flags prepended to the body. */
  private def mp4FullBox(fourcc: String, version: Int, flags: Int,
                         body: Array[Byte]): Array[Byte] =
    mp4Box(fourcc, Array[Byte](version.toByte,
      ((flags >> 16) & 0xff).toByte, ((flags >> 8) & 0xff).toByte,
      (flags & 0xff).toByte), body)

  private def be32(vs: Long*): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(vs.length * 4)
    vs.foreach(v => buf.putInt(v.toInt))
    buf.array()
  }

  private def be64(vs: Long*): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(vs.length * 8)
    vs.foreach(buf.putLong)
    buf.array()
  }

  /** The identity transformation matrix every movie/track header carries. */
  private val mp4UnityMatrix: Array[Byte] =
    be32(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)

  /** A real, well-formed ISO BMFF (MP4) file for synthetic video i:
    * ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr 'vide', free,
    * minf(vmhd, dinf(dref url), stbl(stsd, stts, stsc, stsz, stco)))))
    * + mdat whose 256 body bytes follow the same closed form as the
    * other modalities (byte j = (i·31 + j·7) mod 251, signed). The
    * format's structural variation is exercised ON DISK, varying by id:
    * odd ids write version-1 (64-bit) mvhd/tkhd/mdhd; i%9==2 places
    * mdat BEFORE moov (non-faststart layout); i%9==5 writes mdat with
    * size==1 + 64-bit largesize; i%9==8 writes mdat as the terminal
    * size==0 box (runs to end-of-file). stco points at the actual mdat
    * body offset (two-pass assembly), so the chunk offsets are real.
    */
  private[operators] def synthMp4(i: Long): Array[Byte] = {
    val (w, h, nFrames, timescale, duration, codec) = synthMp4Geom(i)
    val v = (i % 2).toInt // 0 → 32-bit times, 1 → 64-bit times
    val layout = (i % 9).toInt // 2: mdat-first; 5: largesize mdat; 8: size==0 mdat

    def times(creation: Long, modification: Long): Array[Byte] =
      if (v == 1) be64(creation, modification) else be32(creation, modification)

    val mvhd = mp4FullBox("mvhd", v, 0,
      times(0, 0) ++ be32(timescale) ++
        (if (v == 1) be64(duration) else be32(duration)) ++
        be32(0x00010000L) ++ // rate 1.0
        Array[Byte](0x01, 0x00, 0, 0) ++ be64(0) ++ // volume 1.0, reserved
        mp4UnityMatrix ++ be32(0, 0, 0, 0, 0, 0) ++ // pre_defined[6]
        be32(2)) // next_track_ID
    val tkhd = mp4FullBox("tkhd", v, 0x000007, // enabled | in movie | in preview
      times(0, 0) ++ be32(1, 0) ++ // track_ID, reserved
        (if (v == 1) be64(duration) else be32(duration)) ++
        be64(0) ++ be32(0) ++ // reserved[2], layer+alternate_group
        be32(0) ++ // volume (0 for video) + reserved
        mp4UnityMatrix ++
        be32(w.toLong << 16, h.toLong << 16)) // 16.16 fixed point
    val mdhd = mp4FullBox("mdhd", v, 0,
      times(0, 0) ++ be32(timescale) ++
        (if (v == 1) be64(duration) else be32(duration)) ++
        Array[Byte](0x55, (0xc4 & 0xff).toByte, 0, 0)) // language 'und'
    val hdlr = mp4FullBox("hdlr", 0, 0,
      be32(0) ++ "vide".getBytes("US-ASCII") ++ be32(0, 0, 0) ++ Array[Byte](0))
    val sampleEntry = {
      val buf = java.nio.ByteBuffer.allocate(86)
      buf.putInt(86).put(codec.getBytes("US-ASCII"))
        .put(new Array[Byte](6)).putShort(1) // reserved, data_reference_index
        .put(new Array[Byte](16)) // pre_defined/reserved
        .putShort(w.toShort).putShort(h.toShort)
        .putInt(0x00480000).putInt(0x00480000) // 72 dpi
        .putInt(0).putShort(1) // reserved, frame_count
        .put(new Array[Byte](32)) // compressorname
        .putShort(24).putShort(-1) // depth, pre_defined
      buf.array()
    }
    val stsd = mp4FullBox("stsd", 0, 0, be32(1) ++ sampleEntry)
    val stts = mp4FullBox("stts", 0, 0, be32(1, nFrames, duration / nFrames))
    val stsc = mp4FullBox("stsc", 0, 0, be32(1, 1, nFrames, 1))
    val mdatBody = Array.tabulate[Byte](256)(j => ((i * 31 + j * 7) % 251).toByte)
    val per = mdatBody.length / nFrames
    val sizes = Array.tabulate(nFrames)(k =>
      if (k == nFrames - 1) (mdatBody.length - per * (nFrames - 1)).toLong else per.toLong)
    val stsz = mp4FullBox("stsz", 0, 0, be32((0L +: nFrames.toLong +: sizes): _*))
    val ftyp = mp4Box("ftyp", "isom".getBytes("US-ASCII"), be32(0x200),
      "isomiso2mp41".getBytes("US-ASCII"))

    def moovWith(chunkOffset: Long): Array[Byte] = {
      val stco = mp4FullBox("stco", 0, 0, be32(1, chunkOffset))
      val stbl = mp4Box("stbl", stsd, stts, stsc, stsz, stco)
      val dinf = mp4Box("dinf",
        mp4FullBox("dref", 0, 0, be32(1) ++ mp4FullBox("url ", 0, 1, Array.empty)))
      val vmhd = mp4FullBox("vmhd", 0, 1, new Array[Byte](8))
      val minf = mp4Box("minf", vmhd, dinf, stbl)
      // a free box inside mdia: parsers must skip unknown/irrelevant boxes
      val mdia = mp4Box("mdia", mdhd, hdlr, mp4Box("free", new Array[Byte](4)), minf)
      mp4Box("moov", mvhd, mp4Box("trak", tkhd, mdia))
    }
    val moovLen = moovWith(0).length // stco is fixed-width: length is offset-independent

    if (layout == 2) {
      // mdat before moov: body starts right after ftyp's 8-byte mdat header
      val mdat = mp4Box("mdat", mdatBody)
      ftyp ++ mdat ++ moovWith(ftyp.length + 8L)
    } else if (layout == 5) {
      // size==1: 64-bit largesize follows the fourcc (16-byte header)
      val buf = java.nio.ByteBuffer.allocate(16 + mdatBody.length)
      buf.putInt(1).put("mdat".getBytes("US-ASCII"))
        .putLong(16L + mdatBody.length).put(mdatBody)
      ftyp ++ moovWith(ftyp.length + moovLen + 16L) ++ buf.array()
    } else {
      // size==0: the terminal box runs to end-of-file
      val buf = java.nio.ByteBuffer.allocate(8 + mdatBody.length)
      buf.putInt(0).put("mdat".getBytes("US-ASCII")).put(mdatBody)
      ftyp ++ moovWith(ftyp.length + moovLen + 8L) ++ buf.array()
    }
  }

  /** Deterministic synthetic media: image rows carry a REAL BMP payload
    * ([[synthBmp]]), audio rows a REAL RIFF/WAVE PCM payload
    * ([[synthWav]]); video carries a 16-byte header (modality tag,
    * width, height, n_frames) + pseudo-random body derived from the id
    * (its codec is stubbed). Stands in for real scraped bytes in
    * tests/benchmarks. The width/height metadata columns are as-scraped
    * metadata — for audio they are upstream noise; decode is the truth.
    */
  def synthesize(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val modality = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      if (modality == "image") {
        // real pixels: keep dims small enough that a 300-row table's
        // pixel volume stays oracle-recomputable (≤ 56×48×3 bytes)
        val w = 16 + (i % 6).toInt * 8
        val h = 16 + (i % 5).toInt * 8
        (i, modality, w, h, 1, synthBmp(i, w, h))
      } else if (modality == "audio") {
        val w = 64 + (i % 8).toInt * 32
        val h = 64 + (i % 5).toInt * 32
        (i, modality, w, h, 1, synthWav(i))
      } else {
        val w = 64 + (i % 8).toInt * 32
        val h = 64 + (i % 5).toInt * 32
        val frames = 8 + (i % 4).toInt
        (i, modality, w, h, frames, synthMp4(i))
      }
    }.toDF("media_id", "modality", "width", "height", "n_frames", "payload")
  }

  /** A real PNG whose pixel (x, y) carries EXACTLY the same RGB triple
    * as [[synthBmp]](i, w, h)'s — logical byte p = y·w·3 + x·3 is B,
    * p+1 G, p+2 R, each [[synthPixelByte]](i, p). PNG is lossless, so
    * an ImageIO decode replays the closed form bit-for-bit and the
    * BMP oracles carry over unchanged (the q202 contract). Encoded
    * through an explicit in-memory stream — no ImageIO temp-file
    * cache inside executors.
    */
  private[operators] def synthPng(i: Long, w: Int, h: Int): Array[Byte] =
    encodeSynthImage(i, w, h, "png")

  /** [[synthPng]]'s lossy sibling: the SAME logical pixels through the
    * JDK JPEG encoder (default quality). Decoded pixels are codec
    * output — only perceptual claims (pooled means, dHash stability)
    * hold, never pixel equality.
    */
  private[operators] def synthJpeg(i: Long, w: Int, h: Int): Array[Byte] =
    encodeSynthImage(i, w, h, "jpg")

  private def encodeSynthImage(i: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * w * 3 + x * 3
        val b = synthPixelByte(i, p)
        val g = synthPixelByte(i, p + 1)
        val r = synthPixelByte(i, p + 2)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      val ok = javax.imageio.ImageIO.write(img, fmt, out)
      require(ok, s"no ImageIO writer for format $fmt")
      out.flush()
    } finally out.close()
    bos.toByteArray
  }

  /** Image-only synthetic media in a chosen container format — the
    * SAME ids and dims as [[synthesize]]'s image rows (every third id
    * of range(n)), so the closed-form pixel oracles apply to every
    * format. `format`: "bmp" | "png" | "jpeg".
    */
  def synthesizeImages(spark: SparkSession, n: Int, format: String): DataFrame = {
    require(Set("bmp", "png", "jpeg").contains(format),
      s"format must be bmp|png|jpeg, got $format")
    import spark.implicits._
    spark.range(n.toLong).filter(_ % 3 == 0).map { i =>
      val w = 16 + (i % 6).toInt * 8
      val h = 16 + (i % 5).toInt * 8
      val payload = format match {
        case "bmp" => synthBmp(i, w, h)
        case "png" => synthPng(i, w, h)
        case _ => synthJpeg(i, w, h)
      }
      (i, "image", w, h, 1, payload)
    }.toDF("media_id", "modality", "width", "height", "n_frames", "payload")
  }

  /** The 16-entry GIF test palette, closed-form so SQL restates every
    * channel: entry j = (r, g, b) = (j·17, (j·37) mod 256, (j·53) mod
    * 256) — j·17 sweeps 0..255 exactly, the other two scramble.
    */
  private[operators] def gifPaletteRgb(j: Int): Int =
    ((j * 17) << 16) | (((j * 37) % 256) << 8) | ((j * 53) % 256)

  /** Palette index of pixel (x, y) in synthetic GIF i. */
  private[operators] def gifPixelIndex(i: Long, x: Int, y: Int): Int =
    ((i + 3L * x + 5L * y) % 16).toInt

  /** A real GIF89a. GIF's 256-color ceiling means [[synthPixelByte]]'s
    * full-color pattern cannot ride losslessly, so GIF rows carry a
    * 16-color closed-form pattern instead — drawn into a
    * `TYPE_BYTE_INDEXED` image over an exact `IndexColorModel` of
    * [[gifPaletteRgb]], which the JDK GIF writer encodes verbatim
    * (no quantization: every pixel IS a palette entry). An ImageIO
    * decode therefore replays the closed form bit-for-bit and the
    * dHash/pool oracles restate it in SQL (the q215 contract).
    */
  private[operators] def synthGif(i: Long, w: Int, h: Int): Array[Byte] = {
    val r = Array.tabulate(16)(j => ((gifPaletteRgb(j) >> 16) & 0xff).toByte)
    val g = Array.tabulate(16)(j => ((gifPaletteRgb(j) >> 8) & 0xff).toByte)
    val b = Array.tabulate(16)(j => (gifPaletteRgb(j) & 0xff).toByte)
    val cm = new java.awt.image.IndexColorModel(4, 16, r, g, b)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, 0xff000000 | gifPaletteRgb(gifPixelIndex(i, x, y)))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      val ok = javax.imageio.ImageIO.write(img, "gif", out)
      require(ok, "no ImageIO writer for format gif")
      out.flush()
    } finally out.close()
    bos.toByteArray
  }

  /** Image-only synthetic media as real GIF89a files — [[synthesize]]'s
    * image ids and dims with the [[synthGif]] palette pattern.
    */
  def synthesizeGifImages(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).filter(_ % 3 == 0).map { i =>
      val w = 16 + (i % 6).toInt * 8
      val h = 16 + (i % 5).toInt * 8
      (i, "image", w, h, 1, synthGif(i, w, h))
    }.toDF("media_id", "modality", "width", "height", "n_frames", "payload")
  }

  /** Decoded-frame contract produced by [[decodeFeatures]]. */
  case class MediaFeatures(mediaId: Long, modality: String,
                           decodedWidth: Int, decodedHeight: Int,
                           nFramesSampled: Int, feature: Array[Float])

  /** REAL BMP decode, pure byte arithmetic — no codec dependency. The
    * headers and pixels come from [[decodeBmpRgb]], which supports
    * exactly 24-bit uncompressed BI_RGB and refuses anything else, and
    * every hostile header, loudly with the media_id. The 16-dim feature:
    * lane d = the mean intensity of the pixel bytes at logical position
    * ≡ d (mod 16), bytes as UNSIGNED 0–255 intensities in B, G, R order,
    * rows top-down.
    */
  private[operators] def decodeBmp(id: Long, payload: Array[Byte]): MediaFeatures = {
    require(payload.length >= 2 && payload(0) == 'B'.toByte && payload(1) == 'M'.toByte,
      s"not a BMP payload (media_id=$id)")
    val img = decodeBmpRgb(id, payload, "decodeBmp")
    val feature = laneMeans(img.w * img.h * 3, { j =>
      val p = j / 3
      (img.rgb(p % img.w, p / img.w) >> (8 * (j % 3))) & 0xff
    })
    MediaFeatures(id, "image", img.w, img.h, 1, feature)
  }

  /** Lane d = the mean of `value(j)` over j < n with j ≡ d (mod 16); 0
    * for an empty lane. The 16-dim feature of [[decodeBmp]] and
    * [[decodeWavFeatures]].
    */
  private def laneMeans(n: Int, value: Int => Int): Array[Float] = {
    val sum = new Array[Long](16)
    val cnt = new Array[Long](16)
    var j = 0
    while (j < n) { sum(j % 16) += value(j); cnt(j % 16) += 1; j += 1 }
    Array.tabulate(16)(d => if (cnt(d) == 0) 0f else (sum(d).toDouble / cnt(d)).toFloat)
  }

  /** Parsed PCM audio: fmt-chunk fields + the decoded samples as signed
    * ints (16-bit: as-is; 8-bit unsigned: centered to [-128, 127]).
    */
  private[operators] final case class WavPcm(sampleRate: Int, channels: Int,
                                             bits: Int, samples: Array[Int]) {
    def nFrames: Int = samples.length / channels
  }

  /** REAL RIFF/WAVE PCM decode, pure byte arithmetic — no codec
    * dependency. Walks the chunk list from offset 12 (each chunk is a
    * 4-byte ASCII id + LE uint32 size + body, ODD sizes padded to even
    * with a byte that is NOT counted in the size — the RIFF rule real
    * encoders exercise via odd-length LIST/INFO chunks), reads the
    * `fmt ` fields, and decodes the `data` chunk's samples. Supports
    * exactly what it claims — PCM (format 1) at 16-bit signed LE or
    * 8-bit unsigned — and refuses anything else loudly (float/ADPCM/
    * extensible need a real codec path).
    */
  private[operators] def parseWav(id: Long, payload: Array[Byte]): WavPcm = {
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int) = new String(payload, off, 4, "US-ASCII")
    require(payload.length >= 12 && fourCC(0) == "RIFF" && fourCC(8) == "WAVE",
      s"not a RIFF/WAVE payload (media_id=$id)")
    var pos = 12
    var fmt: Option[(Int, Int, Int, Int)] = None // format, channels, rate, bits
    var data: Option[(Int, Int)] = None          // offset, length
    while (pos + 8 <= payload.length && (fmt.isEmpty || data.isEmpty)) {
      val cid = fourCC(pos)
      val sz = buf.getInt(pos + 4)
      require(sz >= 0 && pos + 8 + sz <= payload.length,
        s"truncated RIFF chunk '$cid' at $pos: size=$sz of ${payload.length} bytes (media_id=$id)")
      if (cid == "fmt ") {
        require(sz >= 16, s"fmt chunk too short: $sz bytes (media_id=$id)")
        fmt = Some((buf.getShort(pos + 8).toInt, buf.getShort(pos + 10).toInt,
          buf.getInt(pos + 12), buf.getShort(pos + 22).toInt))
      } else if (cid == "data") data = Some((pos + 8, sz))
      pos += 8 + sz + (sz & 1) // odd-size chunks carry one pad byte
    }
    val (format, channels, rate, bits) = fmt.getOrElse(
      sys.error(s"no fmt chunk in WAV (media_id=$id)"))
    val (dOff, dLen) = data.getOrElse(sys.error(s"no data chunk in WAV (media_id=$id)"))
    require(format == 1 && (bits == 16 || bits == 8),
      s"parseWav supports PCM 16/8-bit only, got format=$format bits=$bits (media_id=$id)")
    require(channels >= 1 && rate >= 1,
      s"degenerate fmt: channels=$channels rate=$rate (media_id=$id)")
    val bytesPerSample = bits / 8
    require(dLen % (bytesPerSample * channels) == 0,
      s"data length $dLen not a whole number of $channels-channel frames (media_id=$id)")
    val n = dLen / bytesPerSample
    val samples = new Array[Int](n)
    var j = 0
    if (bits == 16) while (j < n) { samples(j) = buf.getShort(dOff + 2 * j).toInt; j += 1 }
    else while (j < n) { samples(j) = (payload(dOff + j) & 0xff) - 128; j += 1 }
    WavPcm(rate, channels, bits, samples)
  }

  /** Per-file audio statistics computed from real decoded PCM. */
  case class AudioStats(mediaId: Long, sampleRate: Int, channels: Int,
                        bits: Int, nFrames: Int, durationUs: Long,
                        peak: Int, sumSq: Long, rms: Double)

  private[operators] def wavStats(id: Long, payload: Array[Byte]): AudioStats = {
    val pcm = parseWav(id, payload)
    var peak = 0; var sumSq = 0L
    var j = 0
    while (j < pcm.samples.length) {
      val v = pcm.samples(j)
      if (math.abs(v) > peak) peak = math.abs(v)
      sumSq += v.toLong * v
      j += 1
    }
    val rms = if (pcm.samples.isEmpty) 0.0
      else math.sqrt(sumSq.toDouble / pcm.samples.length)
    AudioStats(id, pcm.sampleRate, pcm.channels, pcm.bits, pcm.nFrames,
      pcm.nFrames.toLong * 1000000L / pcm.sampleRate, peak, sumSq, rms)
  }

  /** Partition-wise audio decode over a media table's WAV payloads —
    * same `mapPartitions` shape as [[decodeFeatures]] (codec state once
    * per partition; here the "codec" is [[parseWav]]).
    */
  def audioStats(media: DataFrame): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions(_.map { case (id, p) => wavStats(id, p) })
  }

  /** [[MediaFeatures]] view of a WAV payload for the unified decode
    * path: decodedWidth/Height carry sample rate and channel count (the
    * audio "geometry"), nFramesSampled the PCM frame count, and lane d
    * of the feature the mean of samples at flat index ≡ d (mod 16).
    */
  private[operators] def decodeWavFeatures(id: Long, payload: Array[Byte]): MediaFeatures = {
    val pcm = parseWav(id, payload)
    MediaFeatures(id, "audio", pcm.sampleRate, pcm.channels, pcm.nFrames,
      laneMeans(pcm.samples.length, pcm.samples(_)))
  }

  /** Parsed ISO BMFF metadata: movie-header clock + the video trak's
    * dimensions/codec/frame count + the mdat payload extent.
    */
  private[operators] final case class Mp4Meta(timescale: Long, duration: Long,
                                              width: Int, height: Int,
                                              codec: String, nFrames: Int,
                                              mdatOffset: Int, mdatLen: Int) {
    def durationUs: Long =
      if (timescale == 0) 0L else duration * 1000000L / timescale
  }

  /** REAL ISO BMFF (MP4) box parse, pure byte arithmetic — no codec
    * dependency. Walks the big-endian size+fourcc box list with the
    * format's two structural quirks (size==1 → the 64-bit largesize
    * follows the fourcc; size==0 → the box runs to the end of its
    * enclosing container), recursing into moov/trak/mdia/minf/stbl.
    * Reads mvhd (timescale, duration — version 0's 32-bit or version
    * 1's 64-bit fields), and from each trak whose mdia/hdlr handler is
    * 'vide': tkhd's 16.16 fixed-point width/height, stsd's first
    * sample-entry fourcc (the codec), and stsz's sample count (the
    * frame count). Unknown boxes are skipped by size — the rule that
    * makes the format forward-compatible. Box order is NOT assumed
    * (mdat-before-moov files parse identically). Only FRAME decode
    * ([[decodeMp4Features]]) remains a deterministic stub.
    */
  private[operators] def parseMp4(id: Long, payload: Array[Byte]): Mp4Meta =
    parseMp4Internal(id, payload)._1

  private def parseMp4Internal(id: Long, payload: Array[Byte]): (Mp4Meta, TrakFields) = {
    val buf = java.nio.ByteBuffer.wrap(payload) // ISO BMFF is big-endian
    def fourCC(off: Int) = new String(payload, off, 4, "US-ASCII")
    require(payload.length >= 12 && fourCC(4) == "ftyp",
      s"not an ISO BMFF payload (media_id=$id)")
    var timescale = 0L; var duration = 0L
    var width = 0; var height = 0; var codec = ""; var nFrames = 0
    var mdatOffset = -1; var mdatLen = 0

    // walk the children of [from, to); returns nothing, accumulates above.
    // `inVideoTrak` is decided per-trak AFTER its subtree is scanned, so a
    // trak's fields are gathered into candidates first.
    def walk(from: Int, to: Int, commit: TrakFields => Unit): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val size32 = buf.getInt(pos)
        val name = fourCC(pos + 4)
        var hdr = 8
        val size: Long =
          if (size32 == 1) {
            require(pos + 16 <= to, s"truncated largesize box '$name' at $pos (media_id=$id)")
            hdr = 16
            buf.getLong(pos + 8)
          } else if (size32 == 0) (to - pos).toLong // terminal box: to container end
          else size32.toLong & 0xffffffffL
        require(size >= hdr && pos + size <= to,
          s"invalid box '$name' at $pos: size=$size in [$from,$to) (media_id=$id)")
        val b = pos + hdr // body start (version/flags included for full boxes)
        val bodyEnd = (pos + size).toInt
        name match {
          case "moov" | "mdia" | "minf" | "stbl" => walk(b, bodyEnd, commit)
          case "trak" =>
            // gather this trak's leaves into a trak-local accumulator,
            // committed only if its hdlr declares a video handler
            val f = new TrakFields
            gatherTrak(b, bodyEnd, f)
            commit(f)
          case "mvhd" =>
            val v = payload(b) & 0xff
            if (v == 1) { timescale = buf.getInt(b + 20).toLong & 0xffffffffL; duration = buf.getLong(b + 24) }
            else { timescale = buf.getInt(b + 12).toLong & 0xffffffffL; duration = buf.getInt(b + 16).toLong & 0xffffffffL }
          case "mdat" =>
            mdatOffset = b; mdatLen = bodyEnd - b
          case _ => () // ftyp/free/skip/udta/...: skip by size
        }
        pos = bodyEnd
      }
    }

    def gatherTrak(from: Int, to: Int, f: TrakFields): Unit = {
      var pos = from
      while (pos + 8 <= to) {
        val size32 = buf.getInt(pos)
        val name = fourCC(pos + 4)
        var hdr = 8
        val size: Long =
          if (size32 == 1) { hdr = 16; buf.getLong(pos + 8) }
          else if (size32 == 0) (to - pos).toLong
          else size32.toLong & 0xffffffffL
        require(size >= hdr && pos + size <= to,
          s"invalid box '$name' at $pos in trak (media_id=$id)")
        val b = pos + hdr
        val bodyEnd = (pos + size).toInt
        name match {
          case "mdia" | "minf" | "stbl" => gatherTrak(b, bodyEnd, f)
          case "tkhd" =>
            val v = payload(b) & 0xff
            val wOff = if (v == 1) b + 88 else b + 76
            f.width = buf.getInt(wOff) >>> 16 // 16.16 fixed point
            f.height = buf.getInt(wOff + 4) >>> 16
          case "hdlr" =>
            f.handler = fourCC(b + 8) // version/flags(4) + pre_defined(4)
          case "mdhd" =>
            val v = payload(b) & 0xff
            f.mediaTimescale =
              if (v == 1) buf.getInt(b + 20).toLong & 0xffffffffL
              else buf.getInt(b + 12).toLong & 0xffffffffL
          case "stsd" =>
            // version/flags(4) + entry_count(4) + first entry: size(4) + fourcc
            if (buf.getInt(b + 4) > 0) f.codec = fourCC(b + 12)
          case "stsz" =>
            f.nFrames = buf.getInt(b + 8) // sample_count (after sample_size)
            f.stszOff = b
          case "stts" => f.sttsOff = b
          case "stsc" => f.stscOff = b
          case "stco" => f.stcoOff = b
          case "co64" => f.co64Off = b
          case "stss" => f.stssOff = b
          case _ => ()
        }
        pos = bodyEnd
      }
    }

    var videoTrak: TrakFields = null
    walk(0, payload.length, f => if (f.handler == "vide") {
      width = f.width; height = f.height; codec = f.codec; nFrames = f.nFrames
      videoTrak = f
    })
    require(timescale > 0, s"no mvhd found (media_id=$id)")
    require(nFrames > 0 && width > 0,
      s"no video trak with stsz/tkhd found (media_id=$id)")
    (Mp4Meta(timescale, duration, width, height, codec, nFrames, mdatOffset, mdatLen),
      videoTrak)
  }

  /** Per-trak accumulator for [[parseMp4]]'s subtree scan. Sample-box
    * fields hold BODY offsets (after the 8-byte header, version/flags
    * included) into the payload, −1 when the box is absent.
    */
  private final class TrakFields {
    var handler: String = ""
    var width: Int = 0
    var height: Int = 0
    var codec: String = ""
    var nFrames: Int = 0
    var mediaTimescale: Long = 0L
    var sttsOff: Int = -1
    var stscOff: Int = -1
    var stszOff: Int = -1
    var stcoOff: Int = -1
    var co64Off: Int = -1
    var stssOff: Int = -1
  }

  /** One row of the video trak's sample table: byte extent + decode
    * timestamp of sample `sampleIdx` (0-based). `offset` is absolute in
    * the file; `offsetInChunk` is relative to its chunk's stco/co64
    * base. `sync` per stss (all true when stss is absent, per spec).
    */
  final case class Mp4Sample(sampleIdx: Int, chunkIdx: Int, size: Long,
                             offset: Long, offsetInChunk: Long,
                             dtsTicks: Long, sync: Boolean)

  /** REAL sample-table resolution, the byte arithmetic every frame-level
    * video pipeline runs before any codec is touched: stsz sizes (fixed
    * or per-sample), stsc run-length chunk mapping (first_chunk runs,
    * 1-based), stco/co64 chunk bases, stts decode-time runs, stss sync
    * marks. Returns every sample's absolute byte extent + timestamp, and
    * the mdhd MEDIA timescale that converts dtsTicks to wall time
    * (mvhd's movie timescale is the wrong clock for sample times).
    */
  private[operators] def mp4SampleTable(id: Long,
                                        payload: Array[Byte]): (Array[Mp4Sample], Long) = {
    val (_, trak) = parseMp4Internal(id, payload)
    val buf = java.nio.ByteBuffer.wrap(payload)
    require(trak.stszOff >= 0 && trak.stscOff >= 0 && trak.sttsOff >= 0 &&
      (trak.stcoOff >= 0 || trak.co64Off >= 0),
      s"video trak missing sample boxes (media_id=$id)")
    val n = trak.nFrames

    // stsz: fixed sample_size or per-sample table
    val fixedSize = buf.getInt(trak.stszOff + 4).toLong & 0xffffffffL
    def sampleSize(k: Int): Long =
      if (fixedSize != 0) fixedSize
      else buf.getInt(trak.stszOff + 12 + 4 * k).toLong & 0xffffffffL

    // stco/co64 chunk bases
    val useCo64 = trak.stcoOff < 0
    val chunkBase = if (useCo64) trak.co64Off else trak.stcoOff
    val nChunks = buf.getInt(chunkBase + 4)
    def chunkOffset(c: Int): Long = // c 0-based
      if (useCo64) buf.getLong(chunkBase + 8 + 8 * c)
      else buf.getInt(chunkBase + 8 + 4 * c).toLong & 0xffffffffL

    // stsc: (first_chunk, samples_per_chunk) runs — entry applies from
    // its first_chunk until the next entry's
    val nStsc = buf.getInt(trak.stscOff + 4)
    def stscEntry(e: Int): (Int, Int) = (
      buf.getInt(trak.stscOff + 8 + 12 * e), // first_chunk, 1-based
      buf.getInt(trak.stscOff + 8 + 12 * e + 4)) // samples_per_chunk

    // stts: (sample_count, sample_delta) runs → cumulative dts
    val nStts = buf.getInt(trak.sttsOff + 4)

    // stss: ascending 1-based sync sample numbers; absent → all sync
    val syncSet: java.util.BitSet = if (trak.stssOff < 0) null else {
      val m = buf.getInt(trak.stssOff + 4)
      val bs = new java.util.BitSet(n + 1)
      var e = 0
      while (e < m) { bs.set(buf.getInt(trak.stssOff + 8 + 4 * e)); e += 1 }
      bs
    }

    val out = new Array[Mp4Sample](n)
    var k = 0 // sample index, 0-based
    var chunk = 0 // 0-based chunk index
    var stscIdx = 0
    var dts = 0L
    var sttsIdx = 0
    var sttsLeft = if (nStts > 0) buf.getInt(trak.sttsOff + 8) else 0
    var sttsDelta = if (nStts > 0) buf.getInt(trak.sttsOff + 12).toLong else 0L
    while (k < n && chunk < nChunks) {
      // samples_per_chunk for this chunk: advance the stsc run pointer
      while (stscIdx + 1 < nStsc && stscEntry(stscIdx + 1)._1 <= chunk + 1) stscIdx += 1
      val perChunk = stscEntry(stscIdx)._2
      val base = chunkOffset(chunk)
      var inChunk = 0
      var rel = 0L
      while (inChunk < perChunk && k < n) {
        val sz = sampleSize(k)
        out(k) = Mp4Sample(k, chunk, sz, base + rel, rel, dts,
          syncSet == null || syncSet.get(k + 1))
        dts += sttsDelta
        sttsLeft -= 1
        if (sttsLeft == 0 && sttsIdx + 1 < nStts) {
          sttsIdx += 1
          sttsLeft = buf.getInt(trak.sttsOff + 8 + 8 * sttsIdx)
          sttsDelta = buf.getInt(trak.sttsOff + 12 + 8 * sttsIdx).toLong
        }
        rel += sz
        k += 1
        inChunk += 1
      }
      chunk += 1
    }
    require(k == n, s"sample table resolved $k of $n samples (media_id=$id)")
    val mediaTs = if (trak.mediaTimescale > 0) trak.mediaTimescale else 1L
    (out, mediaTs)
  }

  /** MP4 decode for the unified feature path: the METADATA half (dims,
    * frame count) is real [[parseMp4]] output; the FEATURE half is the
    * clearly-marked deterministic STUB — lane d averages the raw mdat
    * bytes at index ≡ d (mod 16) as signed values, standing in for
    * decoded-pixel features. A real implementation hands the payload to
    * ffmpeg/javacv HERE and nothing else changes.
    */
  private[operators] def decodeMp4Features(id: Long, payload: Array[Byte],
                                           frameStride: Int): MediaFeatures = {
    val meta = parseMp4(id, payload)
    require(meta.mdatOffset >= 0, s"no mdat box (media_id=$id)")
    val sampled = math.max(1, meta.nFrames / math.max(1, frameStride))
    val feature = Array.tabulate(16) { d =>
      var acc = 0f
      var j = meta.mdatOffset + d
      while (j < meta.mdatOffset + meta.mdatLen) { acc += payload(j); j += 16 }
      acc / meta.mdatLen
    }
    MediaFeatures(id, "video", meta.width, meta.height, sampled, feature)
  }

  /** Format dispatch on magic bytes: real BMP decode for "BM" payloads,
    * real WAV decode for "RIFF" payloads, real MP4 box parse (metadata) +
    * marked feature stub for ISO BMFF payloads; anything else fails
    * loudly rather than guessing.
    */
  private[operators] def decodePayload(id: Long, payload: Array[Byte],
                                       frameStride: Int): MediaFeatures =
    if (payload.length >= 2 && payload(0) == 'B'.toByte && payload(1) == 'M'.toByte)
      decodeBmp(id, payload)
    else if (payload.length >= 4 &&
      payload(0) == 'R'.toByte && payload(1) == 'I'.toByte &&
      payload(2) == 'F'.toByte && payload(3) == 'F'.toByte)
      decodeWavFeatures(id, payload)
    else if (payload.length >= 12 &&
      new String(payload, 4, 4, "US-ASCII") == "ftyp")
      decodeMp4Features(id, payload, frameStride)
    else throw new IllegalArgumentException(
      s"unrecognized payload magic (media_id=$id): " +
        payload.take(8).map(b => f"${b & 0xff}%02x").mkString(" "))

  /** Parsed per-file video metadata row produced by [[videoMetadata]]. */
  case class VideoMeta(mediaId: Long, codec: String, timescale: Long,
                       durationTicks: Long, width: Int, height: Int,
                       nFrames: Int, durationUs: Long)

  /** Partition-wise MP4 metadata extraction over a media table's video
    * payloads — real container parse, same `mapPartitions` shape as
    * [[audioStats]] (parser state once per partition).
    */
  def videoMetadata(media: DataFrame): Dataset[VideoMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions(_.map { case (id, p) =>
        val m = parseMp4(id, p)
        VideoMeta(id, m.codec, m.timescale, m.duration, m.width, m.height,
          m.nFrames, m.durationUs)
      })
  }

  /** One selected frame of a video payload: sample-table extent +
    * timestamps + a checksum of the ACTUAL bytes at the resolved
    * offset (proof the extent indexes real data — the range a real
    * pipeline would hand to the codec).
    */
  case class FrameSampleRow(mediaId: Long, sampleIdx: Int, chunkIdx: Int,
                            size: Long, offsetInChunk: Long, dtsTicks: Long,
                            dtsUs: Long, sync: Boolean, byteSum: Long)

  /** Frame sampling over a media table's MP4 payloads: resolve each
    * file's sample table ([[mp4SampleTable]] — real stsz/stsc/stco/stts/
    * stss arithmetic), keep every `stride`-th sample, and read the
    * sample's actual byte range (summed as signed bytes — the stub for
    * per-frame decode; a real implementation hands exactly this range
    * to the codec and nothing else changes). Per-file work is
    * sample-count-linear and payloads never leave their partition — the
    * 100-TB shape is "ship the sample extents, not the video".
    */
  def frameSamples(media: DataFrame, stride: Int = 1): Dataset[FrameSampleRow] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions(_.flatMap { case (id, p) =>
        val (samples, mediaTs) = mp4SampleTable(id, p)
        samples.iterator.filter(_.sampleIdx % stride == 0).map { s =>
          var sum = 0L
          var j = s.offset.toInt
          val end = (s.offset + s.size).toInt
          while (j < end) { sum += p(j); j += 1 }
          FrameSampleRow(id, s.sampleIdx, s.chunkIdx, s.size, s.offsetInChunk,
            s.dtsTicks, s.dtsTicks * 1000000L / mediaTs, s.sync, sum)
        }
      })
  }

  /** Partition-wise decode + feature extraction. `mapPartitions` so a real
    * codec/model would be constructed once per partition (the expensive
    * part), then stream rows through it — the exact shape arrow-batched
    * UDFs give a Python cluster. Repartition first when upstream
    * partitioning is skewed by payload size.
    */
  def decodeFeatures(media: DataFrame, frameStride: Int = 2,
                     partitions: Int = 0): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val input = if (partitions > 0) media.repartition(partitions) else media
    input.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])].mapPartitions { it =>
        // real impl: val codec = HeavyCodec.open()  (once per partition)
        it.map { case (id, p) => decodePayload(id, p, frameStride) }
      }
  }

  /** Metadata-only profile — must NOT read payload pages (verify with
    * .explain: ReadSchema excludes `payload`).
    */
  def metadataProfile(media: DataFrame): DataFrame =
    media.groupBy(col("modality"))
      .agg(count(lit(1)).as("n"),
        avg(col("width") * col("height")).as("avg_pixels"),
        sum(col("n_frames")).as("total_frames"))

  /** One decoded channel-0 PCM sample emitted by [[audioSpectrum]]'s
    * in-partition decode: flat frame index `n` of `nFrames`, value as
    * a double.
    */
  case class AudioSample(mediaId: Long, n: Int, nFrames: Int, v: Double)

  /** REAL spectral analysis over decoded WAV payloads: exact DFT bin
    * energies of each clip's channel-0 sample series — the
    * tone/voicing/bandwidth features an audio-data pipeline computes
    * before filtering or embedding, one step past [[audioStats]]'
    * time-domain moments. For bin k over N frames,
    * `power_k = ((Σ xₙ·cos(2πkn/N))² + (Σ xₙ·sin(2πkn/N))²) / N²`,
    * reported as `ln(1 + power)` — the log compresses the dynamic
    * range AND keeps the value float-stable enough for an exact
    * cross-engine oracle round (the q75 ln-parity precedent).
    *
    * Spark-first split: the WAV decode ([[parseWav]], real RIFF walk)
    * runs in-partition via flatMap; everything after — the bin
    * explode, the codegen'd cos/sin weighting, the partial-aggregated
    * sums — is declarative, so the shuffle carries (media × bins)
    * partial sums, never raw samples.
    */
  def audioSpectrum(media: DataFrame, bins: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(bins.nonEmpty && bins.forall(_ >= 1), s"bins must be >= 1, got $bins")
    val spark = media.sparkSession
    import spark.implicits._
    val samples = media.filter(col("modality") === "audio")
      .select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        val wav = parseWav(id, p)
        val nf = wav.nFrames
        (0 until nf).iterator.map(n =>
          AudioSample(id, n, nf, wav.samples(n * wav.channels).toDouble))
      }.toDF()
    // angle built left-associated exactly as the oracle writes it:
    // ((2·π · bin) · n) / N — float parity is part of the contract
    val angle = lit(2 * math.Pi) * col("bin") * col("n") / col("nFrames")
    samples
      .select(col("mediaId").as("media_id"), col("n"), col("nFrames"), col("v"),
        explode(lit(bins.toArray)).as("bin"))
      .groupBy(col("media_id"), col("bin"), col("nFrames"))
      .agg(sum(col("v") * cos(angle)).as("__c"),
        sum(col("v") * sin(angle)).as("__s"))
      .select(col("media_id"), col("bin"),
        log(lit(1.0) +
          (col("__c") * col("__c") + col("__s") * col("__s")) /
            (col("nFrames") * col("nFrames")).cast("double"))
          .as("log_power"))
  }

  /** Decoded RGB accessor: `w`, `h`, and packed `0xRRGGBB` at logical
    * TOP-DOWN (x, y) — the format-independent contract the image
    * kernels ([[imagePool]], [[imageDHash]]) consume.
    */
  private[operators] final class RgbImage(val w: Int, val h: Int,
                                          f: (Int, Int) => Int) {
    def rgb(x: Int, y: Int): Int = f(x, y)
  }

  /** Format dispatch by magic bytes: BMP (`BM`, decoded by the pure
    * byte-arithmetic path below — no codec dependency), PNG
    * (`\x89PNG`), JPEG (`\xFF\xD8\xFF`) and GIF (`GIF8`, both 87a and
    * 89a — for an ANIMATED gif the decode is the FIRST frame, the
    * thumbnail/near-dup convention) via the JDK's `javax.imageio`
    * (public platform API, present in every JRE). WebP stays refused:
    * no JDK decoder exists, and a silent wrong answer is worse than a
    * loud gap (the HTTP-transport convention). Anything else is
    * refused loudly — a 100 TB corpus WILL contain garbage rows and
    * they must fail with the media_id, not an ArrayIndexOutOfBounds
    * three stack frames deep.
    */
  private[operators] def decodeRgb(id: Long, payload: Array[Byte],
                                   what: String): RgbImage = {
    require(payload != null && payload.length >= 8,
      s"$what: payload too short to identify a format (media_id=$id)")
    if (payload(0) == 'B'.toByte && payload(1) == 'M'.toByte)
      decodeBmpRgb(id, payload, what)
    else if ((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte &&
             payload(2) == 'N'.toByte && payload(3) == 'G'.toByte)
      decodeImageIoRgb(id, payload, what)
    else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8 &&
             (payload(2) & 0xff) == 0xff)
      decodeImageIoRgb(id, payload, what)
    else if (payload(0) == 'G'.toByte && payload(1) == 'I'.toByte &&
             payload(2) == 'F'.toByte && payload(3) == '8'.toByte)
      decodeImageIoRgb(id, payload, what)
    else throw new IllegalArgumentException(
      s"$what: unsupported image payload (media_id=$id): magic bytes match none of BMP/PNG/JPEG/GIF")
  }

  /** The BMP side of [[decodeRgb]]: headers parsed by hand (LE data
    * offset at 10, dims at 18/22, bpp at 28, compression at 30),
    * bottom-up or top-down row order, rows padded to 4 bytes. All the
    * hostile-header refusals live HERE so every kernel shares them.
    */
  private def decodeBmpRgb(id: Long, payload: Array[Byte], what: String): RgbImage = {
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(payload.length >= 54,
      s"$what: truncated BMP header (media_id=$id)")
    val dataOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    val bitCount = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    require(bitCount == 24 && compression == 0,
      s"$what supports 24-bit uncompressed BI_RGB only, got bpp=$bitCount " +
        s"compression=$compression (media_id=$id)")
    val bottomUp = hRaw > 0
    val h = math.abs(hRaw)
    require(w > 0 && h > 0, s"$what: degenerate BMP dims ${w}x$hRaw (media_id=$id)")
    // needed-length check in Long: hostile headers declaring huge dims
    // would overflow Int arithmetic, pass the require, and crash with
    // ArrayIndexOutOfBounds instead of this clean refusal
    val rowSizeL = ((w.toLong * 3 + 3) / 4) * 4
    val needed = dataOffset.toLong + rowSizeL * h
    require(dataOffset >= 54 && payload.length >= needed,
      s"truncated BMP: need $needed bytes from offset $dataOffset, have " +
        s"${payload.length} (media_id=$id)")
    val rowSize = rowSizeL.toInt // safe: needed <= payload.length fits in Int
    new RgbImage(w, h, (x, y) => {
      val srcRow = if (bottomUp) h - 1 - y else y
      val o = dataOffset + srcRow * rowSize + x * 3
      ((payload(o + 2) & 0xff) << 16) | ((payload(o + 1) & 0xff) << 8) | (payload(o) & 0xff)
    })
  }

  /** The codec side of [[decodeRgb]]: PNG/JPEG through `ImageIO` with
    * an explicit in-memory stream (the default path spools through
    * temp FILES — unacceptable inside an executor flatMap). PNG is
    * lossless, so decoded pixels replay a closed-form generator
    * exactly (the q202 oracle); JPEG pixels are codec-output and only
    * perceptual claims hold. Corrupt/truncated payloads surface as a
    * clean refusal with the media_id.
    */
  private def decodeImageIoRgb(id: Long, payload: Array[Byte], what: String): RgbImage = {
    val img =
      try {
        // NB: unlike the rest of ImageIO, read(ImageInputStream) closes
        // the stream itself — closing again throws IOException("closed")
        javax.imageio.ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload)))
      } catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"$what: corrupt image payload (media_id=$id): ${e.getMessage}")
        case e: RuntimeException => throw new IllegalArgumentException(
          s"$what: corrupt image payload (media_id=$id): ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    require(img != null,
      s"$what: undecodable image payload (media_id=$id): ImageIO found no reader")
    new RgbImage(img.getWidth, img.getHeight, (x, y) => img.getRGB(x, y))
  }

  /** One pooled cell of [[imagePool]]: per-channel box means over the
    * cell's source-pixel region, doubles (callers round).
    */
  case class ImageCell(mediaId: Long, cellX: Int, cellY: Int,
                       rMean: Double, gMean: Double, bMean: Double)

  /** REAL image downsampling — gridW×gridH box-mean pooling (the
    * resize/thumbnail kernel every vision-data pipeline runs before
    * embedding) over actually-decoded pixels: BMP by pure byte
    * arithmetic, PNG/JPEG via the JDK's ImageIO ([[decodeRgb]]
    * dispatches on magic bytes). Source pixel (x, y) pools into
    * cell (x·gridW ∕ w, y·gridH ∕ h) — integer floor, the partition
    * that handles non-divisible dims — and each channel's cell mean is
    * the exact sum÷count double. Refuses grids finer than the source
    * (an empty cell has no mean) and undecodable payloads, loudly.
    *
    * Scale shape: payloads are decoded AND reduced to gridW·gridH·3
    * numbers inside their partition (flatMap) — pixels never shuffle,
    * the [[decodeFeatures]] contract.
    */
  def imagePool(media: DataFrame, gridW: Int = 4, gridH: Int = 4): Dataset[ImageCell] = {
    require(gridW >= 1 && gridH >= 1, s"grid must be >= 1x1, got ${gridW}x$gridH")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) => poolImage(id, p, gridW, gridH) }
  }

  private[operators] def poolImage(id: Long, payload: Array[Byte],
                                   gw: Int, gh: Int): Seq[ImageCell] = {
    val img = decodeRgb(id, payload, "imagePool")
    val w = img.w
    val h = img.h
    require(w >= gw && h >= gh,
      s"grid ${gw}x$gh finer than source ${w}x$h (media_id=$id): a cell " +
        "with no source pixels has no mean")
    // sums/counts per (cell, channel) in R, G, B order
    val sums = new Array[Long](gw * gh * 3)
    val counts = new Array[Long](gw * gh)
    var y = 0
    while (y < h) {
      val cy = y * gh / h
      var x = 0
      while (x < w) {
        val cell = cy * gw + x * gw / w
        val rgb = img.rgb(x, y)
        sums(cell * 3) += ((rgb >> 16) & 0xff).toLong
        sums(cell * 3 + 1) += ((rgb >> 8) & 0xff).toLong
        sums(cell * 3 + 2) += (rgb & 0xff).toLong
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    (0 until gh).flatMap(cy => (0 until gw).map { cx =>
      val cell = cy * gw + cx
      val n = counts(cell).toDouble
      ImageCell(id, cx, cy,
        sums(cell * 3) / n, sums(cell * 3 + 1) / n, sums(cell * 3 + 2) / n)
    })
  }

  /** 64-bit perceptual difference hash (dHash — Krawetz's "kind of like
    * a hash" 2013 writeup; the standard cheap near-dup signature for
    * images): pool to a 9-wide × 8-tall luma grid, bit (x,y) = 1 iff
    * cell (x+1,y) is brighter than cell (x,y). Brightness- and
    * scale-robust BY CONSTRUCTION (a constant shift cancels in the
    * difference; pooling absorbs resizes) — q164 pins the invariance.
    *
    * Decodes BMP/PNG/JPEG ([[decodeRgb]]).
    * Arithmetic is ALL integer so an oracle can restate every bit:
    * luma = 299r + 587g + 114b (the BT.601 weights ×1000, no float),
    * cell means compared by cross-multiplication
    * (sumA·nB > sumB·nA), and the hash renders as 16 lowercase hex
    * chars — bit 63 never meets a signed overflow in either engine.
    * `delta` pre-shifts every channel byte by `min(v + delta, 255)`
    * (clamped), the q164 perturbation.
    *
    * Scale shape: one flatMap-side decode+reduce per payload — pixels
    * never shuffle; output is 8 bytes per image.
    */
  def imageDHash(media: DataFrame, delta: Int = 0): DataFrame =
    imageDHashRaw(media, delta)
      .withColumn("dhash", lower(lpad(hex(col("dhash64")), 16, "0")))
      .drop("dhash64")

  /** [[imageDHash]] with the hash as a raw signed long (`dhash64`) —
    * the joinable/XOR-able form hamming comparisons want.
    */
  def imageDHashRaw(media: DataFrame, delta: Int = 0): DataFrame = {
    require(delta >= 0 && delta <= 255, s"delta must be in [0,255], got $delta")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image")
      .select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => (id, dHashImage(id, p, delta)) }
      .toDF("media_id", "dhash64")
  }

  private[operators] def dHashImage(id: Long, payload: Array[Byte], delta: Int): Long = {
    val img = decodeRgb(id, payload, "imageDHash")
    val w = img.w
    val h = img.h
    require(w >= 9 && h >= 8,
      s"dHash needs at least 9x8 source pixels, got ${w}x$h (media_id=$id)")
    val sums = new Array[Long](9 * 8)
    val counts = new Array[Long](9 * 8)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val cell = cy * 9 + x * 9 / w
        val rgb = img.rgb(x, y)
        val r = math.min(((rgb >> 16) & 0xff) + delta, 255).toLong
        val g = math.min(((rgb >> 8) & 0xff) + delta, 255).toLong
        val b = math.min((rgb & 0xff) + delta, 255).toLong
        sums(cell) += 299L * r + 587L * g + 114L * b
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val a = cy * 9 + cx
        val b = a + 1
        // mean(b) > mean(a) without division: cross-multiply the sums
        if (sums(b) * counts(a) > sums(a) * counts(b))
          hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }
}