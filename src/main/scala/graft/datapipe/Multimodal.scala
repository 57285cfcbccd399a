package graft.datapipe

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` content plus
  * a typed metadata struct, with decode / feature-extract / resize /
  * frame-sample implemented as executor-side `mapPartitions` operators.
  *
  * All three modalities carry REAL codecs: audio (RIFF/WAVE PCM16),
  * image (24bpp BMP and RLE8-COMPRESSED 8bpp BMP), and video
  * (uncompressed 24bpp AVI — RIFF container, raw DIB frames). Each
  * uses only its public spec — no codec library — and each roundtrip
  * is oracle-checked against a closed-form sample/pixel definition
  * recomputed in SQL; the RLE8 path is a genuine compressed format
  * (token-stream decode, not a fixed pixel grid). `decodeFeatures`
  * remains as the clearly-marked boundary PATTERN for formats whose
  * decoders are external libraries (JPEG/H.264/MP3): schema,
  * partitioning and metadata algebra are the real plumbing a
  * library-backed decoder drops into.
  */
object Multimodal {

  /** Wrap a text corpus as fake media rows: content = utf-8 bytes,
    * metadata derived deterministically from the doc columns.
    */
  def asMedia(docs: DataFrame, idCol: String, textCol: String, nCharsCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("content"),
      struct(
        (col(idCol) % 640 + 32).cast("int").as("width"),
        (col(idCol) % 480 + 32).cast("int").as("height"),
        lit(24).as("fps"),
        (col(nCharsCol) % 60 + 1).cast("int").as("duration_s"),
        lit("fake/raw").as("format")).as("meta"))

  /** Frame-sample indexes: one frame per second of video. Pure column
    * algebra — no decode needed to plan the sampling.
    */
  def frameSampleIndexes(meta: Column): Column =
    sequence(lit(0), (meta.getField("duration_s") - 1) * meta.getField("fps"), meta.getField("fps"))

  /** Resize metadata to fit `target` on the long side (integer math so
    * every engine agrees).
    */
  def resizeMeta(meta: Column, target: Int): Column = {
    val w = meta.getField("width").cast("long")
    val h = meta.getField("height").cast("long")
    val longSide = greatest(w, h)
    struct(
      ((w * target) / longSide).cast("int").as("width"),
      ((h * target) / longSide).cast("int").as("height"),
      meta.getField("fps").as("fps"),
      meta.getField("duration_s").as("duration_s"),
      meta.getField("format").as("format"))
  }

  // ---------------------------------------------------------------
  // Row plumbing shared by every codec operator below: each one is a
  // single executor-side mapPartitions (one MapPartitions plan node)
  // from a row's id — and, for decoders, its content bytes — to that
  // row's output rows.
  // ---------------------------------------------------------------

  private val mediaId = StructField("media_id", LongType)

  /** The (media_id, content) rows that fixtures and transcoders write. */
  private val mediaFields = Seq(mediaId, StructField("content", BinaryType))

  /** Fixtures (`decodes = false`) key their rows by `idCol` and read no content. */
  private def perRow(in: DataFrame, fields: Seq[StructField], idCol: String = "media_id",
                     decodes: Boolean = true)(out: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame = {
    val idIdx = in.schema.fieldIndex(idCol)
    val contentIdx = if (decodes) in.schema.fieldIndex("content") else -1
    in.mapPartitions(_.flatMap { r =>
      out(r.getLong(idIdx), if (decodes) r.getAs[Array[Byte]](contentIdx) else null)
    })(Encoders.row(StructType(fields)))
  }

  /** A fixture: the encoded media rows for each value of `idCol`. */
  private def synth(df: DataFrame, idCol: String)(media: Long => Seq[Row]): DataFrame =
    perRow(df, mediaFields, idCol, decodes = false)((id, _) => media(id))

  private def le(buf: ByteBuffer): ByteBuffer = buf.order(ByteOrder.LITTLE_ENDIAN)

  private def fourCC(buf: ByteBuffer): String = {
    val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
  }

  private def putFourCC(buf: ByteBuffer, cc: String): ByteBuffer = buf.put(cc.getBytes("US-ASCII"))

  /** Check a RIFF header and its `form`; the buffer is left at the first chunk. */
  private def openRiff(bytes: Array[Byte], form: String, formError: String): ByteBuffer = {
    val buf = le(ByteBuffer.wrap(bytes))
    require(fourCC(buf) == "RIFF", "not a RIFF file")
    buf.getInt // riff payload size (trust the chunk walk, not this)
    require(fourCC(buf) == form, formError)
    buf
  }

  // ---------------------------------------------------------------
  // REAL audio codec: RIFF/WAVE PCM16 needs no codec library — it's
  // a chunked byte format — so, like the image and video codecs below,
  // the audio path encodes and decodes actual WAV files. The
  // q_mm_wav_roundtrip oracle computes the same features from the
  // closed-form sample definition in SQL: if this decoder misreads
  // headers, chunk sizes, or sample bytes, the hash compare fails.
  // ---------------------------------------------------------------

  /** Encode mono PCM16 samples as a standard RIFF/WAVE byte array. */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = le(ByteBuffer.allocate(44 + dataLen))
    putFourCC(buf, "RIFF").putInt(36 + dataLen)
    putFourCC(buf, "WAVE")
    putFourCC(buf, "fmt ").putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate = sr * block align
      .putShort(2).putShort(16) // block align, bits/sample
    putFourCC(buf, "data").putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Decode a mono PCM16 RIFF/WAVE byte array: walk the chunk list
    * (skipping unknown chunks, honoring odd-size padding), parse
    * `fmt `, slice `data`. Returns (sampleRate, samples).
    */
  def decodeWavPcm16(bytes: Array[Byte]): (Int, Array[Short]) = {
    val buf = openRiff(bytes, "WAVE", "not a WAVE file")
    var sampleRate = -1
    var samples: Array[Short] = null
    while (buf.remaining() >= 8 && (sampleRate < 0 || samples == null)) {
      val id = fourCC(buf)
      val size = buf.getInt
      id match {
        case "fmt " =>
          val fmtEnd = buf.position() + size
          val audioFormat = buf.getShort
          val channels = buf.getShort
          require(audioFormat == 1 && channels == 1, s"only PCM mono supported, got fmt=$audioFormat ch=$channels")
          sampleRate = buf.getInt
          buf.getInt; buf.getShort // byte rate, block align
          require(buf.getShort == 16, "only 16-bit samples supported")
          buf.position(fmtEnd)
        case "data" =>
          require(size % 2 == 0 && size <= buf.remaining(), s"bad data chunk size $size")
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
        case _ =>
          buf.position(buf.position() + size + (size & 1)) // unknown chunk + pad byte
      }
    }
    require(sampleRate > 0 && samples != null, "missing fmt/data chunk")
    (sampleRate, samples)
  }

  /** [[synthWav]]'s closed-form clip for `id`. */
  private def wavSamples(id: Long): Array[Short] =
    Array.tabulate((400 + (id % 5) * 200).toInt)(i => (((id * 31 + i * 7) % 2048) - 1024).toShort)

  /** Synthesize a deterministic WAV per row (the offline stand-in for
    * reading real recordings): n = 400 + (id % 5) * 200 samples of
    * s(i) = ((id * 31 + i * 7) % 2048) - 1024 at 8 kHz — the closed
    * form the roundtrip oracle recomputes in SQL.
    */
  def synthWav(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol)(id => Seq(Row(id, encodeWavPcm16(wavSamples(id), 8000))))

  /** Audio DSP on the real codec — decode, block-mean downsample by
    * `factor`, apply an integer-rational gain `gNum/gDen` with PCM16
    * saturation, and RE-ENCODE as WAV at the reduced rate (the
    * transcode step of an audio-corpus pipeline: normalize every clip
    * to one target rate/loudness before feature extraction).
    *
    * All sample math is floor-exact integer arithmetic
    * (`floorDiv(block_sum, factor)`, `floorDiv(v·gNum, gDen)`, clamp
    * to [-32768, 32767]) so any engine reproduces the output
    * bit-for-bit; the tail partial block is dropped (documented,
    * mirrored by the oracle).
    */
  def transcodeWav(media: DataFrame, factor: Int, gNum: Int, gDen: Int): DataFrame = {
    require(factor >= 1 && gDen >= 1, "factor and gDen must be positive")
    perRow(media, mediaFields) { (id, content) =>
      val (sr, samples) = decodeWavPcm16(content)
      // Same honest divisibility contract as transcodeAvi: a
      // non-divisible rate would silently truncate (8000/3 header
      // says 2666 Hz while the stream is 2666.67 Hz — every
      // rate-derived feature drifts).
      require(sr % factor == 0, s"sample rate $sr not divisible by $factor")
      val n2 = samples.length / factor
      val out = new Array[Short](n2)
      var j = 0
      while (j < n2) {
        var sum = 0L
        var i = j * factor
        val end = i + factor
        while (i < end) { sum += samples(i); i += 1 }
        val v = Math.floorDiv(sum, factor.toLong)
        val w = Math.floorDiv(v * gNum, gDen.toLong)
        out(j) = math.max(-32768L, math.min(32767L, w)).toShort
        j += 1
      }
      Iterator.single(Row(id, encodeWavPcm16(out, sr / factor)))
    }
  }

  /** Real decode + feature extraction over WAV content, like
    * `decodeFeatures`: per clip, (sample_rate, n_samples,
    * duration_ms, peak, sum_sq, rms). Integer features throughout;
    * rms is the one double, derived once per row from the integer
    * sums (engine-exact: one division + one sqrt).
    */
  def decodeWavFeatures(media: DataFrame): DataFrame =
    perRow(media, Seq(mediaId,
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType),
      StructField("duration_ms", LongType),
      StructField("peak", LongType),
      StructField("sum_sq", LongType),
      StructField("rms", DoubleType))) { (id, content) =>
      val (sr, samples) = decodeWavPcm16(content)
      var peak = 0L; var sumSq = 0L
      samples.foreach { s =>
        val v = s.toLong
        if (math.abs(v) > peak) peak = math.abs(v)
        sumSq += v * v
      }
      val n = samples.length.toLong
      val rms = if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n.toDouble)
      Iterator.single(Row(id, sr, n, n * 1000L / sr, peak, sumSq, rms))
    }

  /** Frame-level audio features over the real codec — the audio twin
    * of [[sampleAviFrames]]: decode, split the PCM16 stream into
    * fixed-length frames of `frameLen` samples (the 20 ms-at-8 kHz
    * analysis window of classical speech front-ends; the partial tail
    * frame is dropped, documented and oracle-mirrored), and emit per
    * frame the exact integer features every VAD/segmentation pass
    * starts from: energy (Σ s²), peak (max |s|), and zero crossings
    * (adjacent strict sign products < 0 — WITHIN the frame only, so a
    * frame is a self-contained unit any engine reproduces). One row
    * per frame.
    */
  def wavFrameFeatures(media: DataFrame, frameLen: Int): DataFrame = {
    require(frameLen >= 2, s"frameLen must be >= 2, got $frameLen")
    perRow(media, Seq(mediaId,
      StructField("frame_idx", IntegerType),
      StructField("sum_sq", LongType),
      StructField("peak", LongType),
      StructField("n_zc", LongType))) { (id, content) =>
      val (_, samples) = decodeWavPcm16(content)
      val nFrames = samples.length / frameLen
      (0 until nFrames).map { f =>
        val start = f * frameLen
        var sumSq = 0L; var peak = 0L; var zc = 0L
        var i = start
        val end = start + frameLen
        while (i < end) {
          val v = samples(i).toLong
          sumSq += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > start && samples(i - 1).toLong * v < 0L) zc += 1
          i += 1
        }
        Row(id, f, sumSq, peak, zc)
      }
    }
  }

  /** Synthesize a NEAR-DUPLICATE audio pair per row: media 2·id is
    * [[synthWav]]'s closed form, media 2·id+1 the same clip with
    * sample 0 raised by one LSB — a sub-audible retouch that can move
    * only the first frame's energy, hence only delta 0. Because
    * [[wavFingerprint]] CYCLES the nFrames−1 deltas across all 64
    * bits, delta 0 lands on every bit i with i mod (nFrames−1) == 0,
    * so the planted pair's fingerprints differ in at most
    * ceil(64/(nFrames−1)) bits — 3 at the frameLen=16 fixture
    * (n ≥ 400 samples → ≥ 24 deltas), NOT 1. Size maxHamming
    * accordingly (the audio twin of [[synthBmpPair]]).
    */
  def synthWavPair(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val base = wavSamples(id)
      val retouched = base.clone()
      retouched(0) = (retouched(0) + 1).toShort
      Seq(Row(id * 2, encodeWavPcm16(base, 8000)),
        Row(id * 2 + 1, encodeWavPcm16(retouched, 8000)))
    }

  /** 64-bit audio fingerprint over the real codec — the
    * Haitsma–Kalker energy-delta scheme reduced to its exact-integer
    * core: the clip's energy-delta signs (frame i+1's Σ s² strictly
    * exceeds frame i's; [[wavFrameFeatures]]' framing, partial tail
    * dropped) CYCLED across all 64 bits — bit i carries delta
    * `i mod (nFrames−1)`. The cycling is a repetition code, and it is
    * load-bearing for the candidate machinery: "first 64 deltas" would
    * leave every short clip's high bits structurally zero, making one
    * [[graft.datapipe.Dedup.sketchHammingPairs]] chunk bucket hold the
    * WHOLE corpus (the quadratic blowup the pigeonhole scheme exists
    * to avoid); cycled, every 16-bit chunk carries signal for every
    * clip length. A single-delta retouch moves at most
    * ceil(64/(nFrames−1)) bits. Clips with fewer than 2 frames have no
    * deltas and all share fingerprint 0 — a collision class that would
    * flood one Hamming-0 bucket if sub-2-frame clips were common, so
    * keep frameLen small enough that real clips frame to nFrames ≥ 2.
    * Loudness-scale invariances are
    * deliberately NOT applied (no IEEE normalization — the fingerprint
    * is a deterministic long any engine reproduces).
    */
  def wavFingerprint(media: DataFrame, frameLen: Int): DataFrame = {
    require(frameLen >= 1, s"frameLen must be positive, got $frameLen")
    perRow(media, Seq(mediaId,
      StructField("n_frames", IntegerType),
      StructField("fingerprint", LongType))) { (id, content) =>
      val (_, samples) = decodeWavPcm16(content)
      val nFrames = samples.length / frameLen
      val energy = Array.tabulate(nFrames) { f =>
        var e = 0L
        var i = f * frameLen
        val end = i + frameLen
        while (i < end) { val v = samples(i).toLong; e += v * v; i += 1 }
        e
      }
      var fp = 0L
      if (nFrames >= 2) {
        val nDeltas = nFrames - 1
        var i = 0
        while (i < 64) {
          val d = i % nDeltas
          if (energy(d + 1) > energy(d)) fp |= (1L << i)
          i += 1
        }
      }
      Iterator.single(Row(id, nFrames, fp))
    }
  }

  // ---------------------------------------------------------------
  // REAL image codec: 24-bit uncompressed BMP is, like RIFF/WAVE, a
  // pure container — fixed headers plus raw pixels — so the image
  // path needs no codec library either. The interesting codec details
  // a roundtrip genuinely exercises: rows are stored BOTTOM-UP, each
  // row padded to a 4-byte boundary, channels in BGR order. The
  // q_mm_bmp_roundtrip oracle recomputes features from the closed-form
  // pixel definition in SQL: a row-flip, padding, or channel-order bug
  // in either direction fails the hash compare (the index-weighted sum
  // is order-sensitive, the per-channel sums are channel-sensitive).
  //
  // The DIB pieces below (BITMAPINFOHEADER, pixel rows) are shared by
  // the 24bpp BMP, the RLE8 BMP and every AVI frame.
  // ---------------------------------------------------------------

  /** A BITMAPINFOHEADER layout: bits/pixel, compression, and the decoder's error for each. */
  private final case class DibFormat(bpp: Int, compression: Int, badBpp: String, badCompression: String)
  private val Rgb24 = DibFormat(24, 0, "only 24bpp supported", "only uncompressed BI_RGB supported")
  private val Rle8 = DibFormat(8, 1, "RLE8 is 8bpp", "not BI_RLE8 compression")

  /** Bytes per stored 24bpp row: 3 per pixel, padded to 4. */
  private def dibRowSize(width: Int): Int = (width * 3 + 3) / 4 * 4

  /** Write a BITMAPINFOHEADER: positive height = bottom-up rows, 72 DPI, a full palette below 24bpp. */
  private def putInfoHeader(buf: ByteBuffer, fmt: DibFormat, width: Int, height: Int, imageSize: Int): ByteBuffer =
    buf.putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(fmt.bpp.toShort) // planes, bits/pixel
      .putInt(fmt.compression).putInt(imageSize)
      .putInt(2835).putInt(2835).putInt(if (fmt.bpp < 24) 1 << fmt.bpp else 0).putInt(0)

  /** Parse a BITMAPINFOHEADER of `fmt`: (width, signed height). */
  private def readInfoHeader(buf: ByteBuffer, fmt: DibFormat): (Int, Int) = {
    require(buf.getInt >= 40, "BITMAPINFOHEADER required")
    val width = buf.getInt
    val height = buf.getInt
    require(buf.getShort == 1, "bad plane count")
    require(buf.getShort == fmt.bpp, fmt.badBpp)
    require(buf.getInt == fmt.compression, fmt.badCompression)
    (width, height)
  }

  /** A BMP buffer holding the file and info headers, positioned at the
    * palette (if any) or pixel data at `dataOffset`.
    */
  private def bmpHeaders(fmt: DibFormat, width: Int, height: Int, dataOffset: Int, dataSize: Int): ByteBuffer = {
    val buf = le(ByteBuffer.allocate(dataOffset + dataSize))
    buf.put('B'.toByte).put('M'.toByte).putInt(dataOffset + dataSize)
      .putShort(0).putShort(0).putInt(dataOffset) // reserved, pixel-data offset
    putInfoHeader(buf, fmt, width, height, dataSize)
  }

  /** Check a BMP's headers against `fmt`: (pixel-data offset, width, signed height). */
  private def readBmpHeaders(bytes: Array[Byte], fmt: DibFormat): (Int, Int, Int) = {
    val buf = le(ByteBuffer.wrap(bytes))
    require(buf.get() == 'B'.toByte && buf.get() == 'M'.toByte, "not a BMP file")
    buf.getInt; buf.getShort; buf.getShort // file size, reserved
    val dataOffset = buf.getInt
    val (width, height) = readInfoHeader(buf, fmt)
    (dataOffset, width, height)
  }

  /** Top-down row-major RGB → 24bpp DIB rows: bottom-up, BGR, padded. */
  private def putDib(buf: ByteBuffer, width: Int, height: Int, rgb: Array[Byte]): Unit = {
    val rowSize = dibRowSize(width)
    var y = height - 1
    while (y >= 0) { // bottom-up
      var x = 0
      while (x < width) {
        val o = (y * width + x) * 3
        buf.put(rgb(o + 2)).put(rgb(o + 1)).put(rgb(o)) // BGR
        x += 1
      }
      var p = width * 3
      while (p < rowSize) { buf.put(0.toByte); p += 1 } // row pad
      y -= 1
    }
  }

  /** 24bpp DIB rows at `offset` → top-down row-major RGB (height sign,
    * 4-byte row stride, BGR).
    */
  private def dibToRgb(width: Int, height: Int, topDown: Boolean,
                       bytes: Array[Byte], offset: Int, size: Int): Array[Byte] = {
    val rowSize = dibRowSize(width)
    require(rowSize.toLong * height <= size, "truncated frame chunk")
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = if (topDown) y else height - 1 - y
      val base = offset + srcRow * rowSize
      var x = 0
      while (x < width) {
        val s = base + x * 3
        val d = (y * width + x) * 3
        rgb(d) = bytes(s + 2); rgb(d + 1) = bytes(s + 1); rgb(d + 2) = bytes(s) // BGR → RGB
        x += 1
      }
      y += 1
    }
    rgb
  }

  /** Encode top-down row-major RGB pixels as a standard 24bpp BMP. */
  def encodeBmp24(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be width*height*3 bytes")
    val buf = bmpHeaders(Rgb24, width, height, 54, dibRowSize(width) * height)
    putDib(buf, width, height, rgb)
    buf.array()
  }

  /** Decode a 24bpp uncompressed BMP: honor the header's pixel-data
    * offset, the height sign (negative = top-down), row padding, and
    * BGR order. Returns (width, height, top-down row-major RGB).
    */
  def decodeBmp24(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (dataOffset, width, rawHeight) = readBmpHeaders(bytes, Rgb24)
    val height = math.abs(rawHeight)
    require(dataOffset + dibRowSize(width).toLong * height <= bytes.length, "truncated pixel data")
    (width, height, dibToRgb(width, height, rawHeight < 0, bytes, dataOffset, bytes.length - dataOffset))
  }

  /** The 24bpp and RLE8 fixtures' image size for `id`: w = 8 + id%9, h = 8 + id%7. */
  private def imageDims(id: Long): (Int, Int) = ((8 + id % 9).toInt, (8 + id % 7).toInt)

  /** [[synthBmp]]'s closed-form image for `id`: (w, h, RGB). */
  private def bmpPixels(id: Long): (Int, Int, Array[Byte]) = {
    val (w, h) = imageDims(id)
    (w, h, Array.tabulate(w * h * 3)(i => ((id * 31 + i * 7) % 256).toByte))
  }

  /** Synthesize a deterministic BMP per row (the offline stand-in for
    * reading real images): w = 8 + id%9, h = 8 + id%7, and byte i of
    * the top-down RGB stream is (id * 31 + i * 7) % 256 — the closed
    * form the roundtrip oracle recomputes in SQL.
    */
  def synthBmp(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h, rgb) = bmpPixels(id)
      Seq(Row(id, encodeBmp24(w, h, rgb)))
    }

  /** Image resize on the real codec — decode, nearest-neighbor
    * downscale to (dstW, dstH), re-encode (the image twin of
    * [[transcodeWav]]: normalize every image to one model input size
    * inside the scan). Source index per destination pixel is the
    * truncating `x·srcW/dstW` — pure non-negative integer division,
    * so the whole pixel mapping is engine-replayable; the BMP
    * round-trip again exercises bottom-up rows, padding, BGR.
    */
  def resizeBmp(media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    require(dstW >= 1 && dstH >= 1, "target dims must be positive")
    perRow(media, mediaFields) { (id, content) =>
      val (w, h, rgb) = decodeBmp24(content)
      val out = new Array[Byte](dstW * dstH * 3)
      var y = 0
      while (y < dstH) {
        val sy = y * h / dstH
        var x = 0
        while (x < dstW) {
          val sx = x * w / dstW
          var c = 0
          while (c < 3) {
            out((y * dstW + x) * 3 + c) = rgb((sy * w + sx) * 3 + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      Iterator.single(Row(id, encodeBmp24(dstW, dstH, out)))
    }
  }

  /** Real decode + feature extraction over BMP content, like
    * `decodeWavFeatures`: per image, dimensions, per-channel sums
    * (channel-order-sensitive), an index-weighted sum (pixel-order-
    * sensitive — a bottom-up/padding bug scrambles it), and the mean.
    * Integer features throughout; the mean is the one double, derived
    * once per row from the integer totals.
    */
  def decodeBmpFeatures(media: DataFrame): DataFrame =
    perRow(media, Seq(mediaId,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_px", LongType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType),
      StructField("px_weighted", LongType),
      StructField("mean_px", DoubleType))) { (id, content) =>
      val (w, h, rgb) = decodeBmp24(content)
      var sr = 0L; var sg = 0L; var sb = 0L; var wsum = 0L
      var i = 0
      while (i < rgb.length) {
        val v = rgb(i) & 0xFF
        (i % 3: @annotation.switch) match {
          case 0 => sr += v
          case 1 => sg += v
          case 2 => sb += v
        }
        wsum += v.toLong * (i % 251)
        i += 1
      }
      val n = rgb.length
      val mean = if (n == 0) 0.0 else (sr + sg + sb).toDouble / n.toDouble
      Iterator.single(Row(id, w, h, (w.toLong * h), sr, sg, sb, wsum, mean))
    }

  /** Synthesize a NEAR-DUPLICATE image pair per row: media 2·id is
    * [[synthBmp]]'s closed form, media 2·id+1 the same image with one
    * retouched pixel — channel c of pixel (0,0) becomes
    * (id·13 + c·5) % 256. One pixel touches at most the two top-left
    * cells of the dHash sample grid (only width 8 aliases grid columns
    * 0 and 1 onto source column 0), so a planted pair differs in at
    * most 2 of 64 hash bits — the fixture that makes a Hamming-3
    * near-dup pass provably non-empty while distinct ids stay far.
    */
  def synthBmpPair(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h, base) = bmpPixels(id)
      val retouched = base.clone()
      var c = 0
      while (c < 3) {
        retouched(c) = ((id * 13 + c * 5) % 256).toByte
        c += 1
      }
      Seq(Row(id * 2, encodeBmp24(w, h, base)),
        Row(id * 2 + 1, encodeBmp24(w, h, retouched)))
    }

  /** The 9×8-grid difference hash of one top-down row-major RGB
    * raster — shared by the BMP and per-AVI-frame dHash paths.
    */
  private def dhashOfRgb(w: Int, h: Int, rgb: Array[Byte]): Long = {
    val g = Array.ofDim[Int](8, 9)
    var gy = 0
    while (gy < 8) {
      val sy = gy * h / 8
      var gx = 0
      while (gx < 9) {
        val sx = gx * w / 9
        val p = (sy * w + sx) * 3
        g(gy)(gx) = (rgb(p) & 0xFF) + (rgb(p + 1) & 0xFF) + (rgb(p + 2) & 0xFF)
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (g(i / 8)(i % 8 + 1) > g(i / 8)(i % 8)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Perceptual difference hash (dHash — Krawetz's public average/
    * difference-hash family) over the real BMP codec: decode, sample a
    * 9×8 grid of channel-sum grays by the same truncating
    * nearest-neighbor map as [[resizeBmp]] (`gx·w/9`, `gy·h/8` — pure
    * integer division, engine-replayable), and set bit `gy·8+gx` iff
    * the right neighbor's gray strictly exceeds the left's. All
    * integer — no luminance weights, no float resize kernels — so the
    * 64-bit hash is bit-reproducible by any engine and a value-level
    * oracle recomputes it from the pixel closed form in SQL. Near-dup
    * search over the hashes rides [[Dedup.sketchHammingPairs]]'
    * pigeonhole candidate machinery, exactly like SimHash text dedup.
    */
  def dhashBmp(media: DataFrame): DataFrame =
    perRow(media, Seq(mediaId,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("dhash", LongType))) { (id, content) =>
      val (w, h, rgb) = decodeBmp24(content)
      Iterator.single(Row(id, w, h, dhashOfRgb(w, h, rgb)))
    }

  /** Per-frame dHash over the real AVI codec — the video member of the
    * near-dup family: a clip's frame-hash set is its visual signature
    * (shot-level dedup compares frame hashes, not pixels), and each
    * hash rides the same [[graft.datapipe.Dedup.sketchHammingPairs]]
    * machinery as text SimHash and image dHash. Every `everyNth` frame
    * (the [[sampleAviFrames]] cadence), same 9×8 integer grid.
    */
  def dhashAviFrames(media: DataFrame, everyNth: Int = 1): DataFrame = {
    require(everyNth >= 1, s"everyNth must be positive, got $everyNth")
    perRow(media, Seq(mediaId,
      StructField("frame_idx", IntegerType),
      StructField("dhash", LongType))) { (id, content) =>
      val (w, h, _, frames) = decodeAvi(content)
      frames.indices.collect {
        case f if f % everyNth == 0 => Row(id, f, dhashOfRgb(w, h, frames(f)))
      }
    }
  }

  // ---------------------------------------------------------------
  // REAL COMPRESSED codec: 8bpp run-length-encoded BMP (BI_RLE8) — the
  // one compressed raster format whose full spec is small enough to
  // own without an external library (it is part of the same public
  // BITMAPINFOHEADER spec the 24bpp path already parses; the
  // compression field this codec sets to 1 is the field decodeBmp24
  // requires to be 0). The stream is a token walk, not a pixel grid:
  //   (n>0, v)        encoded run: n copies of palette index v
  //   (0, 0)          end of line (rows are bottom-up, like BI_RGB)
  //   (0, 1)          end of bitmap
  //   (0, 2, dx, dy)  delta: skip right dx and UP dy rows (skipped
  //                   pixels are undefined per spec; this decoder
  //                   leaves them 0)
  //   (0, n>=3, ...)  absolute: n literal indexes, padded to a 2-byte
  //                   boundary
  // The encoder emits runs >= 3 as encoded tokens, literal stretches
  // >= 3 as absolute blocks, and shorter leftovers as unit runs, so a
  // roundtrip exercises every token type except delta (delta is
  // decoder-only, covered in ScalaTest). q_mm_rle_roundtrip closes the
  // compressed-codec boundary the earlier rounds stubbed: encode →
  // decode → features, against an oracle that recomputes the features
  // from the closed-form pixel definition in SQL.
  // ---------------------------------------------------------------

  /** Encode a top-down row-major 8-bit index raster as an RLE8 BMP
    * with a grayscale identity palette (index i → (i,i,i)).
    */
  def encodeBmpRle8(width: Int, height: Int, px: Array[Byte]): Array[Byte] = {
    require(px.length == width * height, "px must be width*height bytes")
    val stream = new scala.collection.mutable.ArrayBuffer[Byte](px.length / 2 + 16)
    var y = height - 1
    while (y >= 0) { // bottom-up row order
      val base = y * width
      var x = 0
      while (x < width) {
        var runEnd = x + 1
        while (runEnd < width && px(base + runEnd) == px(base + x) && runEnd - x < 255) runEnd += 1
        if (runEnd - x >= 3) {
          stream += (runEnd - x).toByte += px(base + x)
          x = runEnd
        } else {
          // Literal stretch: extend while upcoming runs stay short.
          var litEnd = runEnd
          var probe = runEnd
          while (probe < width && litEnd - x < 255) {
            var pe = probe + 1
            while (pe < width && px(base + pe) == px(base + probe) && pe - probe < 255) pe += 1
            // Stop at a real run, and never let the block pass the
            // 255-byte absolute-mode cap (the outer loop re-enters for
            // the remainder).
            if (pe - probe >= 3 || litEnd - x + (pe - probe) > 255) probe = width
            else { litEnd = pe; probe = pe }
          }
          val n = litEnd - x
          if (n >= 3) {
            stream += 0.toByte += n.toByte
            var i = x; while (i < litEnd) { stream += px(base + i); i += 1 }
            if ((n & 1) == 1) stream += 0.toByte // absolute blocks are 2-byte aligned
          } else {
            var i = x
            while (i < litEnd) { stream += 1.toByte += px(base + i); i += 1 }
          }
          x = litEnd
        }
      }
      if (y > 0) { stream += 0.toByte += 0.toByte }      // end of line
      else { stream += 0.toByte += 1.toByte }            // end of bitmap
      y -= 1
    }
    val buf = bmpHeaders(Rle8, width, height, 54 + 256 * 4, stream.length)
    var c = 0
    while (c < 256) { // BGRA grayscale identity palette
      buf.put(c.toByte).put(c.toByte).put(c.toByte).put(0.toByte); c += 1
    }
    stream.foreach(buf.put)
    buf.array()
  }

  /** Decode an RLE8 BMP to (width, height, top-down row-major 8-bit
    * indexes). Handles all four token types; pixels a delta skips are
    * left 0 (spec leaves them undefined).
    */
  def decodeBmpRle8(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val (dataOffset, width, height) = readBmpHeaders(bytes, Rle8)
    require(height > 0, "RLE8 BMPs are bottom-up only")
    val px = new Array[Byte](width * height)
    var pos = dataOffset
    var x = 0
    var y = 0 // bottom row first
    def put(v: Byte): Unit = {
      if (x < width && y < height) px((height - 1 - y) * width + x) = v
      x += 1
    }
    var done = false
    while (!done && pos + 1 < bytes.length) {
      val b1 = bytes(pos) & 0xFF; val b2 = bytes(pos + 1) & 0xFF
      pos += 2
      if (b1 > 0) {
        var i = 0; while (i < b1) { put(b2.toByte); i += 1 }
      } else b2 match {
        case 0 => x = 0; y += 1
        case 1 => done = true
        case 2 =>
          require(pos + 1 < bytes.length, "truncated delta")
          x += bytes(pos) & 0xFF; y += bytes(pos + 1) & 0xFF; pos += 2
        case n =>
          require(pos + n <= bytes.length, "truncated absolute block")
          var i = 0; while (i < n) { put(bytes(pos + i)); i += 1 }
          pos += n + (n & 1) // skip the alignment pad byte
      }
    }
    require(done, "missing end-of-bitmap marker")
    (width, height, px)
  }

  /** Deterministic RLE-friendly grayscale fixture: w = 8 + id%9,
    * h = 8 + id%7; every third row (y%3==2) is per-pixel noise
    * ((id + y + 13x) mod 256 — forces absolute-mode blocks), the
    * rest are runs of four ((id*31 + 7y + x div 4) mod 256 — forces
    * encoded runs). The closed form is what the oracle replays.
    */
  def synthRleBmp(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h) = imageDims(id)
      val px = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = if (y % 3 == 2) (id + y + 13L * x) % 256
                  else (id * 31 + 7L * y + x / 4) % 256
          px(y * w + x) = v.toByte
          x += 1
        }
        y += 1
      }
      Seq(Row(id, encodeBmpRle8(w, h, px)))
    }

  /** Decode + feature extraction over RLE8 content, like the other
    * decoders: dimensions, pixel count, integer pixel sum,
    * the index-weighted sum (any run-boundary, row-order, or
    * absolute-pad bug scrambles it), the compressed byte size, and
    * the mean.
    */
  def decodeRleFeatures(media: DataFrame): DataFrame =
    perRow(media, Seq(mediaId,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_px", LongType),
      StructField("sum_px", LongType),
      StructField("px_weighted", LongType),
      StructField("n_bytes", LongType),
      StructField("mean_px", DoubleType))) { (id, bytes) =>
      val (w, h, px) = decodeBmpRle8(bytes)
      var sum = 0L; var wsum = 0L
      var i = 0
      while (i < px.length) {
        val v = px(i) & 0xFF
        sum += v
        wsum += v.toLong * (i % 251)
        i += 1
      }
      val n = px.length
      val mean = if (n == 0) 0.0 else sum.toDouble / n.toDouble
      Iterator.single(Row(id, w, h, n.toLong, sum, wsum, bytes.length.toLong, mean))
    }

  // ---------------------------------------------------------------
  // REAL video codec: uncompressed AVI is a RIFF container (like WAVE)
  // whose frames are raw DIBs (like BMP pixel data) — fixed headers
  // plus raw bytes, no codec library needed. The chunk walk reuses the
  // RIFF discipline from the WAV path; each '00db' frame decodes with
  // the BMP row discipline (bottom-up rows, 4-byte row padding, BGR).
  // The q_mm_avi_roundtrip oracle recomputes features from the
  // closed-form per-frame pixel definition in SQL: a header, frame-
  // order, row-order, padding, or channel bug fails the hash compare
  // (frame_weighted is frame-order-sensitive, px_weighted is
  // pixel-order-sensitive, the channel sums live in px values).
  // ---------------------------------------------------------------

  /** Encode top-down row-major RGB frames as a standard uncompressed
    * 24bpp AVI ('vids'/'DIB ' stream, '00db' frame chunks).
    */
  def encodeAvi(width: Int, height: Int, fps: Int, frames: Array[Array[Byte]]): Array[Byte] = {
    require(fps > 0, "fps must be positive")
    require(frames.forall(_.length == width * height * 3), "frames must be width*height*3 bytes")
    val dibSize = dibRowSize(width) * height
    val nf = frames.length
    val strlSize = 4 + 8 + 56 + 8 + 40          // 'strl' + strh + strf
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize    // 'hdrl' + avih + LIST strl
    val moviSize = 4 + nf * (8 + dibSize)       // dibSize is 4-aligned: no pad bytes
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize
    val buf = le(ByteBuffer.allocate(8 + riffSize))
    def cc(s: String): Unit = putFourCC(buf, s)
    cc("RIFF"); buf.putInt(riffSize); cc("AVI ")
    cc("LIST"); buf.putInt(hdrlSize); cc("hdrl")
    cc("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps).putInt(dibSize * fps).putInt(0).putInt(0) // usec/frame, bytes/sec, pad, flags
      .putInt(nf).putInt(0).putInt(1).putInt(dibSize) // frames, initial, streams, buffer
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0) // reserved
    cc("LIST"); buf.putInt(strlSize); cc("strl")
    cc("strh"); buf.putInt(56)
    cc("vids"); cc("DIB ")
    buf.putInt(0).putShort(0).putShort(0).putInt(0) // flags, priority, language, initial
      .putInt(1).putInt(fps)                        // scale, rate: fps = rate/scale exactly
      .putInt(0).putInt(nf).putInt(dibSize).putInt(-1).putInt(0) // start, length, buffer, quality, sample size
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort) // rcFrame
    cc("strf"); buf.putInt(40)
    putInfoHeader(buf, Rgb24, width, height, dibSize)
    cc("LIST"); buf.putInt(moviSize); cc("movi")
    frames.foreach { rgb =>
      cc("00db"); buf.putInt(dibSize)
      putDib(buf, width, height, rgb)
    }
    buf.array()
  }

  /** Decode an uncompressed 24bpp AVI: walk the RIFF chunk tree
    * (recursing into hdrl/strl/movi LISTs, skipping unknown chunks
    * with odd-size padding), parse strh for the exact rate/scale fps
    * and strf for dimensions, decode every '##db' frame chunk.
    * Returns (width, height, fps, top-down row-major RGB frames).
    */
  def decodeAvi(bytes: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    val buf = openRiff(bytes, "AVI ", "not an AVI file")
    var width = -1; var height = -1; var fps = -1; var topDown = false
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(end: Int): Unit = {
      while (buf.position() + 8 <= end) {
        val id = fourCC(buf)
        val size = buf.getInt
        require(size >= 0 && buf.position() + size <= bytes.length, s"bad chunk size $size")
        val next = buf.position() + size + (size & 1) // odd sizes pad
        id match {
          case "LIST" =>
            val inner = buf.position() + size
            fourCC(buf) match {
              case "hdrl" | "strl" | "movi" => walk(inner)
              case _ => () // unknown list: skip wholesale
            }
          case "strh" =>
            if (fourCC(buf) == "vids") {
              require(fourCC(buf) == "DIB ", "only uncompressed DIB streams supported")
              buf.getInt; buf.getShort; buf.getShort; buf.getInt // flags, prio, lang, initial
              val scale = buf.getInt
              val rate = buf.getInt
              require(scale > 0 && rate > 0, "bad stream rate")
              fps = rate / scale
            }
          case "strf" =>
            val (w, rawHeight) = readInfoHeader(buf, Rgb24)
            width = w
            topDown = rawHeight < 0
            height = math.abs(rawHeight)
          case c if c.length == 4 && (c.endsWith("db") || c.endsWith("dc")) =>
            require(width > 0 && height > 0, "frame chunk before strf header")
            frames += dibToRgb(width, height, topDown, bytes, buf.position(), size)
          case _ => () // unknown chunk (e.g. idx1, JUNK): skip
        }
        buf.position(next)
      }
    }
    walk(bytes.length)
    require(width > 0 && fps > 0, "missing avih/strh/strf headers")
    (width, height, fps, frames.toArray)
  }

  /** [[synthAvi]]'s closed-form clip for `id`: (w, h, RGB frames). */
  private def aviFrames(id: Long): (Int, Int, Array[Array[Byte]]) = {
    val w = (8 + id % 6).toInt
    val h = (6 + id % 5).toInt
    (w, h, Array.tabulate((2 + id % 4).toInt)(f =>
      Array.tabulate(w * h * 3)(j => ((id * 31 + f * 11 + j * 7) % 256).toByte)))
  }

  /** Synthesize a deterministic AVI per row (the offline stand-in for
    * reading real clips): w = 8 + id%6, h = 6 + id%5, nf = 2 + id%4
    * frames at 12 fps, and byte j of top-down RGB frame f is
    * (id * 31 + f * 11 + j * 7) % 256 — the closed form the roundtrip
    * oracle recomputes in SQL. Widths 9/11/13 exercise row padding.
    */
  def synthAvi(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h, frames) = aviFrames(id)
      Seq(Row(id, encodeAvi(w, h, 12, frames)))
    }

  /** Synthesize a NEAR-DUPLICATE clip pair per row: media 2·id is
    * [[synthAvi]]'s closed form, media 2·id+1 the same clip with
    * channel c of pixel (0,0) of FRAME 0 retouched to
    * (id·17 + c·3) % 256 — one pixel of one frame, so the clips'
    * frame-hash sets (and any XOR-of-frame-hashes signature) differ by
    * at most the two grid bits the image retouch can move.
    */
  def synthAviPair(df: DataFrame, idCol: String): DataFrame =
    synth(df, idCol) { id =>
      val (w, h, frames) = aviFrames(id)
      val retouched = frames.map(_.clone())
      var c = 0
      while (c < 3) {
        retouched(0)(c) = ((id * 17 + c * 3) % 256).toByte
        c += 1
      }
      Seq(Row(id * 2, encodeAvi(w, h, 12, frames)),
        Row(id * 2 + 1, encodeAvi(w, h, 12, retouched)))
    }

  /** Video transcode on the real codec — keep every `n`-th frame and
    * divide the frame rate accordingly (the fps-normalization step of
    * a video-corpus pipeline; completes the DSP set with
    * [[transcodeWav]] and [[resizeBmp]]). Pure frame selection — no
    * pixel math — so the oracle replays it by reindexing the
    * closed-form frames. `fps` must divide evenly (the honest
    * contract: a fractional frame rate has no AVI representation
    * here).
    */
  def transcodeAvi(media: DataFrame, keepEveryNth: Int): DataFrame = {
    require(keepEveryNth >= 1, "keepEveryNth must be positive")
    perRow(media, mediaFields) { (id, content) =>
      val (w, h, fps, frames) = decodeAvi(content)
      require(fps % keepEveryNth == 0, s"fps $fps not divisible by $keepEveryNth")
      val kept = frames.indices.collect {
        case f if f % keepEveryNth == 0 => frames(f)
      }.toArray
      Iterator.single(Row(id, encodeAvi(w, h, fps / keepEveryNth, kept)))
    }
  }

  /** Real decode + feature extraction over AVI content, like the
    * WAV/BMP variants: per clip, dimensions, fps, frame
    * count, total pixel sum, a frame-order-weighted sum (catches
    * reordered/dropped frames), a pixel-order-weighted sum (catches
    * row/padding bugs), and the mean. Integer features throughout;
    * the mean is the one double, derived once from integer totals.
    */
  def decodeAviFeatures(media: DataFrame): DataFrame =
    perRow(media, Seq(mediaId,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("fps", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("n_px", LongType),
      StructField("sum_px", LongType),
      StructField("frame_weighted", LongType),
      StructField("px_weighted", LongType),
      StructField("mean_px", DoubleType))) { (id, content) =>
      val (w, h, fps, frames) = decodeAvi(content)
      var sum = 0L; var fw = 0L; var pw = 0L
      var f = 0
      while (f < frames.length) {
        val rgb = frames(f)
        var j = 0
        while (j < rgb.length) {
          val v = rgb(j) & 0xFF
          sum += v
          fw += (f + 1).toLong * v
          pw += v.toLong * (j % 251)
          j += 1
        }
        f += 1
      }
      val nBytes = w.toLong * h * 3 * frames.length
      val mean = if (nBytes == 0) 0.0 else sum.toDouble / nBytes.toDouble
      Iterator.single(Row(id, w, h, fps, frames.length,
        w.toLong * h * frames.length, sum, fw, pw, mean))
    }

  /** Frame sampling over real video: decode each AVI and emit one row
    * per `everyNth` frame with per-frame features — the
    * training-data shape for "one vision-encoder input per sampled
    * frame" (the metadata-only planner `frameSampleIndexes` picks the
    * indexes without decoding; this is the decode half). Rows per
    * clip are bounded by n_frames / everyNth; decode stays executor-
    * side, no driver collection.
    */
  def sampleAviFrames(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be at least 1")
    perRow(media, Seq(mediaId,
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("f_sum", LongType),
      StructField("f_weighted", LongType))) { (id, content) =>
      val (w, h, _, frames) = decodeAvi(content)
      frames.indices.collect { case f if f % everyNth == 0 =>
        val rgb = frames(f)
        var s = 0L; var pw = 0L; var j = 0
        while (j < rgb.length) {
          val v = rgb(j) & 0xFF
          s += v; pw += v.toLong * (j % 251)
          j += 1
        }
        Row(id, f, w, h, s, pw)
      }
    }
  }

  /** Decode + feature-extract. Appends
    * (n_bytes, mean_byte, byte_checksum).
    *
    * ===== EXTERNAL-CODEC BOUNDARY (all three modalities have REAL
    * container codecs above: WAV audio, BMP image, uncompressed AVI
    * video). This operator remains as the boundary demo for COMPRESSED
    * formats (JPEG/H.264/MP3), whose decoders are external libraries
    * not present in this container: a real implementation hands each
    * batch of byte arrays to a codec / vision encoder (the mapInPandas
    * shape: iterator of batches in, iterator of batches out). Here the
    * "decode" is a deterministic fake over the raw bytes so the
    * plumbing is testable offline.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("n_bytes", LongType),
      StructField("mean_byte", DoubleType),
      StructField("byte_checksum", LongType)))
    val enc = Encoders.row(outSchema)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      // One "codec call" per row; a library decoder that takes
      // batches would group `rows` here.
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](contentIdx)
        val n = if (bytes == null) 0L else bytes.length.toLong
        val sum = if (bytes == null) 0L else bytes.foldLeft(0L)((a, b) => a + (b & 0xFF))
        val mean = if (n == 0) 0.0 else sum.toDouble / n.toDouble
        // Seq[Any] — a bare Seq(n, mean, …) would weakly unify Long
        // and Double into Seq[Double] and corrupt the BIGINT fields.
        Row.fromSeq(r.toSeq ++ Seq[Any](n, mean, sum % 997L))
      }
    }(enc)
  }
}
