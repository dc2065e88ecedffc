package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads travel as opaque binary
  * columns with typed metadata alongside. Image decode is REAL — JDK
  * `javax.imageio` (PNG/BMP/GIF/JPEG readers ship in `java.desktop`)
  * decompresses the actual pixel data, so width/height/channels/frame
  * counts and per-channel pixel means come from the codec, not from byte
  * arithmetic. WAV PCM sample decode is also real (raw little-endian
  * samples, no codec needed). Only compressed AUDIO/VIDEO codecs (mp3,
  * h264, …) remain a documented stub — those libraries genuinely do not
  * ship in the JDK — behind the same per-partition batching seam, so a
  * JNI/Pandas-UDF codec drops in without touching the surrounding plan.
  */
object Multimodal {

  /** Work-density declaration for the generator spreads: their input is a
    * doc_id-only projection (~20 estimated bytes/row), but each row fans
    * out into a KB-scale synthetic blob plus a codec pass — per-task cost
    * is per-ROW, not per input byte. ~512 B of id-column input (~25 ids)
    * per task keeps the codec work well above task fixed cost while still
    * shrinking the spread on genuinely tiny inputs.
    */
  private val idFanoutBytesPerTask: Long = 512L

  /** Typed metadata produced by the REAL image decoder: dimensions,
    * channel count and frame count from the ImageIO reader, per-channel
    * pixel means from the decoded raster.
    */
  final case class ImageFeatures(
      doc_id: Long, format: String, width: Long, height: Long,
      channels: Long, n_frames: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL image decode via JDK ImageIO: picks the reader by the byte
    * signature, decompresses frame 0, and computes pixel statistics from
    * the raster. `n_frames` is the container's true frame count (animated
    * GIFs > 1). Unknown/undecodable bytes degrade to format "unknown".
    */
  def decodeImage(docId: Long, bytes: Array[Byte]): ImageFeatures = {
    val unknown = ImageFeatures(docId, "unknown", 0L, 0L, 0L, 0L, 0.0, 0.0, 0.0)
    // Memory-backed stream: the default createImageInputStream writes a
    // temp file per blob (FileCacheImageInputStream) — disk I/O in the
    // per-row decode hot path.
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) unknown
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, false, true)
          val nFrames = reader.getNumImages(true).toLong
          val img = reader.read(0)
          val (w, h) = (img.getWidth, img.getHeight)
          val ch = img.getColorModel.getNumComponents.toLong
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              x += 1
            }
            y += 1
          }
          val n = (w.toLong * h).toDouble
          ImageFeatures(docId, reader.getFormatName.toLowerCase, w.toLong,
            h.toLong, ch, nFrames, sr / n, sg / n, sb / n)
        } finally reader.dispose()
      }
    } catch {
      // ImageIO readers throw RuntimeExceptions (IllegalArgument, CMM,
      // IndexOutOfBounds) on corrupt bytes, not just IOException; one bad
      // blob must degrade to "unknown", never fail the stage.
      case scala.util.control.NonFatal(_) => unknown
    } finally if (iis != null) iis.close()
  }

  /** Perceptual hash (aHash) of one decoded image: the image is cut into
    * an 8×8 block grid (block (by,bx) covers x ∈ [⌊bx·w/8⌋, ⌊(bx+1)·w/8⌋)
    * and the matching y strip), each block's brightness is its integer
    * `Σ(r+g+b)` pixel sum, and bit (by·8+bx) is 1 iff the block is at
    * least as bright as the image overall. The compare is PURE INTEGER —
    * `blockSum·(w·h) ≥ totalSum·blockPixels` — no float division, so the
    * hash is bit-identical across engines and replayable by a SQL oracle;
    * it is also what makes aHash robust: any brightness-monotone re-encode
    * (format change, scale) preserves the bit pattern. Images smaller than
    * the grid or undecodable blobs return the empty string (loud in any
    * downstream group-by, never a fake hash).
    */
  def decodePhash(bytes: Array[Byte]): String = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) ""
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, false, true)
          val img = reader.read(0)
          val (w, h) = (img.getWidth, img.getHeight)
          if (w < 8 || h < 8) return ""
          val sums = Array.ofDim[Long](8, 8)
          val pix = Array.ofDim[Long](8, 8)
          var total = 0L
          var y = 0
          while (y < h) {
            val by = y * 8 / h
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              val s = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              val bx = x * 8 / w
              sums(by)(bx) += s
              pix(by)(bx) += 1L
              total += s
              x += 1
            }
            y += 1
          }
          val area = w.toLong * h
          val sb = new StringBuilder(64)
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              sb.append(
                if (sums(by)(bx) * area >= total * pix(by)(bx)) '1' else '0')
              bx += 1
            }
            by += 1
          }
          sb.toString
        } finally reader.dispose()
      }
    } catch {
      case scala.util.control.NonFatal(_) => ""
    } finally if (iis != null) iis.close()
  }

  /** Per-image perceptual hashes over a (doc_id, blob) frame — the image
    * near-dup key: exact-match grouping on `phash` (or banded Hamming
    * join, like [[graft.operators.Dedup.simhash]] for text) clusters
    * re-encoded / brightness-shifted duplicates WITHOUT pairwise pixel
    * comparison. Narrow end to end: decode + hash per row, no shuffle.
    */
  def imagePhash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, decodePhash(bytes)) })
      .toDF("doc_id", "phash")
  }

  /** Decode image features from a (doc_id, blob binary) frame via
    * per-partition iteration — the pattern for batching expensive
    * decoders (one codec init per partition, streaming rows through it).
    * Narrow end to end: no shuffle, one decoded row per blob.
    */
  def decodeImageFeatures(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // ImageIO plugin registry is JVM-global; per-partition init seam
        // kept for codecs that need per-thread state.
        rows.map { case (id, bytes) => decodeImage(id, bytes) }
      }
  }

  /** Typed stats from REAL 16-bit PCM WAV sample decode. */
  final case class WavStats(doc_id: Long, sample_rate: Long, channels: Long,
      n_samples: Long, mean_abs: Double)

  /** REAL WAV PCM decode: walks RIFF chunks to `data`, reads the raw
    * 16-bit little-endian samples (PCM is uncompressed — the "decode" is
    * genuine byte-level sample extraction, no codec required) and
    * computes sample statistics. Non-PCM or malformed input → zeros.
    */
  def decodeWav(docId: Long, b: Array[Byte]): WavStats = {
    val zero = WavStats(docId, 0L, 0L, 0L, 0.0)
    val hdr = parseHeader(docId, b)
    if (hdr.format != "wav") return zero
    // walk chunks from offset 12 to find fmt (for bits) and data. Chunk
    // lengths are untrusted 32-bit values: treat as unsigned Long and
    // bail to zeros when the next offset would not strictly advance or
    // would overflow past the buffer — malformed input must never loop
    // or throw.
    var (i, bits, dataOff, dataLen) = (12L, 16, -1, 0)
    while (i + 8 <= b.length && dataOff < 0) {
      val ii = i.toInt
      val id = new String(b.slice(ii, ii + 4), "US-ASCII")
      val len = le32(b, ii + 4) // unsigned: 0 .. 0xFFFFFFFF
      if (id == "fmt " && i + 24 <= b.length) bits = le16(b, ii + 22)
      if (id == "data") {
        dataOff = ii + 8
        dataLen = math.max(0L, math.min(len, (b.length - dataOff).toLong)).toInt
      } else {
        val next = i + 8L + len + (len & 1L)
        if (next <= i || next > b.length.toLong) return zero
        i = next
      }
    }
    if (dataOff < 0 || bits != 16) return zero
    val n = dataLen / 2
    var (j, sumAbs) = (0, 0L)
    while (j < n) {
      val s = (le16(b, dataOff + 2 * j).toShort).toInt
      sumAbs += math.abs(s)
      j += 1
    }
    WavStats(docId, hdr.sample_rate, hdr.channels, n.toLong,
      if (n == 0) 0.0 else sumAbs.toDouble / n)
  }

  /** Decode WAV PCM stats for a (doc_id, blob binary) frame — the same
    * narrow per-partition batching seam as [[decodeImageFeatures]]: no
    * shuffle, one stats row per blob.
    */
  def decodeWavStats(spark: SparkSession, media: DataFrame): Dataset[WavStats] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeWav(id, bytes) })
  }

  /** A complete PCM WAV container: 44-byte header with correct fmt/data
    * chunk sizes plus the raw 16-bit little-endian samples — a genuine
    * well-formed audio file, so `decodeWav` exercises the full chunk walk
    * and sample extraction.
    */
  def makePcmWav(sampleRate: Long, channels: Long,
      samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1.toShort).putShort(channels.toShort)
    out.putInt(sampleRate.toInt).putInt((sampleRate * channels * 2).toInt)
    out.putShort((channels * 2).toShort).putShort(16.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => out.putShort(s))
    out.array()
  }

  final case class SpectralPeak(doc_id: Long, n_samples: Long,
      dominant_bin: Long)

  /** Documents-as-tones: one pure-sine mono PCM WAV per doc, frequency at
    * DFT bin `1 + doc_id % 31` of a 64-sample frame. Unlike the stubbed
    * compressed-codec seam, everything here is real bytes end to end: the
    * container is a genuine WAV and the tone's bin is recoverable only by
    * actually transforming the decoded samples.
    */
  def documentsAsTones(spark: SparkSession, docs: DataFrame,
      n: Int = 64): DataFrame = {
    import spark.implicits._
    Spread.forCpu(docs.select(col("doc_id").cast("long")),
      bytesPerTask = idFanoutBytesPerTask).as[Long]
      .mapPartitions(_.map { id =>
        val bin = 1 + (id % 31).toInt
        val samples = Array.tabulate[Short](n)(j =>
          math.round(8000.0 * math.sin(2.0 * math.Pi * bin * j / n)).toShort)
        (id, makePcmWav(8000L, 1L, samples))
      }).toDF("doc_id", "blob")
  }

  /** Mono PCM16 sample extraction: RIFF chunk walk to the `data` chunk,
    * little-endian shorts out. Minimal by design (the hardened
    * adversarial-container walk lives in [[decodeWav]]); refuses
    * non-PCM16-mono rather than mis-reading.
    */
  private def wavMonoSamples(bytes: Array[Byte]): Array[Short] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 44 && bytes(0) == 'R' && bytes(8) == 'W',
      "not a RIFF/WAVE container")
    var pos = 12
    var dataOff = -1; var dataLen = 0
    var fmtOk = false
    while (pos + 8 <= bytes.length && (dataOff < 0 || !fmtOk)) {
      val cid = new String(bytes, pos, 4, "US-ASCII")
      val clen = bb.getInt(pos + 4)
      if (cid == "fmt " && clen >= 16) {
        fmtOk = bb.getShort(pos + 8) == 1 && bb.getShort(pos + 10) == 1 &&
          bb.getShort(pos + 22) == 16
      } else if (cid == "data") { dataOff = pos + 8; dataLen = clen }
      pos += 8 + clen + (clen & 1)
    }
    require(fmtOk, "not mono PCM16")
    require(dataOff >= 0 && dataOff + dataLen <= bytes.length, "truncated data chunk")
    Array.tabulate[Short](dataLen / 2)(i => bb.getShort(dataOff + i * 2))
  }

  /** REAL spectral feature extraction — no stub: a direct DFT over the
    * decoded PCM frame, reporting the dominant non-DC bin by magnitude.
    * Same narrow mapPartitions seam as the other decoders (no shuffle,
    * one row per blob); the O(n²) direct transform is fine at the 64-
    * sample frame this pipeline fingerprints with — swap in an FFT for
    * long-frame audio, the plan shape does not change.
    */
  def spectralPeak(spark: SparkSession, media: DataFrame): Dataset[SpectralPeak] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val s = wavMonoSamples(bytes)
        val n = s.length
        var best = 0; var bestMag = -1.0
        var k = 1
        while (k < n / 2) {
          var re = 0.0; var im = 0.0
          var j = 0
          while (j < n) {
            val ang = 2.0 * math.Pi * k * j / n
            re += s(j) * math.cos(ang)
            im -= s(j) * math.sin(ang)
            j += 1
          }
          val mag = re * re + im * im
          if (mag > bestMag) { bestMag = mag; best = k }
          k += 1
        }
        SpectralPeak(id, n.toLong, best.toLong)
      })
  }

  /** Documents-as-audio: one deterministic PCM WAV per doc — rate,
    * channel count, sample count and an alternating ±amplitude sample
    * pattern all derived from doc_id, so every decoded statistic is
    * analytically recomputable by an oracle. `mean_abs` of the
    * (+a, -(a+2)) alternation over an even sample count is exactly a+1.
    */
  def documentsAsWavs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Spread.forCpu(docs.select(col("doc_id").cast("long")),
      bytesPerTask = idFanoutBytesPerTask).as[Long]
      .mapPartitions(_.map { id =>
        val sr = 8000L * (1 + id % 3)
        val ch = 1L + id % 2
        val n = (16 + 2 * (id % 16)).toInt
        val a = (100 + id % 200).toInt
        val samples = Array.tabulate[Short](n)(j =>
          (if (j % 2 == 0) a else -(a + 2)).toShort)
        (id, makePcmWav(sr, ch, samples))
      }).toDF("doc_id", "blob")
  }

  // ---- deterministic image fixtures (builder side; the decoder above
  // never sees these formulas — it reads pixels the codec decompresses) --

  /** Deterministic test image for an id: horizontal gradient in R
    * (base+x), constant G/B — every value recomputable from the id, so an
    * oracle can verify the decoder really read the pixels.
    */
  def makeImage(id: Long): java.awt.image.BufferedImage = {
    val w = (8 + id % 24).toInt
    val h = (8 + (id * 3) % 24).toInt
    val base = (id % 200).toInt
    val g = ((id * 7) % 256).toInt
    val bl = ((id * 13) % 256).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, ((base + x) << 16) | (g << 8) | bl); x += 1 }
      y += 1
    }
    img
  }

  /** ImageIO's DEFAULT stream cache backs every created image
    * input/output stream with ONE TEMP FILE (FileCacheImage*Stream):
    * `ImageIO.write(img, fmt, outputStream)` silently creates and
    * deletes a /tmp file per encoded blob. Serial that is a constant
    * tax; under a 32-way spread the temp-dir churn serializes the whole
    * stage (measured: the m01 encode+decode stage's summed task time
    * grew ~15× when parallelized, all of it filesystem contention).
    * Memory-backed streams remove the disk round-trip entirely; the
    * blobs here are row-sized by construction. JVM-global and
    * idempotent — called from every encode seam so executor JVMs flip
    * it too, not just the driver.
    */
  private def imageIoNoDiskCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  def encodeImage(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    imageIoNoDiskCache()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** Animated GIF with `nFrames` solid frames — the real multi-frame
    * container, so `decodeImage.n_frames` is exercised against a true
    * frame count, not metadata arithmetic.
    */
  def makeAnimatedGif(nFrames: Int, w: Int = 8, h: Int = 8): Array[Byte] = {
    imageIoNoDiskCache() // see encodeImage — file-backed stream otherwise
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var i = 0
    while (i < nFrames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
      g2.fillRect(0, 0, w, h)
      g2.dispose()
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      i += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** Documents-as-images: one deterministic PNG (even ids) / BMP (odd
    * ids) per doc — genuine compressed containers, so the downstream
    * decode is a real codec round-trip. Built per-partition, narrow.
    */
  def documentsAsImages(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Spread.forCodec(docs.select(col("doc_id").cast("long")),
      bytesPerTask = idFanoutBytesPerTask).as[Long]
      .mapPartitions(_.map { id =>
        val fmt = if (id % 2 == 0) "png" else "bmp"
        (id, encodeImage(makeImage(id), fmt))
      }).toDF("doc_id", "blob")
  }

  final case class ResizedImage(doc_id: Long, src_w: Long, src_h: Long,
      out_w: Long, out_h: Long, pixels: String)

  /** REAL nearest-neighbor image RESIZE over decoded pixels: the
    * normalize-to-model-input step of a multimodal pipeline (every vision
    * encoder eats fixed dims). Source pixel (⌊i·w/W⌋, ⌊j·h/H⌋) for output
    * (i, j) — integer floor arithmetic, so the resample is engine-exact
    * and an oracle can predict every output pixel analytically from the
    * generator. `pixels` is the row-major `r:g:b` stream (digest it for
    * compact comparison); undecodable blobs degrade to an empty stream,
    * the [[decodeImage]] contract.
    */
  def decodeResize(docId: Long, bytes: Array[Byte], outW: Int,
      outH: Int): ResizedImage = {
    try {
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      require(img != null, "no decoder matched")
      val w = img.getWidth
      val h = img.getHeight
      val sb = new StringBuilder
      var j = 0
      while (j < outH) {
        var i = 0
        while (i < outW) {
          val rgb = img.getRGB(i * w / outW, j * h / outH)
          if (sb.nonEmpty) sb.append(';')
          sb.append((rgb >> 16) & 0xff).append(':')
            .append((rgb >> 8) & 0xff).append(':').append(rgb & 0xff)
          i += 1
        }
        j += 1
      }
      ResizedImage(docId, w.toLong, h.toLong, outW.toLong, outH.toLong,
        sb.toString)
    } catch {
      case scala.util.control.NonFatal(_) =>
        ResizedImage(docId, 0L, 0L, outW.toLong, outH.toLong, "")
    }
  }

  /** Resize a (doc_id, blob) frame — same narrow per-partition decode seam
    * as [[decodeImageFeatures]].
    */
  def imageResize(spark: SparkSession, media: DataFrame, outW: Int = 16,
      outH: Int = 12): Dataset[ResizedImage] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => decodeResize(id, b, outW, outH) })
  }

  /** Documents-as-animated-GIFs with 1 + id%8 true frames each. */
  def documentsAsGifs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    Spread.forCodec(docs.select(col("doc_id").cast("long")),
      bytesPerTask = idFanoutBytesPerTask).as[Long]
      .mapPartitions(_.map { id =>
        (id, makeAnimatedGif((1 + id % 8).toInt))
      }).toDF("doc_id", "blob")
  }

  /** Frame sampling: one row per sampled frame index (every stride-th frame
    * of n_frames) — the explode-shaped plumbing of a video pipeline. Scales
    * as a narrow generate: no shuffle, output rows ~ frames/stride.
    */
  def frameSample(features: DataFrame, stride: Int = 5): DataFrame =
    features.select(col("doc_id"), col("n_frames"),
      explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong)))
        .as("frame_idx"))

  // -------------------------------------------------------------------
  // REAL container-header parsing (not stubbed): dimensions/sample-rate
  // live in the first bytes of the container, so a media catalog pass
  // (the "what is in this 100 TB of blobs" scan) needs byte parsing
  // only, no codec. Pixel/audio DECODE remains the documented stub
  // above; header metadata extraction is genuine.

  /** Parsed container metadata; format "unknown" when no signature
    * matches (fields 0).
    */
  final case class MediaHeader(doc_id: Long, format: String, width: Long,
      height: Long, sample_rate: Long, channels: Long)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** Parse a PNG (IHDR), JPEG (SOF0/SOF2 walk), or WAV (RIFF fmt chunk)
    * header. Pure byte inspection of the leading container structure —
    * the real thing, independent of how the bytes were produced.
    */
  def parseHeader(docId: Long, b: Array[Byte]): MediaHeader = {
    def unknown = MediaHeader(docId, "unknown", 0L, 0L, 0L, 0L)
    if (b.length >= 24 &&
        (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      MediaHeader(docId, "png", be32(b, 16), be32(b, 20), 0L, 0L)
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      // walk FF-marker segments to the first SOF (C0..C3, C5..C7, C9..CB)
      var i = 2
      while (i + 4 <= b.length) {
        if ((b(i) & 0xff) != 0xff) return unknown
        val marker = b(i + 1) & 0xff
        val len = be16(b, i + 2)
        if (marker >= 0xc0 && marker <= 0xcb && marker != 0xc4 && marker != 0xc8) {
          if (i + 9 > b.length) return unknown
          return MediaHeader(docId, "jpeg", be16(b, i + 7).toLong,
            be16(b, i + 5).toLong, 0L, 0L)
        }
        i += 2 + len
      }
      unknown
    } else if (b.length >= 36 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
        b(12) == 'f' && b(13) == 'm' && b(14) == 't' && b(15) == ' ')
      MediaHeader(docId, "wav", 0L, 0L, le32(b, 24), le16(b, 22).toLong)
    else unknown
  }

  /** Parse headers for a (doc_id, blob) frame — same per-partition
    * batching shape as [[decodeFeatures]], narrow end to end.
    */
  def headerScan(spark: SparkSession, media: DataFrame): Dataset[MediaHeader] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) =>
        parseHeader(id, bytes) })
  }

  final case class Mp4Header(doc_id: Long, brand: String, timescale: Long,
      duration_ms: Long, width: Long, height: Long, n_boxes: Long)

  /** REAL ISO-BMFF (MP4) box walk — the video leg of the container-header
    * family (m03 covers image/audio). Boxes are length-prefixed big-endian
    * `size | fourcc | payload` records; `moov`/`trak` are pure containers
    * whose payload is itself a box list, so the walk recurses into them
    * and SKIPS unknown boxes by their declared size (the property that
    * makes the parse robust to real-world files full of vendor boxes).
    * Extracts the `ftyp` major brand, `mvhd` v0 timescale/duration (ms
    * via floor division), and `tkhd` v0 track dimensions (16.16 fixed
    * point → integer pixels). Adversarial containers — size < 8, a box
    * running past the buffer, version-1 headers this v0 parser doesn't
    * speak — degrade to an empty-brand row, never a throw (same contract
    * as [[parseHeader]]/[[decodeWav]]).
    */
  def parseMp4(docId: Long, b: Array[Byte]): Mp4Header = {
    val bad = Mp4Header(docId, "", 0L, 0L, 0L, 0L, 0L)
    var brand = ""
    var timescale = 0L
    var duration = 0L
    var width = 0L
    var height = 0L
    var nBoxes = 0L
    def walk(from: Int, to: Int): Boolean = {
      var i = from
      while (i + 8 <= to) {
        val size = be32(b, i)
        if (size < 8 || i + size > to) return false
        val typ = new String(b, i + 4, 4, "US-ASCII")
        nBoxes += 1
        typ match {
          case "ftyp" if size >= 16 =>
            brand = new String(b, i + 8, 4, "US-ASCII")
          case "moov" | "trak" =>
            if (!walk(i + 8, i + size.toInt)) return false
          case "mvhd" if size >= 28 && b(i + 8) == 0 =>
            timescale = be32(b, i + 20)
            duration = be32(b, i + 24)
          case "tkhd" if size >= 92 && b(i + 8) == 0 =>
            width = be32(b, i + 84) >> 16
            height = be32(b, i + 88) >> 16
          case _ => ()
        }
        i += size.toInt
      }
      i == to
    }
    if (b.length < 8 || !walk(0, b.length)) bad
    else if (brand.isEmpty || timescale <= 0) bad
    else Mp4Header(docId, brand, timescale, duration * 1000L / timescale,
      width, height, nBoxes)
  }

  /** MP4 header scan over a (doc_id, blob) frame — same narrow
    * per-partition shape as [[headerScan]].
    */
  def mp4Scan(spark: SparkSession, media: DataFrame): Dataset[Mp4Header] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) =>
        parseMp4(id, bytes) })
  }

  // ---- deterministic container builders (test/fixture side; the parser
  // above never sees these — it reads bytes only) ----------------------

  /** Minimal-but-genuine ISO-BMFF file: `ftyp` + a `free` box the walker
    * must skip by size + `moov` containing an mvhd v0 and one
    * `trak > tkhd` v0 with 16.16 fixed-point dimensions and identity
    * matrices. 248 bytes; every offset per ISO/IEC 14496-12.
    */
  def makeMp4(brand: String, timescale: Long, duration: Long,
      width: Long, height: Long): Array[Byte] = {
    require(brand.length == 4, "brand must be a fourcc")
    val buf = java.nio.ByteBuffer.allocate(20 + 12 + 216) // big-endian
    def matrix(): Unit = {
      buf.putInt(0x00010000); buf.putInt(0); buf.putInt(0)
      buf.putInt(0); buf.putInt(0x00010000); buf.putInt(0)
      buf.putInt(0); buf.putInt(0); buf.putInt(0x40000000)
    }
    buf.putInt(20); buf.put("ftyp".getBytes("US-ASCII"))
    buf.put(brand.getBytes("US-ASCII")); buf.putInt(0)
    buf.put("isom".getBytes("US-ASCII"))
    buf.putInt(12); buf.put("free".getBytes("US-ASCII")); buf.putInt(0)
    buf.putInt(216); buf.put("moov".getBytes("US-ASCII"))
    // mvhd v0 (108 bytes)
    buf.putInt(108); buf.put("mvhd".getBytes("US-ASCII"))
    buf.putInt(0)                       // version + flags
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(timescale.toInt); buf.putInt(duration.toInt)
    buf.putInt(0x00010000)              // rate 1.0
    buf.putShort(0x0100.toShort)        // volume 1.0
    buf.putShort(0); buf.putInt(0); buf.putInt(0) // reserved
    matrix()
    (1 to 6).foreach(_ => buf.putInt(0)) // pre_defined
    buf.putInt(2)                        // next_track_ID
    // trak (100) > tkhd v0 (92)
    buf.putInt(100); buf.put("trak".getBytes("US-ASCII"))
    buf.putInt(92); buf.put("tkhd".getBytes("US-ASCII"))
    buf.putInt(7)                       // version 0, flags: enabled|in-movie
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(1)                       // track_ID
    buf.putInt(0)                       // reserved
    buf.putInt(duration.toInt)
    buf.putInt(0); buf.putInt(0)        // reserved
    buf.putShort(0); buf.putShort(0)    // layer, alternate_group
    buf.putShort(0); buf.putShort(0)    // volume, reserved
    matrix()
    buf.putInt((width << 16).toInt); buf.putInt((height << 16).toInt)
    buf.array()
  }

  def makePng(width: Long, height: Long): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13) // IHDR length
    out.put("IHDR".getBytes("US-ASCII"))
    out.putInt(width.toInt).putInt(height.toInt)
    out.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.array()
  }

  def makeJpeg(width: Long, height: Long): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(2 + 18 + 13)
    out.put(0xff.toByte).put(0xd8.toByte)
    // APP0/JFIF segment before the SOF, so the parser must really walk
    out.put(0xff.toByte).put(0xe0.toByte).putShort(16.toShort)
    out.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    out.put(Array.fill(9)(0.toByte))
    out.put(0xff.toByte).put(0xc0.toByte).putShort(11.toShort)
    out.put(8.toByte)
    out.putShort(height.toShort).putShort(width.toShort)
    out.put(3.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.array()
  }

  def makeWav(sampleRate: Long, channels: Long): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1.toShort).putShort(channels.toShort)
    out.putInt(sampleRate.toInt).putInt((sampleRate * channels * 2).toInt)
    out.putShort((channels * 2).toShort).putShort(16.toShort)
    out.put("data".getBytes("US-ASCII")).putInt(0)
    out.array()
  }
}
