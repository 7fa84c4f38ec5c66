package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata structs, processed per-partition in batches.
  *
  * Codecs: the JDK itself decodes PNG/BMP/GIF/JPEG (`javax.imageio`) and
  * PCM WAV (`javax.sound.sampled`) — those paths are REAL here (decode,
  * resize re-encode, feature extraction over actual pixels/samples).
  * Formats with no JVM codec in this container (mp4/webm/ogg…) fall back
  * to the deterministic STUB kernels (clearly marked), keeping the
  * pipeline runnable end-to-end; the Spark-side contract that matters at
  * 100 TB — schema, batch shape, partition sizing, the mapPartitions
  * pipeline that would host a JNI/FFI codec — is identical either way.
  *
  * Layout guidance: binary payloads dominate partition size, so callers
  * should write with a small `spark.sql.files.maxPartitionBytes` /
  * `parquet.block.size` and partition on the metadata, never the payload.
  */
object Multimodal {

  // ------------------------------------------------------------------ real codecs

  /** Sniffed container format from magic bytes, or None if unknown. */
  def sniffFormat(bytes: Array[Byte]): Option[String] = {
    if (bytes == null || bytes.length < 12) None
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes(0) == 'B' && bytes(1) == 'M') Some("bmp")
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) Some("jpeg")
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') Some("gif")
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
             bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E') Some("wav")
    else None
  }

  /** Real image decode via the JDK's ImageIO (PNG/BMP/GIF/JPEG). Returns
    * (format, width, height, meanLuma∈[0,1]) or None if undecodable.
    */
  def decodeImageInfo(bytes: Array[Byte]): Option[(String, Int, Int, Double)] =
    sniffFormat(bytes).filter(_ != "wav").flatMap { fmt =>
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0.0
          val raster = img.getRaster
          if (raster.getNumBands == 1) {
            // grayscale: read raw raster samples — getRGB would gamma-map
            // gray→sRGB and break byte-exactness
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
          } else {
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
                x += 1
              }
              y += 1
            }
          }
          Some((fmt, w, h, sum / (w.toLong * h) / 255.0))
        }
      } catch { case _: Exception => None }
    }

  /** Real resize (area-preserving smooth scale) + re-encode. Lossless for
    * png/bmp targets; returns None for undecodable input.
    */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int, outFormat: String = "png"): Option[Array[Byte]] =
    sniffFormat(bytes).filter(_ != "wav").flatMap { _ =>
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val dst = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val g = dst.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
          g.dispose()
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, outFormat, out)
          Some(out.toByteArray)
        }
      } catch { case _: Exception => None }
    }

  /** Encode an 8-bit grayscale image losslessly as PNG — the deterministic
    * blob builder used by tests and the gate query (pixel i = `pixels(i)`).
    */
  def encodeGrayPng(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"need $w*$h pixels, got ${pixels.length}")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, pixels)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic test/gate blob: render the first w*h UTF-8 bytes of a
    * string as a w×h grayscale PNG (zero-padded). Lossless, so the decoded
    * mean luma equals the byte mean — an exactly oracle-checkable codec
    * round-trip.
    */
  def textToGrayPng(text: String, w: Int = 16, h: Int = 16): Array[Byte] = {
    val src = if (text == null) Array.emptyByteArray
              else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pixels = java.util.Arrays.copyOf(src, w * h)
    encodeGrayPng(pixels, w, h)
  }

  /** Real WAV decode via javax.sound: (sampleRate, channels, durationMs,
    * rms∈[0,1] over 16-bit PCM samples), or None if not a decodable WAV.
    */
  def decodeWavInfo(bytes: Array[Byte]): Option[(Int, Int, Long, Double)] =
    sniffFormat(bytes).filter(_ == "wav").flatMap { _ =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmtA = in.getFormat
        val frames = in.getFrameLength
        val durMs = (frames * 1000L) / fmtA.getSampleRate.toLong
        val data = in.readAllBytes()
        var sumSq = 0.0
        var n = 0
        if (fmtA.getSampleSizeInBits == 16) {
          var i = 0
          while (i + 1 < data.length) {
            val s = if (fmtA.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                    else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
            sumSq += (s / 32768.0) * (s / 32768.0); n += 1; i += 2
          }
        }
        Some((fmtA.getSampleRate.toInt, fmtA.getChannels, durMs,
          if (n == 0) 0.0 else math.sqrt(sumSq / n)))
      } catch { case _: Exception => None }
    }

  /** Typed metadata carried beside every blob. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // "image" | "audio" | "video"
    StructField("format", StringType),       // "jpeg" | "wav" | ...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a raw binary column with a parsed metadata struct.
    * STUB decode: header fields are derived deterministically from the bytes
    * (length/first bytes), standing in for a real format parser.
    */
  def attachMeta(df: DataFrame, binCol: String, mediaType: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mediaType).as("media_type"),
      when(lit(mediaType) === "image", lit("jpeg")).otherwise(lit("wav")).as("format"),
      (pmod(xxhash64(col(binCol)), lit(1920)) + 1).cast("int").as("width"),
      (pmod(xxhash64(col(binCol), lit(1)), lit(1080)) + 1).cast("int").as("height"),
      (length(col(binCol)).cast("long") * 8).as("duration_ms")))

  /** 8-dim feature vector from a REAL decode of the payload:
    *
    *  - decodable IMAGE (png/jpeg/bmp/gif via ImageIO): 8-bin grayscale
    *    HISTOGRAM of a bilinear 16×16 downscale — fractions over the 256
    *    resampled pixels (sum to 1), the classic tiny global descriptor;
    *  - decodable WAV: 8-window RMS ENERGY ENVELOPE over the 16-bit PCM
    *    samples (the time-domain cousin of coarse spectral bins);
    *  - anything else (no codec for the format in this container): 8-bin
    *    BYTE-VALUE histogram of the raw payload — a documented fallback,
    *    still a pure function of the content, never a placeholder.
    *
    * Every branch is deterministic (values rounded to 1e-6), so gates and
    * tests assert exact numbers.
    */
  def decodeFeatures(bytes: Array[Byte]): Array[Double] = {
    def round6(a: Array[Double]): Array[Double] =
      a.map(x => math.round(x * 1e6) / 1e6)
    if (bytes == null || bytes.isEmpty) return Array.fill(8)(0.0)
    imageHistogram(bytes).orElse(wavEnvelope(bytes)).getOrElse {
      val out = new Array[Double](8)
      var i = 0
      while (i < bytes.length) { out((bytes(i) & 0xff) >> 5) += 1.0; i += 1 }
      round6(out.map(_ / bytes.length))
    } match { case a => round6(a) }
  }

  /** 8-bin grayscale histogram over a bilinear 16×16 downscale of a real
    * ImageIO decode — None when the payload is not a decodable image.
    */
  private[ops] def imageHistogram(bytes: Array[Byte]): Option[Array[Double]] =
    sniffFormat(bytes).filter(_ != "wav").flatMap { _ =>
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val dst = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = dst.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, 16, 16, null)
          g.dispose()
          val r = dst.getRaster
          val hist = new Array[Double](8)
          var y = 0
          while (y < 16) {
            var x = 0
            while (x < 16) { hist(r.getSample(x, y, 0) >> 5) += 1.0; x += 1 }
            y += 1
          }
          Some(hist.map(_ / 256.0))
        }
      } catch { case _: Exception => None }
    }

  /** 8-window RMS energy envelope over a real WAV decode's 16-bit PCM
    * samples — None when the payload is not a decodable WAV.
    */
  private[ops] def wavEnvelope(bytes: Array[Byte]): Option[Array[Double]] =
    sniffFormat(bytes).filter(_ == "wav").flatMap { _ =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) return None
        val data = in.readAllBytes()
        val n = data.length / 2
        if (n == 0) return Some(new Array[Double](8))
        val sumSq = new Array[Double](8)
        val cnt = new Array[Long](8)
        var i = 0
        while (i + 1 < data.length) {
          val s = if (fmt.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                  else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
          val w = math.min(7, ((i / 2).toLong * 8 / n).toInt)
          sumSq(w) += (s / 32768.0) * (s / 32768.0)
          cnt(w) += 1
          i += 2
        }
        Some(Array.tabulate(8)(w =>
          if (cnt(w) == 0) 0.0 else math.sqrt(sumSq(w) / cnt(w))))
      } catch { case _: Exception => None }
    }

  /** Decoded media info, batched per partition: REAL codecs for sniffable
    * formats (image dims + mean luma via ImageIO; WAV duration + RMS via
    * javax.sound), stub byte-stats for everything else. Output columns:
    * id, format (null ⇒ stub path), width, height, mean_luma.
    */
  def extractImageInfo(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("mean_luma", DoubleType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](binIdx)
        decodeImageInfo(bytes) match {
          case Some((fmt, w, h, luma)) => Row(id, fmt, w, h, luma)
          case None =>
            decodeWavInfo(bytes) match {
              case Some((rate, ch, durMs, rms)) => Row(id, "wav", rate, ch, rms)
              case None => Row(id, null, null, null, decodeFeatures(bytes)(0))
            }
        }
      }
    }
  }

  /** Feature extraction over binary media, batched per partition
    * (mapPartitions — the Scala analogue of mapInPandas batches; a real
    * impl would hand each partition's iterator to a native codec thread
    * pool). Output: id, media_meta, features array<double>.
    */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("features", ArrayType(DoubleType))))
    val idIdx = df.schema.fieldIndex(idCol)
    val binIdx = df.schema.fieldIndex(binCol)
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // batch boundary: one partition = one codec session (real impl would
      // pin native resources here, amortized across the whole partition)
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](binIdx)
        Row(id, decodeFeatures(bytes).toSeq)
      }
    }
  }

  /** Deterministic frame sampling plan for video blobs: every `everyMs`
    * milliseconds of the (stubbed) duration, capped at `maxFrames`. Pure
    * column math — the real frame *decode* would consume this plan in
    * [[extractFeatures]]-style batches.
    */
  def frameSamplePlan(df: DataFrame, everyMs: Long, maxFrames: Int = 32): DataFrame =
    df.withColumn("frame_ts_ms",
      slice(sequence(lit(0L), col("media_meta.duration_ms"), lit(everyMs)), 1, maxFrames))

  /** Resize contract (STUB): records the target size in metadata; a real
    * impl rewrites the payload. Keeps schema evolution honest in tests.
    */
  def resizePlan(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("media_meta", struct(
      col("media_meta.media_type"),
      col("media_meta.format"),
      lit(w).cast("int").as("width"),
      lit(h).cast("int").as("height"),
      col("media_meta.duration_ms")))

  // --------------------------------------------- perceptual image dedup

  /** 64-bit DIFFERENCE HASH (dHash) over a real decode: smooth-scale to
    * 9×8 grayscale, bit (x,y) = "pixel brighter than its right neighbor".
    * The standard perceptual fingerprint for image near-dup detection
    * (robust to re-encode, mild noise and resize; NOT to crops/rotations).
    * None for undecodable blobs.
    */
  def imageDHash(bytes: Array[Byte]): Option[Long] =
    sniffFormat(bytes).filter(_ != "wav").flatMap { _ =>
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val dst = new java.awt.image.BufferedImage(9, 8,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = dst.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, 9, 8, null)
          g.dispose()
          val r = dst.getRaster
          var h = 0L
          var bit = 0
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (r.getSample(x, y, 0) < r.getSample(x + 1, y, 0)) h |= (1L << bit)
              bit += 1; x += 1
            }
            y += 1
          }
          Some(h)
        }
      } catch { case _: Exception => None }
    }

  /** Attach the perceptual hash as a nullable column — a NARROW map (the
    * decode runs where the bytes already live; nothing shuffles).
    */
  def withImageDHash(df: DataFrame, binCol: String, outCol: String = "dhash"): DataFrame = {
    val hUdf = udf((b: Array[Byte]) => imageDHash(b))
    df.withColumn(outCol, hUdf(col(s"`$binCol`")))
  }

  /** Near-duplicate image candidate pairs: dHash + the capped Hamming
    * banding kernel ([[Dedup.hamming64Candidates]] — one shuffle of
    * (band, chunk, id, hash) rows, hot buckets skip-and-count). The
    * 4×16-bit pigeonhole GUARANTEES recall only for maxHamming <= 3;
    * larger radii are best-effort (a pair may differ in all 4 chunks).
    * Undecodable blobs drop out (no hash, no pair).
    */
  def nearDupImagePairs(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000,
      skippedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    Dedup.fingerprintCandidates(df, idCol, binCol, udf((b: Array[Byte]) => imageDHash(b)),
      maxHamming, maxBucket, skippedBuckets)

  /** 64-bit audio fingerprint over a REAL WAV decode (the Haitsma–Kalker
    * energy-difference family, collapsed to the time axis): decode 16-bit
    * PCM to mono, split into 65 equal windows, bit i = "window i+1 has
    * more energy than window i". Invariant to uniform GAIN (comparisons
    * of scaled energies) and to sample-rate/channel layout (relative
    * windows); sensitive to temporal structure. None for non-WAV blobs.
    */
  def audioFingerprint(bytes: Array[Byte]): Option[Long] =
    sniffFormat(bytes).filter(_ == "wav").flatMap { _ =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmtA = in.getFormat
        if (fmtA.getSampleSizeInBits != 16) None
        else {
          val data = in.readAllBytes()
          val ch = fmtA.getChannels.max(1)
          val frameBytes = 2 * ch
          val frames = data.length / frameBytes
          if (frames < 130) None // need >= 2 frames per window
          else {
            // mono energy per window, windows sized in whole frames
            val e = new Array[Double](65)
            val perWindow = frames / 65
            var w = 0
            while (w < 65) {
              var f = w * perWindow
              val end = f + perWindow
              var sum = 0.0
              while (f < end) {
                var c = 0
                var mono = 0.0
                while (c < ch) {
                  val i = f * frameBytes + 2 * c
                  val sVal = if (fmtA.isBigEndian) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort
                             else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort
                  mono += sVal / 32768.0; c += 1
                }
                mono /= ch
                sum += mono * mono; f += 1
              }
              e(w) = sum
              w += 1
            }
            var h = 0L
            var b = 0
            while (b < 64) { if (e(b + 1) > e(b)) h |= (1L << b); b += 1 }
            Some(h)
          }
        }
      } catch { case _: Exception => None }
    }

  /** Attach the audio fingerprint as a nullable column — narrow map. */
  def withAudioFingerprint(df: DataFrame, binCol: String, outCol: String = "afp"): DataFrame = {
    val hUdf = udf((b: Array[Byte]) => audioFingerprint(b))
    df.withColumn(outCol, hUdf(col(s"`$binCol`")))
  }

  /** Near-duplicate audio candidate pairs / dedup — the same capped
    * Hamming banding + CC closure as the image path, over
    * [[audioFingerprint]]. Undecodable blobs are always kept.
    */
  def nearDupAudioPairs(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000,
      skippedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    Dedup.fingerprintCandidates(df, idCol, binCol, udf((b: Array[Byte]) => audioFingerprint(b)),
      maxHamming, maxBucket, skippedBuckets)

  def dedupAudioNearDup(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    Dedup.dedupCCFromPairs(df, idCol, nearDupAudioPairs(df, idCol, binCol, maxHamming, maxBucket))

  /** Drop near-duplicate images, keeping each duplicate cluster's least id
    * (transitive closure over verified pairs — [[Dedup.dedupCCFromPairs]],
    * the closure and survivor step of every near-dup flow). Undecodable
    * blobs are always KEPT — "could not decode" must never silently
    * discard data.
    */
  def dedupImagesNearDup(
      df: DataFrame, idCol: String, binCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    Dedup.dedupCCFromPairs(df, idCol, nearDupImagePairs(df, idCol, binCol, maxHamming, maxBucket))
}
