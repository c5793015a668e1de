package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, and a distributed decode/feature
  * stage.
  *
  * IMAGE decode is REAL: [[decodeImageStats]] decodes PNG/BMP/GIF
  * payloads with the JDK's `javax.imageio` (no external codec needed)
  * and emits per-channel pixel statistics — the per-blob kernel a
  * multimodal training pipeline runs at scale. AUDIO decode is REAL
  * for raw s16le PCM ([[decodePcmStats]] — ByteBuffer is the only
  * codec raw PCM needs). Compressed video/audio decode (frame counts,
  * sample rates) is STUBBED ([[StubDecoder]] derives deterministic
  * fake dimensions from the payload hash; ffmpeg-class codecs are not
  * in this environment). Either way the Spark-side
  * plumbing — schema, partition-parallel batch decode via
  * mapPartitions, metadata projection — is what matters at 100 TB:
  * payload bytes are never shuffled (decode runs map-side on the scan
  * partitioning) and metadata-only queries prune the binary column at
  * the parquet reader.
  */
object Multimodal {

  /** Media metadata produced by the decode stage. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType),
    StructField("sha", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  trait MediaDecoder extends Serializable {
    /** Decode payload → (width, height, n_frames). */
    def decode(payload: Array[Byte]): (Int, Int, Int)
  }

  /** STUB decoder — deterministic fake standing in for a real codec
    * (e.g. JPEG/PNG header parse, ffprobe). Derives dimensions from a
    * polynomial hash of the payload so tests are reproducible. Replace
    * with a real codec in production; the surrounding plumbing is
    * unchanged. */
  object StubDecoder extends MediaDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Int) = {
      var h = 0L
      var i = 0
      while (i < payload.length) {
        h = (h * 31 + (payload(i) & 0xff)) % graft.functions.Text.P
        i += 1
      }
      (64 + (h % 1920L).toInt, 64 + ((h / 7L) % 1080L).toInt,
        1 + (h % 240L).toInt)
    }
  }

  /** Frame sampling over decoded media metadata: up to `maxFrames`
    * evenly-strided frame indices from [1, nFrames] — the "which
    * frames feed the feature extractor" stage of a video pipeline.
    * Pure column math over the metadata (the payload column is never
    * touched, so metadata-only sampling reads zero media bytes). */
  def sampleFrameIndices(nFrames: org.apache.spark.sql.Column,
                         maxFrames: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // Guards: n <= 0 (corrupt/empty media) must yield an empty list —
    // sequence(1, 0) would count DOWN and the % 0 would abort an
    // ANSI-mode session.
    val step = greatest(ceil(nFrames.cast("double") / maxFrames).cast("long"),
      lit(1L))
    when(nFrames.cast("long") <= 0,
      array().cast("array<bigint>"))
      .otherwise(filter(sequence(lit(1L), nFrames.cast("long")),
        i => (i - 1) % step === 0))
  }

  /** Resize planning over decoded dimensions: aspect-preserving fit
    * into a target box (the standard vision-preprocess step). Pure
    * metadata math — the actual pixel resample belongs to the decode
    * stage's codec (stubbed here); the engine's job is computing the
    * target geometry for every asset without touching payload bytes. */
  def fitDimensions(width: org.apache.spark.sql.Column,
                    height: org.apache.spark.sql.Column,
                    box: Int): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val scale = least(lit(box.toDouble) / width, lit(box.toDouble) / height)
    val capped = least(scale, lit(1.0)) // never upscale
    (floor(width * capped).cast("long"), floor(height * capped).cast("long"))
  }

  /** Metadata produced by the REAL image decode stage. Channel sums
    * are exact-integer longs (ORACLE_NOTES.md rule 1): bit-portable
    * across engines, and the caller derives means by one exact
    * division. */
  val imageStatsSchema: StructType = StructType(Seq(
    StructField("img_w", IntegerType),
    StructField("img_h", IntegerType),
    StructField("channels", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /** Deterministic synthetic PNG: pixel (x, y) has channels
    * r = (seed + 7x + 13y) mod 256, g = (3·seed + 5x + 11y) mod 256,
    * b = (5·seed + 3x + 17y) mod 256. PNG is lossless, so a real
    * decoder must recover exactly these values — which an oracle can
    * compute analytically without any image library. */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((seed + 7L * x + 13L * y) % 256).toInt
        val g = ((3L * seed + 5L * x + 11L * y) % 256).toInt
        val b = ((5L * seed + 3L * x + 17L * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL distributed image decode (JDK `javax.imageio` — PNG/BMP/GIF
    * need no external library): per-partition batch over the binary
    * column, appending [[imageStatsSchema]] fields — dimensions plus
    * exact per-channel pixel sums (for grayscale images r=g=b).
    * Undecodable/null payloads yield null metadata (corrupt blobs
    * must not kill a 100 TB scan). Map-side only: payload bytes are
    * never shuffled. */
  def decodeImageStats(df: DataFrame, payloadCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ imageStatsSchema.fields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls = Seq(null, null, null, null, null, null)
    df.mapPartitions { it =>
      // ImageIO defaults to a DISK-backed stream cache: every decode
      // writes a temp file — a hidden per-blob disk round-trip that
      // serializes on IO under load. The blobs are already in memory;
      // cache in memory.
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        // ImageIO.read signals "not an image" with null but THROWS on
        // a recognized-but-corrupt body (truncated PNG etc.) — both
        // must land on the null-metadata row, not abort the scan.
        val img =
          if (r.isNullAt(idx)) null
          else try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](idx)))
          catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) Row.fromSeq(r.toSeq ++ nulls)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          // one batched raster fetch + sRGB conversion, not w·h
          // per-pixel getRGB calls — the per-blob kernel is the CPU
          // budget of this stage at scale
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var i = 0
          while (i < px.length) {
            val p = px(i)
            sr += (p >> 16) & 0xff
            sg += (p >> 8) & 0xff
            sb += p & 0xff
            i += 1
          }
          // Seq[Any] stops Scala's numeric harmonization from widening
          // the Int fields to Long (INVALID_EXTERNAL_TYPE otherwise).
          Row.fromSeq(r.toSeq ++ Seq[Any](w, h,
            img.getColorModel.getNumColorComponents, sr, sg, sb))
        }
      }
    }(enc)
  }

  /** Difference-hash (dHash) of the decoded image: the standard
    * perceptual fingerprint for image near-dup detection. The image is
    * box-downsampled to a 9×8 grid of integer gray sums (gray =
    * r+g+b, no luma floats), and bit (i,j) = [cell(i+1,j) mean >
    * cell(i,j) mean], compared CROSS-MULTIPLIED in integers so no
    * division exists and the hash is bit-portable. The 64 bits are
    * packed as two BIGINTs (lo = bits 0–31, hi = 32–63) so neither
    * value needs the sign bit — every engine agrees on the arithmetic,
    * and Hamming distance is bit_count(xor(lo)) + bit_count(xor(hi)).
    * Map-side only; payload bytes never shuffle. */
  val imageDHashSchema: StructType = StructType(Seq(
    StructField("dhash_hi", LongType),
    StructField("dhash_lo", LongType)))

  def decodeImageDHash(df: DataFrame, payloadCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ imageDHashSchema.fields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls = Seq(null, null)
    val (gCols, gRows) = (9, 8)
    df.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // see decodeImageStats
      it.map { r =>
        val img =
          if (r.isNullAt(idx)) null
          else try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](idx)))
          catch { case _: java.io.IOException | _: RuntimeException => null }
        if (img == null) Row.fromSeq(r.toSeq ++ nulls)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          val s = Array.ofDim[Long](gRows, gCols)
          val n = Array.ofDim[Long](gRows, gCols)
          var y = 0
          while (y < h) {
            val rj = y * gRows / h
            var x = 0
            while (x < w) {
              val ci = x * gCols / w
              val p = px(y * w + x)
              s(rj)(ci) += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
              n(rj)(ci) += 1
              x += 1
            }
            y += 1
          }
          var (hi, lo) = (0L, 0L)
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 8) {
              // mean(i+1,j) > mean(i,j), cross-multiplied (empty cells
              // count 0 and can never win)
              if (s(j)(i + 1) * n(j)(i) > s(j)(i) * n(j)(i + 1)) {
                val k = j * 8 + i
                if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
              }
              i += 1
            }
            j += 1
          }
          Row.fromSeq(r.toSeq ++ Seq[Any](hi, lo))
        }
      }
    }(enc)
  }

  /** Metadata produced by the REAL PCM audio decode stage. All
    * exact-integer (ORACLE_NOTES.md rule 1): sample sums/peaks are
    * longs an oracle reproduces analytically. */
  val audioStatsSchema: StructType = StructType(Seq(
    StructField("n_samples", IntegerType),
    StructField("sum_abs", LongType),
    StructField("peak", IntegerType),
    StructField("n_clipped", LongType)))

  /** Deterministic synthetic PCM: sample i of blob `seed` is
    *   v_i = ((seed·31 + i·37) mod 4001) − 2000
    * encoded signed-16-bit little-endian — a raw audio payload whose
    * per-sample values an oracle computes analytically without any
    * audio library (raw PCM is lossless by definition). */
  def syntheticPcm(seed: Long, n: Int): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      buf.putShort((((seed * 31L + i * 37L) % 4001L) - 2000L).toShort)
      i += 1
    }
    buf.array()
  }

  /** REAL distributed audio decode over raw s16le PCM payloads (the
    * JDK's ByteBuffer is the only "codec" raw PCM needs): per-blob
    * sample count, exact sum of absolute amplitudes, peak, and a
    * clipping count (|v| >= clipAt) — the loudness/clipping screen an
    * audio training pipeline runs before feature extraction. Map-side
    * only; payload bytes never shuffle. Null or odd-length (torn)
    * payloads yield null metadata rather than killing the scan. */
  def decodePcmStats(df: DataFrame, payloadCol: String,
                     clipAt: Int = 1900): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ audioStatsSchema.fields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls = Seq(null, null, null, null)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        if (bytes == null || bytes.length % 2 != 0) Row.fromSeq(r.toSeq ++ nulls)
        else {
          val sb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val n = sb.limit()
          var (sumAbs, clipped) = (0L, 0L)
          var peak = 0
          var i = 0
          while (i < n) {
            val a = math.abs(sb.get(i).toInt)
            sumAbs += a
            if (a > peak) peak = a
            if (a >= clipAt) clipped += 1
            i += 1
          }
          Row.fromSeq(r.toSeq ++ Seq[Any](n, sumAbs, peak, clipped))
        }
      }
    }(enc)
  }

  /** VAD (voice-activity detection) frame stats over s16le PCM: the
    * payload is framed into `frame`-sample windows; a frame is voiced
    * when its exact sum of absolute amplitudes reaches `threshold`.
    * Emits frame count, voiced-frame count, and the number of voiced
    * SEGMENTS (maximal runs of consecutive voiced frames) — the
    * speech-span statistic an audio curation pipeline uses to drop
    * silence-heavy clips. All-integer per-blob outputs; map-side only
    * (payload bytes never shuffle); the trailing partial frame is
    * dropped (standard framing). Null/torn payloads → null metadata. */
  val vadSchema: StructType = StructType(Seq(
    StructField("n_frames", IntegerType),
    StructField("n_voiced", LongType),
    StructField("n_segments", LongType)))

  def vadStats(df: DataFrame, payloadCol: String, frame: Int = 100,
               threshold: Long = 100000L): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ vadSchema.fields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls = Seq(null, null, null)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        if (bytes == null || bytes.length % 2 != 0) Row.fromSeq(r.toSeq ++ nulls)
        else {
          val sb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val nf = sb.limit() / frame
          var voiced = 0L
          var segs = 0L
          var prev = false
          var f = 0
          while (f < nf) {
            var s = 0L
            var i = f * frame
            val end = i + frame
            while (i < end) { s += math.abs(sb.get(i).toInt); i += 1 }
            val v = s >= threshold
            if (v) { voiced += 1; if (!prev) segs += 1 }
            prev = v
            f += 1
          }
          Row.fromSeq(r.toSeq ++ Seq[Any](nf, voiced, segs))
        }
      }
    }(enc)
  }

  /** Distributed decode: per-partition batch over the binary column.
    * Runs map-side (no shuffle of payload bytes); output appends the
    * metadata struct fields. */
  def decodeFeatures(df: DataFrame, payloadCol: String,
                     decoder: MediaDecoder = StubDecoder): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ mediaMetaSchema.fields)
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.map { r =>
        if (r.isNullAt(idx)) Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null))
        else {
          val bytes = r.getAs[Array[Byte]](idx)
          val (w, h, f) = decoder.decode(bytes)
          md.reset()
          val sha = md.digest(bytes).map("%02x".format(_)).mkString
          Row.fromSeq(r.toSeq ++ Seq(bytes.length.toLong, sha, w, h, f))
        }
      }
    }(enc)
  }

  /** Walsh-Hadamard sequency coefficients over the FIRST `nFft`
    * samples of an s16le PCM payload: W_k = Σ_i v_i·(−1)^popcount(k&i)
    * for k in `ks` — the EXACT-INTEGER spectral screen (±1 basis, no
    * trig), the transform an audio pipeline uses where a float FFT's
    * cross-engine libm noise would poison a hash gate. Map-side only;
    * payloads shorter than nFft (or torn) yield null coefficients. */
  def whtCoeffs(df: DataFrame, payloadCol: String, nFft: Int = 64,
                ks: Seq[Int] = Seq(0, 1, 2, 3)): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      ks.map(k => StructField(s"w$k", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    val nulls = ks.map(_ => null)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        if (bytes == null || bytes.length % 2 != 0 ||
          bytes.length / 2 < nFft) Row.fromSeq(r.toSeq ++ nulls)
        else {
          val sb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val ws = ks.map { k =>
            var acc = 0L
            var i = 0
            while (i < nFft) {
              val sign = if (Integer.bitCount(k & i) % 2 == 0) 1L else -1L
              acc += sign * sb.get(i).toLong
              i += 1
            }
            acc
          }
          Row.fromSeq(r.toSeq ++ ws)
        }
      }
    }(enc)
  }
}
