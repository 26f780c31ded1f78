package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch decoders.
  *
  * IMAGE and AUDIO decode are REAL — the JDK ships codecs (`javax.imageio`:
  * PNG, JPEG, BMP, GIF; `javax.sound.sampled`: WAV, AIFF, AU), so
  * [[decodeImage]] / [[decodeImageBatch]] / [[imageAHash64]] /
  * [[decodeAudio]] / [[decodeAudioBatch]] run actual header parses, pixel
  * decodes and perceptual hashing with no external libraries. VIDEO header
  * decode is REAL too: the JDK ships no video codec, but the metadata this
  * engine extracts (duration, dimensions) lives in the container header,
  * which is pure byte arithmetic — [[decodeVideo]] parses ISO-BMFF MP4
  * (`moov`/`mvhd`/`tkhd`) and RIFF AVI (`avih`) headers directly. All
  * three synthesize→decode round trips have arithmetic DuckDB oracles
  * (q_mm_real_decode / q_mm_real_audio / q_mm_real_video). Video frame
  * PIXEL decode is REAL for MJPEG-in-AVI — each `00dc` chunk in the
  * `movi` list is a plain JPEG the JDK's own codec decodes
  * ([[decodeAviFrames]] / [[decodeAviFramesBatch]], oracled by
  * q_mm_frames' synthesize→decode round trip); `decodeStub` remains only
  * as the documented deterministic stand-in for codecs the JDK genuinely
  * lacks (H.264/VP9/AV1 essence).
  *
  * Scale notes: media bytes never pass through a shuffle — metadata and
  * features are extracted in a scan-side projection / mapPartitions, and
  * downstream joins carry only (id, features). Partition sizing for blob
  * columns: spark.sql.files.maxPartitionBytes should be tuned down so a
  * partition of multi-MB blobs still fits executor memory.
  */
object Multimodal {

  /** Build a media table from any (id, text) source — the text bytes stand
    * in for encoded media so the pipeline is runnable and deterministic. */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      (when(pmod(col(idCol), lit(3)) === 0, "image")
        .when(pmod(col(idCol), lit(3)) === 1, "audio")
        .otherwise("video")).as("kind"),
      col(textCol).cast("binary").as("bytes"),
      map(lit("src"), lit("synthetic")).as("meta"))

  /** STUB decode: deterministic pseudo-metadata from byte statistics, shaped
    * like a real decoder's output (width/height/duration). A production
    * build replaces the body with a codec call — [[decodeImage]] /
    * [[decodeAudio]] are the real-codec counterparts for formats the JDK
    * ships; only video still needs this stub. */
  def decodeStub(bytes: Column): Column = {
    val n = length(bytes).cast("long")
    struct(
      (pmod(n, lit(640L)) + lit(1L)).as("width"),
      (pmod(n * lit(7L), lit(480L)) + lit(1L)).as("height"),
      (n / lit(100.0)).as("duration_s"))
  }

  /** Decoded image header metadata. */
  case class ImageMeta(width: Int, height: Int, format: String)

  // ImageIO's default input cache spools every stream to a temp FILE —
  // per-image create/delete syscalls on the decode hot path, and a crash
  // source when an executor's tmpdir is full. All our inputs are in-memory
  // byte arrays: cache in memory, JVM-wide.
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF): reads the
    * HEADER ONLY — `ImageReader.getWidth/getHeight` never inflates pixels,
    * so metadata extraction over 100 TB of blobs costs a few hundred bytes
    * of I/O per image, not a full decode. Returns None for corrupt or
    * non-image payloads: at corpus scale undecodable blobs are data, not
    * exceptions — callers filter or route them, jobs never die on one
    * (stream construction sits INSIDE the catch for the same reason). */
  def decodeImage(bytes: Array[Byte]): Option[ImageMeta] = {
    if (bytes == null || bytes.isEmpty) return None
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some(ImageMeta(r.getWidth(0), r.getHeight(0),
            r.getFormatName.toLowerCase(java.util.Locale.ROOT)))
        } finally r.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    finally if (iis != null) iis.close()
  }

  /** REAL perceptual fingerprint: classic 64-bit average-hash. Full pixel
    * decode, area-average downsample to 8×8 luminance, one bit per cell
    * (above/below the mean). Near-identical images (re-encodes, small
    * edits) land within a few bits of Hamming distance, so the output
    * plugs straight into the SimHash-style near-dup machinery. None for
    * undecodable payloads. */
  def imageAHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth == 0 || img.getHeight == 0) return None
      val w = img.getWidth
      val h = img.getHeight
      // area-average luminance per 8×8 cell (every source pixel counted
      // once — sampling-free, so the hash is deterministic across codecs)
      val sums = new Array[Double](64)
      val counts = new Array[Long](64)
      var y = 0
      while (y < h) {
        val cy = math.min(y * 8 / h, 7)
        var x = 0
        while (x < w) {
          val cx = math.min(x * 8 / w, 7)
          val rgb = img.getRGB(x, y)
          val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          sums(cy * 8 + cx) += lum
          counts(cy * 8 + cx) += 1
          x += 1
        }
        y += 1
      }
      // the mean is over PIXELS (= weighted mean of populated cells), never
      // over all 64 cell slots: images narrower/shorter than 8px leave
      // cells unpopulated, and counting those as 0-luminance would deflate
      // the mean until most small images collapse onto one degenerate hash
      // (false duplicate merges). Unpopulated cells contribute a 0 bit.
      var totalLum = 0.0
      var totalPx = 0L
      var i = 0
      while (i < 64) { totalLum += sums(i); totalPx += counts(i); i += 1 }
      val mean = totalLum / totalPx
      var bits = 0L
      i = 0
      while (i < 64) {
        if (counts(i) > 0 && sums(i) / counts(i) >= mean) bits |= (1L << i)
        i += 1
      }
      Some(bits)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** 64-bit difference-hash (dHash): area-average the luminance onto a
    * 9×8 grid, one bit per horizontally adjacent cell pair — set when the
    * left cell is strictly brighter. The gradient-based complement of
    * [[imageAHash64]]: aHash compares every cell against the GLOBAL mean,
    * so a brightness/gamma shift that moves the mean flips the bits of
    * cells near it; dHash compares neighbors, and any monotone tone curve
    * preserves pointwise-ordered neighborhoods (spec-pinned on a
    * gamma-shifted gradient aHash misclassifies). Same 64-bit shape, so
    * it drops into the Hamming-LSH banding and keeper machinery
    * unchanged.
    *
    * All arithmetic is integer-exact so an external SQL engine can
    * replay it bit-for-bit (the q_mm_dhash oracle): luminance is BT.601
    * fixed-point (299·R + 587·G + 114·B, no division), cell averages
    * compare by Long cross-multiplication — exact up to ~430 MP images
    * (sum·count < 2⁶³); anything larger returns None as absurd. Cells
    * unpopulated by sub-9×8 images yield 0 bits. */
  def imageDHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null || img.getWidth == 0 || img.getHeight == 0) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w.toLong * h > 400000000L) return None
      val sums = new Array[Long](72) // 8 rows × 9 cols
      val counts = new Array[Long](72)
      var y = 0
      while (y < h) {
        val cy = math.min(y * 8 / h, 7)
        var x = 0
        while (x < w) {
          val cx = math.min(x * 9 / w, 8)
          val rgb = img.getRGB(x, y)
          sums(cy * 9 + cx) += 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          counts(cy * 9 + cx) += 1
          x += 1
        }
        y += 1
      }
      var bits = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          val a = r * 9 + c
          val b = a + 1
          if (counts(a) > 0 && counts(b) > 0 &&
              sums(a) * counts(b) > sums(b) * counts(a))
            bits |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      Some(bits)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic PNG synthesis: one real encoded image per input row,
    * dimensions a pure function of the id (width = id % 31 + 1, height =
    * id % 17 + 1, gradient pixels). Gives the encode→decode round trip an
    * ARITHMETIC oracle: any SQL engine can predict the decoded header
    * without touching a codec, so the real-codec path becomes a
    * CORRECTNESS row rather than spec-only coverage. */
  def synthesizeImages(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (id % 31 + 1).toInt
        val h = (id % 17 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = ((x * 255 / math.max(w - 1, 1)) +
              (y * 255 / math.max(h - 1, 1))) / 2
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        Row(id, out.toByteArray)
      }
    }(enc)
  }

  /** Per-partition REAL image decode: width/height/format columns from the
    * JDK codecs (header-only, see [[decodeImage]]); NULLs for undecodable
    * rows. Same mapPartitions batch shape as [[decodeBatch]]. */
  def decodeImageBatch(df: DataFrame, bytesCol: String = "bytes"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("format", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // positional access: rows arriving from a chained mapPartitions stage
    // carry no schema, so by-name getAs would throw — resolve the index
    // from the DataFrame schema once, driver-side
    val bytesIdx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeImage(r.get(bytesIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq ++ (meta match {
          case Some(m) => Seq[Any](m.width, m.height, m.format)
          case None => Seq[Any](null, null, null)
        }))
      }
    }(enc)
  }

  /** Fixed-size "frame" sampling from a binary payload: every `everyN`-th
    * chunk of `frameBytes` bytes, the final (possibly partial) chunk
    * included — the Spark-side shape of video frame extraction (binary
    * slicing stays codegen'd, no UDF). */
  def sampleFrames(df: DataFrame, bytesCol: String, frameBytes: Int, everyN: Int): DataFrame = {
    // ceil(len / frameBytes) via exact integer arithmetic; empty payloads
    // yield an empty index array (→ no rows), not a phantom frame 0
    val nFrames = expr(s"CAST((octet_length($bytesCol) + ${frameBytes - 1}) DIV $frameBytes AS INT)")
    val idxs = when(nFrames > 0,
      filter(sequence(lit(0), nFrames - 1), i => pmod(i, lit(everyN)) === 0))
      .otherwise(array().cast("array<int>"))
    df.withColumn("frame_idx", explode(idxs))
      .withColumn("frame",
        col(bytesCol).substr(col("frame_idx") * frameBytes + 1, lit(frameBytes)))
  }

  /** Per-partition batch decode: the mapPartitions shape a Pandas-UDF-style
    * batch decoder uses. The decode itself is the deterministic stub; the
    * iterator/batch plumbing, schema and encoder handling are real. */
  def decodeBatch(df: DataFrame): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("width", LongType), StructField("height", LongType),
      StructField("duration_s", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        val n = bytes.length.toLong
        // deterministic stand-in for a video codec call; Seq[Any] keeps the
        // Longs from widening to Double (BIGINT fields must stay Long)
        Row.fromSeq(r.toSeq ++ Seq[Any](n % 640 + 1, (n * 7) % 480 + 1, n / 100.0))
      }
    }(enc)
  }

  /** Decoded audio header metadata. */
  case class AudioMeta(sampleRateHz: Int, channels: Int, frames: Long,
      durationS: Double)

  /** REAL audio decode via the JDK's javax.sound.sampled (WAV/AIFF/AU):
    * header-only — `AudioSystem.getAudioFileFormat` never inflates
    * samples. None for corrupt or non-audio payloads, same contract as
    * [[decodeImage]]. */
  def decodeAudio(bytes: Array[Byte]): Option[AudioMeta] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength.toLong
      val rate = fmt.getSampleRate
      if (rate <= 0 || frames < 0) None
      else Some(AudioMeta(rate.toInt, fmt.getChannels, frames, frames / rate.toDouble))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic WAV synthesis: one real RIFF/WAVE payload per row —
    * sample rate 8000 + (id%8)·1000 Hz, 1 + id%2 channels, id%100 + 1
    * frames of 16-bit PCM sine-ish samples. Like [[synthesizeImages]],
    * the decoded header is a pure function of the id, so the real audio
    * codec round trip gets an arithmetic SQL oracle. */
  def synthesizeWavs(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val rate = (8000 + (id % 8) * 1000).toFloat
        val channels = (1 + id % 2).toInt
        val nFrames = (id % 100 + 1).toInt
        val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
        val pcm = new Array[Byte](nFrames * channels * 2)
        var i = 0
        while (i < pcm.length / 2) {
          val v = (math.sin(i * 0.3) * 12000).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Row(id, out.toByteArray)
      }
    }(enc)
  }

  /** Sample cap for [[audioAHash64]]: fingerprints describe the opening
    * ~2 min at 8 kHz (or proportionally less at higher rates) — bounds
    * both decode work per blob and the integer ranges of the exact
    * window-energy arithmetic (sumAbs·n stays < 2⁵⁶). */
  val MaxFingerprintSamples: Int = 1 << 20

  /** 64-bit perceptual audio fingerprint: decode PCM, mix to mono, split
    * the (capped) sample run into 64 equal windows by `w = i·64/n`, set
    * bit w iff that window's mean |amplitude| exceeds the global mean —
    * the energy-envelope analog of [[imageAHash64]], robust to volume-
    * preserving re-encodes and small edits, and INTEGER-EXACT
    * (`sumAbs_w·n > totalAbs·n_w` — no float thresholds), so the
    * synthesize→decode→hash round trip carries a SQL oracle.
    *
    * None for undecodable payloads, non-16-bit or non-PCM encodings,
    * unknown frame counts, or fewer than 64 samples — gate before
    * fingerprinting, same contract as [[imageAHash64]]. Multi-channel
    * frames mix as the integer mean of their channels. */
  def audioAHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          || fmt.getSampleSizeInBits != 16) return None
      val channels = fmt.getChannels
      val frameBytes = channels * 2
      val frameLen = ais.getFrameLength
      if (frameLen < 64) return None // includes the unknown (-1) sentinel
      val n = math.min(frameLen, MaxFingerprintSamples.toLong).toInt
      val buf = new Array[Byte](n * frameBytes)
      var off = 0
      var r = 0
      while (off < buf.length && r >= 0) {
        r = ais.read(buf, off, buf.length - off)
        if (r > 0) off += r
      }
      if (off < buf.length) return None
      val big = fmt.isBigEndian
      val sumAbs = new Array[Long](64)
      val cnt = new Array[Long](64)
      var totalAbs = 0L
      var i = 0
      while (i < n) {
        var c = 0
        var acc = 0
        while (c < channels) {
          val o = i * frameBytes + c * 2
          val v =
            if (big) (buf(o) << 8) | (buf(o + 1) & 0xff)
            else (buf(o + 1) << 8) | (buf(o) & 0xff)
          acc += v
          c += 1
        }
        val a = math.abs(acc / channels).toLong
        val w = (i.toLong * 64 / n).toInt
        sumAbs(w) += a
        cnt(w) += 1
        totalAbs += a
        i += 1
      }
      var h = 0L
      var w = 0
      while (w < 64) {
        if (sumAbs(w) * n > totalAbs * cnt(w)) h |= 1L << w
        w += 1
      }
      Some(h)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Integer-exact WAV synthesis for the audio-fingerprint oracle: mono
    * 16-bit PCM at 8 kHz, `200 + id%200` frames of the triangle-ish wave
    * `((i·37 + id·13) mod 8000) − 4000` — every decoded sample is a pure
    * INTEGER function of (id, i), so [[audioAHash64]]'s window bits replay
    * in SQL exactly (the sine synthesizer above is for header oracles;
    * its last-ulp libm variance would make sample-level replay fragile). */
  def synthesizeTriangleWavs(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val nFrames = (200 + id % 200).toInt
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val pcm = new Array[Byte](nFrames * 2)
        var i = 0
        while (i < nFrames) {
          val v = (((i.toLong * 37 + id * 13) % 8000) - 4000).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        Row(id, out.toByteArray)
      }
    }(enc)
  }

  /** (id, ahash) over audio blobs — [[imageAHashes]]'s machinery with the
    * audio fingerprint; feeds the same Hamming-LSH banding. */
  def audioAHashes(df: DataFrame, idCol: String, bytesCol: String): DataFrame =
    imageAHashes(df, idCol, bytesCol, audioAHash64)

  /** Audio near-duplicate pairs: [[audioAHash64]] into the SAME Hamming-LSH
    * band/verify pipeline as images (recall-lossless banding for
    * maxHamming ≤ 3, mega-bucket cap default-on). Blobs are decoded once
    * and never shuffled — the banded frame is (id, hash). */
  def audioNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame = {
    val hashed = audioAHashes(df, idCol, bytesCol).persist()
    unpersistAfterFirstUse(hashed)
    imageNearDupPairsFromHashes(hashed, maxHamming, maxBucketSize)
  }

  /** Per-partition REAL audio decode, NULLs for undecodable rows — the
    * audio sibling of [[decodeImageBatch]]. */
  def decodeAudioBatch(df: DataFrame, bytesCol: String = "bytes"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("sample_rate_hz", IntegerType), StructField("channels", IntegerType),
      StructField("frames", LongType), StructField("duration_s", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val bytesIdx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeAudio(r.get(bytesIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq ++ (meta match {
          case Some(m) => Seq[Any](m.sampleRateHz, m.channels, m.frames, m.durationS)
          case None => Seq[Any](null, null, null, null)
        }))
      }
    }(enc)
  }

  /** Decoded video header metadata. */
  case class VideoMeta(width: Int, height: Int, durationS: Double,
      format: String)

  /** Dimension sanity cap for video container headers: both parsers treat
    * a width/height above this as corruption, not metadata. Well above any
    * real footage (16K is 15 360 px) yet far below the unsigned-32 garbage
    * a flipped byte produces. */
  private[multimodal] val MaxSaneVideoDim = 1000000L

  // ---- byte helpers for the container parsers (big-endian ISO BMFF,
  // little-endian RIFF) — all reads are bounds-checked by callers
  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** First ISO-BMFF box of type `typ` in [start, end): (payloadStart,
    * boxEnd). Handles 32-bit, 64-bit (`size == 1`) and to-end
    * (`size == 0`) box sizes; malformed sizes terminate the walk (None)
    * rather than loop or over-read. */
  private def findBox(b: Array[Byte], start: Long, end: Long,
      typ: String): Option[(Long, Long)] = {
    var o = start
    while (o + 8 <= end) {
      var size = be32(b, o.toInt)
      var hdr = 8L
      if (size == 1L) {
        if (o + 16 > end) return None
        size = be64(b, o.toInt + 8)
        hdr = 16L
      } else if (size == 0L) size = end - o
      // overflow-safe bounds: `size > end - o` instead of `o + size > end`
      // — a crafted 64-bit largesize near 2^63 makes the addition wrap
      // negative, pass the naive check, and cycle `o` back to a visited
      // offset (an infinite loop, not an exception). Both operands here
      // are non-negative, so the subtraction cannot wrap.
      if (size < hdr || size > end - o) return None
      if (fourcc(b, o.toInt + 4) == typ) return Some((o + hdr, o + size))
      o += size
    }
    None
  }

  /** REAL MP4 (ISO BMFF) header parse, pure byte arithmetic — no codec
    * library: walks top-level boxes to `moov`, reads duration/timescale
    * from `mvhd` (v0 and v1) and 16.16 fixed-point track dimensions from
    * the first `trak`/`tkhd`. Returns None on any malformed structure. */
  private def parseMp4(b: Array[Byte]): Option[VideoMeta] = {
    val end = b.length.toLong
    findBox(b, 0, end, "moov").flatMap { case (ms, me) =>
      findBox(b, ms, me, "mvhd").flatMap { case (ps, pe) =>
        val p = ps.toInt
        if (pe - ps < 4) None
        else {
          val version = b(p) & 0xff
          val (timescale, duration) =
            if (version == 1) {
              if (pe - ps < 32) return None
              (be32(b, p + 20), be64(b, p + 24))
            } else {
              if (pe - ps < 20) return None
              (be32(b, p + 12), be32(b, p + 16))
            }
          if (timescale <= 0 || duration < 0) None
          else {
            // scan ALL traks for the first with positive dimensions: the
            // VIDEO track. Muxers routinely list the audio trak (tkhd dims
            // 0x0) first — gating on the first trak would misclassify such
            // files as undecodable. ITERATIVE sibling walk (each probe
            // resumes at the previous trak's end, so the scan is linear):
            // a recursive formulation would stack-overflow on a crafted
            // moov holding thousands of empty trak boxes, and
            // StackOverflowError escapes the NonFatal catch.
            var trakStart = ms
            var dims: Option[(Int, Int)] = None
            var scanning = true
            while (scanning && dims.isEmpty) {
              findBox(b, trakStart, me, "trak") match {
                case None => scanning = false
                case Some((ts, te)) =>
                  dims = findBox(b, ts, te, "tkhd").flatMap { case (ks, ke) =>
                    val k = ks.toInt
                    val v = b(k) & 0xff
                    val (wOff, hOff) = if (v == 1) (88, 92) else (76, 80)
                    if (ke - ks < hOff + 4) None
                    else Some(((be32(b, k + wOff) >> 16).toInt,
                      (be32(b, k + hOff) >> 16).toInt))
                  }.filter { case (w, h) =>
                    // same sanity contract as parseAvi: oversize 16.16
                    // dims (≤ 65535 here, but the cap keeps the two
                    // parsers' gates identical) are corruption
                    w > 0 && h > 0 &&
                      w <= MaxSaneVideoDim && h <= MaxSaneVideoDim
                  }
                  trakStart = te
              }
            }
            dims.map { case (w, h) =>
              VideoMeta(w, h, duration.toDouble / timescale, "mp4")
            }
          }
        }
      }
    }
  }

  /** REAL AVI (RIFF) header parse: walks word-aligned RIFF chunks to
    * `LIST hdrl`, reads the `avih` MainAVIHeader (frame period µs, total
    * frames, dimensions — all little-endian). None on malformed input. */
  private def parseAvi(b: Array[Byte]): Option[VideoMeta] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      return None
    val riffEnd = math.min(b.length.toLong, 8L + le32(b, 4))
    var o = 12L
    while (o + 8 <= riffEnd) {
      val id = fourcc(b, o.toInt)
      val size = le32(b, o.toInt + 4)
      if (o + 8 + size > riffEnd) return None
      if (id == "LIST" && size >= 4 && fourcc(b, o.toInt + 8) == "hdrl") {
        var c = o + 12
        val listEnd = o + 8 + size
        while (c + 8 <= listEnd) {
          val cid = fourcc(b, c.toInt)
          val csize = le32(b, c.toInt + 4)
          if (c + 8 + csize > listEnd) return None
          if (cid == "avih" && csize >= 40) {
            val p = c.toInt + 8
            val usPerFrame = le32(b, p)
            val totalFrames = le32(b, p + 16)
            val w = le32(b, p + 32)
            val h = le32(b, p + 36)
            // unsigned-field sanity, mirroring parseMp4's timescale guard:
            // a zero frame period or absurd dimensions is corruption, not
            // metadata. Duration multiplies in DOUBLE — two unsigned-32
            // maxima overflow a Long (≈1.8e19 > 2⁶³).
            if (usPerFrame <= 0 || w <= 0 || h <= 0 ||
                w > MaxSaneVideoDim || h > MaxSaneVideoDim) return None
            return Some(VideoMeta(w.toInt, h.toInt,
              totalFrames.toDouble * usPerFrame / 1e6, "avi"))
          }
          c += 8 + csize + (csize & 1)
        }
        return None
      }
      o += 8 + size + (size & 1)
    }
    None
  }

  /** REAL video container header parse, pure JDK byte arithmetic (the JDK
    * ships no video codec, but duration/dimensions live in the container
    * HEADER — `moov`/`mvhd`/`tkhd` boxes for MP4, the `avih` header for
    * AVI — which is the same header-only metadata contract as
    * [[decodeImage]]/[[decodeAudio]]). None for corrupt or non-video
    * payloads: undecodable blobs are data, not exceptions. */
  def decodeVideo(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes == null || bytes.length < 12) return None
    try {
      if (fourcc(bytes, 0) == "RIFF") parseAvi(bytes)
      else parseMp4(bytes)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic video synthesis: one real container header per row —
    * even ids an MP4 (`ftyp`+`moov`/`mvhd`/`trak`/`tkhd`, timescale 16,
    * duration-in-ticks = id%500+1), odd ids an AVI (`RIFF`/`hdrl`/`avih`,
    * 62 500 µs per frame = 1/16 s, totalFrames = id%500+1). Both decode to
    * width = id%64+16, height = id%48+16, duration_s = (id%500+1)/16 —
    * the divisor a power of two, so the double is EXACT and any SQL engine
    * predicts it bit-for-bit (the [[synthesizeImages]] arithmetic-oracle
    * pattern applied to video). */
  def synthesizeVideos(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (id % 64 + 16).toInt
        val h = (id % 48 + 16).toInt
        val n = (id % 500 + 1).toInt
        val bytes = if (id % 2 == 0) buildMp4(w, h, n) else buildAvi(w, h, n)
        Row(id, bytes)
      }
    }(enc)
  }

  private def b32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def b32le(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    b32(payload.length + 8L) ++
      typ.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ payload

  // identity transform matrix shared by mvhd/tkhd (16.16 / 2.30 fixed)
  private val mp4Matrix: Array[Byte] =
    b32(0x00010000L) ++ b32(0) ++ b32(0) ++
      b32(0) ++ b32(0x00010000L) ++ b32(0) ++
      b32(0) ++ b32(0) ++ b32(0x40000000L)

  private def buildMp4(w: Int, h: Int, durationTicks: Int): Array[Byte] = {
    val ftyp = box("ftyp",
      "isom".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        b32(0) ++ "isom".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val mvhd = box("mvhd",
      b32(0) ++ // version 0 + flags
        b32(0) ++ b32(0) ++ // creation, modification
        b32(16) ++ // timescale: 16 ticks/s → exact binary durations
        b32(durationTicks.toLong) ++
        b32(0x00010000L) ++ // rate 1.0
        Array[Byte](0x01, 0x00, 0, 0) ++ // volume 1.0 + reserved16
        new Array[Byte](8) ++ // reserved
        mp4Matrix ++
        new Array[Byte](24) ++ // pre_defined
        b32(2)) // next_track_ID
    val tkhd = box("tkhd",
      b32(7) ++ // version 0, flags: enabled | in-movie | in-preview
        b32(0) ++ b32(0) ++ // creation, modification
        b32(1) ++ // track_ID
        b32(0) ++ // reserved
        b32(durationTicks.toLong) ++
        new Array[Byte](8) ++ // reserved
        new Array[Byte](8) ++ // layer, alternate_group, volume, reserved16
        mp4Matrix ++
        b32(w.toLong << 16) ++ b32(h.toLong << 16)) // 16.16 fixed
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
  }

  private def buildAvi(w: Int, h: Int, totalFrames: Int): Array[Byte] = {
    val avih = // 56-byte MainAVIHeader
      b32le(62500) ++ // µs per frame: 1/16 s → exact binary durations
        b32le(0) ++ b32le(0) ++ b32le(0) ++ // maxBytesPerSec, padding, flags
        b32le(totalFrames.toLong) ++
        b32le(0) ++ b32le(1) ++ b32le(0) ++ // initialFrames, streams, bufSize
        b32le(w.toLong) ++ b32le(h.toLong) ++
        new Array[Byte](16) // reserved
    val hdrl =
      "LIST".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        b32le(4L + 8 + avih.length) ++
        "hdrl".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        "avih".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
        b32le(avih.length.toLong) ++ avih
    "RIFF".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
      b32le(4L + hdrl.length) ++
      "AVI ".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ hdrl
  }

  /** Per-partition REAL video header decode, NULLs for undecodable rows —
    * the video sibling of [[decodeImageBatch]]/[[decodeAudioBatch]]. */
  def decodeVideoBatch(df: DataFrame, bytesCol: String = "bytes"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("duration_s", DoubleType), StructField("format", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val bytesIdx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeVideo(r.get(bytesIdx).asInstanceOf[Array[Byte]])
        Row.fromSeq(r.toSeq ++ (meta match {
          case Some(m) => Seq[Any](m.width, m.height, m.durationS, m.format)
          case None => Seq[Any](null, null, null, null)
        }))
      }
    }(enc)
  }

  // ---- MJPEG-in-AVI: REAL video frame pixel decode ------------------------
  // The JDK ships no inter-frame video codec, but Motion-JPEG stores every
  // frame as a standalone baseline JPEG inside the AVI `movi` list — so the
  // `00dc` chunk walk is pure byte arithmetic (like parseAvi) and the frame
  // decode is javax.imageio's own JPEG codec. This closes the one formerly
  // stubbed multimodal path with zero external dependencies.

  /** One decoded video frame: index in stream order, dimensions, mean gray
    * level (mean over pixels of (r+g+b)/3) — the cheap content statistic
    * the synthesize→decode oracle predicts. */
  case class FrameMeta(frameIdx: Int, width: Int, height: Int, meanGray: Double)

  private val Iso = java.nio.charset.StandardCharsets.ISO_8859_1
  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] =
    id.getBytes(Iso) ++ b32le(payload.length.toLong) ++ payload ++
      (if (payload.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
  private def riffList(typ: String, payload: Array[Byte]): Array[Byte] =
    "LIST".getBytes(Iso) ++ b32le(4L + payload.length) ++
      typ.getBytes(Iso) ++ payload

  /** Baseline-JPEG encode at a fixed high quality: the default 0.75 writer
    * quantizes the DC coefficient coarsely enough to shift a solid gray by
    * several levels; 0.95 keeps the synthesize→decode round trip within
    * ±3 levels, which is the oracle's tolerance. */
  private def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.95f)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally { ios.close(); writer.dispose() }
    out.toByteArray
  }

  /** A complete, tool-readable MJPEG AVI: `hdrl` (avih + a `strl` with a
    * vids/MJPG `strh` and BITMAPINFOHEADER `strf`) followed by a `movi`
    * list of `00dc` chunks, one real JPEG per entry of `grays` (a solid
    * frame at that gray level). 1/16 s per frame, matching [[buildAvi]]. */
  def buildMjpegAvi(w: Int, h: Int, grays: Seq[Int]): Array[Byte] = {
    val avih =
      b32le(62500) ++ // µs per frame: 1/16 s
        b32le(0) ++ b32le(0) ++ b32le(0) ++
        b32le(grays.length.toLong) ++
        b32le(0) ++ b32le(1) ++ b32le(0) ++
        b32le(w.toLong) ++ b32le(h.toLong) ++
        new Array[Byte](16)
    val strh =
      "vids".getBytes(Iso) ++ "MJPG".getBytes(Iso) ++
        b32le(0) ++ b32le(0) ++ // flags; priority+language
        b32le(0) ++ // initial frames
        b32le(1) ++ b32le(16) ++ // scale / rate → 16 fps
        b32le(0) ++ b32le(grays.length.toLong) ++ // start, length
        b32le(0) ++ b32le(0) ++ b32le(0) ++ // bufSize, quality, sampleSize
        Array[Byte](0, 0, 0, 0, // rcFrame left, top (int16 pairs)
          (w & 0xff).toByte, ((w >> 8) & 0xff).toByte,
          (h & 0xff).toByte, ((h >> 8) & 0xff).toByte)
    val strf = // BITMAPINFOHEADER
      b32le(40) ++ b32le(w.toLong) ++ b32le(h.toLong) ++
        Array[Byte](1, 0, 24, 0) ++ // planes=1, bitCount=24
        "MJPG".getBytes(Iso) ++
        b32le(w.toLong * h * 3) ++
        b32le(0) ++ b32le(0) ++ b32le(0) ++ b32le(0)
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val frames = grays.map { g =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(g, g, g))
      gfx.fillRect(0, 0, w, h)
      gfx.dispose()
      riffChunk("00dc", encodeJpeg(img))
    }
    val movi = riffList("movi", frames.foldLeft(Array.emptyByteArray)(_ ++ _))
    val body = hdrl ++ movi
    "RIFF".getBytes(Iso) ++ b32le(4L + body.length) ++
      "AVI ".getBytes(Iso) ++ body
  }

  /** Deterministic MJPEG-AVI synthesis (the [[synthesizeVideos]] pattern
    * with real pixel essence): width = id%64+16, height = id%48+16,
    * id%7+2 frames, frame i a solid gray at (id·7 + i·13) % 240 — every
    * field an integer formula a SQL oracle replays, while the bytes are a
    * genuinely decodable AVI. */
  def synthesizeMjpegAvis(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("media_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val w = (id % 64 + 16).toInt
        val h = (id % 48 + 16).toInt
        val grays = (0 until (id % 7 + 2).toInt)
          .map(i => ((id * 7 + i * 13) % 240).toInt)
        Row(id, buildMjpegAvi(w, h, grays))
      }
    }(enc)
  }

  private def decodeJpegFrame(b: Array[Byte], off: Int, len: Int,
      idx: Int): Option[FrameMeta] = {
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(b, off, len))
      if (img == null) None
      else {
        var sum = 0.0
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
            x += 1
          }
          y += 1
        }
        Some(FrameMeta(idx, img.getWidth, img.getHeight,
          sum / (img.getWidth.toLong * img.getHeight)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL frame decode from an MJPEG AVI: walks the RIFF tree to the
    * `movi` list and decodes every `everyN`-th video chunk (`##dc`/`##db`)
    * through the JDK JPEG codec — unsampled frames are never inflated, so
    * frame-sampling cost scales with frames KEPT, not frames present.
    * Empty for non-AVI / frameless / undecodable payloads: at corpus scale
    * bad blobs are data, not exceptions. */
  def decodeAviFrames(b: Array[Byte], everyN: Int = 1): Seq[FrameMeta] = {
    require(everyN >= 1, "everyN must be >= 1")
    if (b == null || b.length < 12 || fourcc(b, 0) != "RIFF"
      || fourcc(b, 8) != "AVI ") return Nil
    val out = scala.collection.mutable.ArrayBuffer[FrameMeta]()
    try {
      val riffEnd = math.min(b.length.toLong, 8L + le32(b, 4))
      var o = 12L
      while (o + 8 <= riffEnd) {
        val id = fourcc(b, o.toInt)
        val size = le32(b, o.toInt + 4)
        if (o + 8 + size > riffEnd) return out.toSeq
        if (id == "LIST" && size >= 4 && fourcc(b, o.toInt + 8) == "movi") {
          var c = o + 12
          val listEnd = o + 8 + size
          var idx = 0
          while (c + 8 <= listEnd) {
            val cid = fourcc(b, c.toInt)
            val csize = le32(b, c.toInt + 4)
            if (c + 8 + csize > listEnd) return out.toSeq
            val isFrame = cid.length == 4 && cid.take(2).forall(_.isDigit) &&
              (cid.endsWith("dc") || cid.endsWith("db"))
            if (isFrame) {
              if (idx % everyN == 0)
                decodeJpegFrame(b, c.toInt + 8, csize.toInt, idx).foreach(out += _)
              idx += 1
            }
            c += 8 + csize + (csize & 1)
          }
          return out.toSeq
        }
        o += 8 + size + (size & 1)
      }
    } catch { case scala.util.control.NonFatal(_) => }
    out.toSeq
  }

  /** Per-partition MJPEG frame decode: one output row per SAMPLED frame
    * (input columns + frame_idx, frame_w, frame_h, mean_gray), zero rows
    * for payloads with no decodable frames — the real-codec upgrade of the
    * old fixed-width [[sampleFrames]] slicing. */
  def decodeAviFramesBatch(df: DataFrame, bytesCol: String = "bytes",
      everyN: Int = 1): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType), StructField("frame_w", IntegerType),
      StructField("frame_h", IntegerType), StructField("mean_gray", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val bytesIdx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeAviFrames(r.get(bytesIdx).asInstanceOf[Array[Byte]], everyN)
          .map(m => Row.fromSeq(r.toSeq ++
            Seq[Any](m.frameIdx, m.width, m.height, m.meanGray)))
      }
    }(enc)
  }

  /** Per-image perceptual hashes: (id, ahash) via `hashFn`
    * ([[imageAHash64]] by default; pass [[imageDHash64]] for the
    * gradient-based fingerprint — the output column name stays `ahash`
    * because it is the banding CONTRACT of
    * [[imageNearDupPairsFromHashes]], not a claim about the family), one
    * full-pixel decode per row in a mapPartitions pass; undecodable rows
    * drop out. The map side of [[imageNearDupPairs]], exposed for callers
    * that persist hashes (hash once, band many times). */
  def imageAHashes(df: DataFrame, idCol: String, bytesCol: String,
      hashFn: Array[Byte] => Option[Long] = imageAHash64): DataFrame = {
    val bytesIdx = df.schema.fieldIndex(bytesCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        hashFn(r.get(bytesIdx).asInstanceOf[Array[Byte]])
          .map(h => Row(r.get(idIdx).asInstanceOf[Number].longValue(), h))
      }
    }(enc)
  }

  /** Image near-duplicate pairs via Hamming-LSH over [[imageAHash64]]:
    * band each 64-bit perceptual hash into four 16-bit keys — two hashes
    * within Hamming distance 3 agree on at least one band (pigeonhole), so
    * banding is RECALL-LOSSLESS for maxHamming ≤ 3 and high-recall above —
    * equi-join per band, then verify candidates with an exact popcount.
    * The n² work never materializes: candidates are band-bucket-bounded,
    * the same shape as the text MinHash/LSH pipeline. Undecodable images
    * drop out (no hash). Returns (id_a, id_b, hamming) with id_a < id_b. */
  def imageNearDupPairs(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame = {
    // hash once, band many times: without the persist the banded
    // self-join would run the full pixel decode + aHash of every image
    // once per join side. The cached frame is (id, ahash) — 16 bytes per
    // image, not the blobs. This method returns a LAZY frame, so there is
    // no in-band point to unpersist at; instead a one-shot listener
    // releases the cache when the first action touching it completes, so
    // repeated callers in a long-lived session do not accumulate cache
    // entries. Multi-action pipelines should use the pre-hashed overload
    // below and manage persistence themselves — the keepers path does.
    val hashed = imageAHashes(df, idCol, bytesCol).persist()
    unpersistAfterFirstUse(hashed)
    imageNearDupPairsFromHashes(hashed, maxHamming, maxBucketSize)
  }

  /** Live registration state per CANONICALIZED plan — Spark's CacheManager
    * keys cache entries by canonicalized-plan equality, so two invocations
    * of the same operator (a bench warmup pass and its measured pass, or
    * q_dedup_contain beside q_dedup_contain_drop) SHARE one cache entry;
    * unpersisting when "my" action completes would yank the entry out from
    * under the sibling mid-query (round 17: q_dedup_contain_drop measured
    * bimodal 2.6 s / 9.3 s because the previous pass's ASYNC listener-bus
    * unpersist landed inside the next pass's execution, forcing every
    * branch to recompute the shingle pipeline). One ENTRY (count + one
    * shared listener) per plan: each registration increments the count,
    * each completed action whose plan contains the target decrements it
    * ONCE — per EVENT, not per registration, because every registration's
    * listener would match every equivalent action and a single early event
    * could otherwise consume all live registrations at once and still
    * release mid-run. The entry unpersists and unregisters at zero, i.e.
    * after the LAST registered first use has completed. */
  private final class CacheRef(
      val count: java.util.concurrent.atomic.AtomicInteger,
      @volatile var listener: org.apache.spark.sql.util.QueryExecutionListener)
  private val cacheRefs = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, CacheRef]()

  /** Release a persisted frame once every registered first-use action on a
    * cache-equivalent plan has completed (see [[cacheRefs]]). Unrelated
    * queries never match; an invocation running a SECOND action on the
    * same frame recomputes (correctness unaffected) — callers needing the
    * cache across actions manage persistence explicitly. */
  private[graft] def unpersistAfterFirstUse(frame: DataFrame): Unit = {
    val spark = frame.sparkSession
    val target = frame.queryExecution.analyzed
    val key = target.canonicalized
    cacheRefs.compute(key, (k, existing) => {
      if (existing != null) { existing.count.incrementAndGet(); existing }
      else {
        val ref = new CacheRef(
          new java.util.concurrent.atomic.AtomicInteger(1), null)
        val listener = new org.apache.spark.sql.util.QueryExecutionListener {
          private def maybeRelease(
              qe: org.apache.spark.sql.execution.QueryExecution): Unit =
            try {
              if (qe.analyzed.exists(_.sameResult(target)) &&
                  ref.count.decrementAndGet() <= 0) {
                cacheRefs.remove(key, ref)
                spark.listenerManager.unregister(this)
                frame.unpersist()
              }
            } catch { case scala.util.control.NonFatal(_) => () }
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = maybeRelease(qe)
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = maybeRelease(qe)
        }
        ref.listener = listener
        spark.listenerManager.register(listener)
        ref
      }
    })
  }

  /** [[imageNearDupPairs]] over a pre-hashed (id, ahash) frame — for
    * pipelines that persist hashes once and band repeatedly.
    *
    * `maxBucketSize` is the image-side mega-bucket guardrail, ON by
    * default like the text pipeline's ([[graft.dedup.Dedup.DefaultMaxBucketSize]]):
    * a crawl full of byte-identical or blank/placeholder images puts its
    * whole population into ONE band bucket (images have no upstream
    * exact-dup collapse), and the band self-join would materialize n²
    * candidate rows. Oversize band buckets are dropped WHOLE (under-merge,
    * never a truncated merge; a pair can still surface through its other
    * three bands), and LOUDLY, through the same machinery as text dedup:
    * the drop count is observed in-pass on the bucket-count aggregate
    * (`graft_oversize_*` metric, or the caller's `oversizeObs`) and the
    * session listener WARNs whenever it is non-zero — same AQE caveat and
    * [[graft.dedup.Dedup.withReliableOversizeAudit]] remedy as the text
    * side. Pass `Int.MaxValue` to uncap. */
  def imageNearDupPairsFromHashes(hashed: DataFrame, maxHamming: Int,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize,
      oversizeObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    // unlike the text banding (whose audited aggregate IS the output and
    // can carry an Observation even uncapped), the bucket-count aggregate
    // here only exists when capping — an Observation supplied to an
    // uncapped run would never attach and the caller's obs.get would block
    // forever. Fail fast instead.
    require(maxBucketSize != Int.MaxValue || oversizeObs.isEmpty,
      "oversizeObs supplied with maxBucketSize = Int.MaxValue: an uncapped " +
        "image-banding run attaches no audit aggregate, so the Observation " +
        "would never complete — cap the run or drop the Observation")
    val banded = bandedHashKeys(hashed)
    // mega-bucket guard: admit only band buckets within the cap (the
    // count is one map-side-combinable aggregate over (band, key) rows —
    // cheap insurance against the n² self-join a spam bucket produces);
    // the in-pass audit observes the SAME aggregate, so the cap is loud.
    // shuffle_hash hint: a CollectMetrics node on the BUILD side of a
    // broadcast join silently reports zeros (the broadcast materializes
    // outside the normal execute path), so the admit join must not
    // broadcast the observed side — at corpus scale the counts frame is
    // Ω(distinct hashes) and would never broadcast anyway.
    val admitted =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.join(
        graft.dedup.Dedup.observeOversize(
            banded.groupBy("band", "key").agg(count(lit(1)).as("__n")),
            col("__n"), maxBucketSize, oversizeObs)
          .filter(col("__n") <= maxBucketSize)
          .select(col("band"), col("key"))
          .hint("shuffle_hash"),
        Seq("band", "key"))
    val a = admitted.select(col("band"), col("key"),
      col("id").as("id_a"), col("ahash").as("ha"))
    val b = admitted.select(col("band"), col("key"),
      col("id").as("id_b"), col("ahash").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The four 16-bit Hamming-LSH band keys of each 64-bit perceptual hash:
    * (id, ahash, band, key) — shared by the pair join and the oversize
    * audit so both band the identical population. */
  private def bandedHashKeys(hashed: DataFrame): DataFrame =
    hashed.select(col("id"), col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("ahash"), col("bk.band").as("band"),
        col("bk.key").as("key"))

  /** The band buckets a `maxBucketSize`-capped image near-dup run drops:
    * same banding as [[imageNearDupPairsFromHashes]], size above the cap —
    * the image sibling of [[graft.dedup.Dedup.oversizeBuckets]],
    * dimension-sized (one row per oversize bucket). Callers reporting on
    * a capped run (e.g. a pruned-audit fallback) recount from the SAME
    * hash frame the pipeline banded. */
  def oversizeImageBuckets(hashed: DataFrame, maxBucketSize: Int): DataFrame =
    bandedHashKeys(hashed)
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucketSize)

  /** Transitive image near-dup keepers: the text pipeline's keeper
    * semantics applied to images — duplicate CHAINS collapse to the
    * smallest reachable id via star-contraction connected components over
    * the [[imageNearDupPairs]] edge set (A≈B and B≈C puts C with A even
    * when A and C never share a band). Undecodable images have no hash,
    * produce no pairs, and keep themselves. Returns (idCol, keeper_id).
    * The hash frame is persisted for the CC closure's internal actions
    * and released before returning (CC materializes its input eagerly, so
    * the pair plan never re-executes). */
  def imageNearDupKeepers(df: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int, maxIter: Int = 10,
      maxBucketSize: Int = graft.dedup.Dedup.DefaultMaxBucketSize): DataFrame = {
    val hashed = imageAHashes(df, idCol, bytesCol).persist()
    try graft.dedup.Dedup.keepersFromPairs(df, idCol,
      imageNearDupPairsFromHashes(hashed, maxHamming, maxBucketSize), maxIter)
    finally hashed.unpersist()
  }

  /** Deterministic integer lattice underlying the fake features: per
    * dimension, three md5-hex character codes of `md5(bytes || '#' || i)`
    * folded into [0, 1000). Built only from md5/ascii/substr so an external
    * SQL engine (the DuckDB oracle) recomputes it bit-for-bit — unlike
    * xxhash64, whose seeding is Spark-internal. */
  def featureLattice(bytes: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val h = md5(concat(bytes.cast("string"), lit("#"), i.cast("string")))
      pmod(
        ascii(h.substr(lit(1), lit(1))) * lit(17) +
          ascii(h.substr(lit(2), lit(1))) * lit(7) +
          ascii(h.substr(lit(3), lit(1))),
        lit(1000))
    })

  /** Fake feature extraction: fixed-dim float vector from chunk hashes —
    * the output shape/type of an embedding model over decoded media. Values
    * are `featureLattice / 1000` so the float vector is certified by the
    * lattice's exact integer oracle. */
  def featureStub(bytes: Column, dim: Int): Column =
    // outer cast back to float: Spark's Divide promotes to double
    transform(featureLattice(bytes, dim), v => (v / lit(1000.0)).cast("float"))
}
