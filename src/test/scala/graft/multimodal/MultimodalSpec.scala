package graft.multimodal

import org.apache.spark.sql.functions._

import graft.{Alone, SparkSpec}

/** Multimodal plumbing: schema/kind mapping, stub decode agreement between
  * the expression path and the mapPartitions batch path, frame sampling
  * boundary cases, feature vector shape. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "x" * 100), (1L, "y" * 64), (2L, "z" * 65), (3L, "")
  ).toDF("doc_id", "text")

  private lazy val media = Multimodal.syntheticMedia(docs, "doc_id", "text")

  test("kind cycles image/audio/video by id") {
    val kinds = media.orderBy("media_id").select("kind").collect().map(_.getString(0))
    assert(kinds === Array("image", "audio", "video", "image"))
  }

  test("decodeStub and decodeBatch (mapPartitions) produce identical metadata") {
    val viaExpr = media.select(col("media_id"),
        Multimodal.decodeStub(col("bytes")).as("m"))
      .select(col("media_id"), col("m.width"), col("m.height"), col("m.duration_s"))
      .collect().map(_.toSeq).toSet
    val viaBatch = Multimodal.decodeBatch(media)
      .select("media_id", "width", "height", "duration_s")
      .collect().map(_.toSeq).toSet
    assert(viaExpr === viaBatch)
  }

  test("sampleFrames: exact chunking incl. partial tail and empty payload") {
    // 100 bytes @32-byte frames → 4 frames (3 full + 4-byte tail); everyN=2 → idx 0,2
    val frames = Multimodal.sampleFrames(
        media.filter(col("media_id") === 0), "bytes", frameBytes = 32, everyN = 2)
      .select(col("frame_idx"), length(col("frame")).as("len"))
      .orderBy("frame_idx").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(frames === Array((0, 32), (2, 32)))
    // empty payload → no frames (sequence(0, max(nFrames-1,0)) guards via substr)
    val empty = Multimodal.sampleFrames(
      media.filter(col("media_id") === 3), "bytes", 32, 1)
    assert(empty.filter(length(col("frame")) > 0).count() === 0)
  }

  test("featureStub emits fixed-dim deterministic float vectors") {
    val f = media.select(Multimodal.featureStub(col("bytes"), 16).as("f"))
      .collect().map(_.getSeq[Float](0))
    assert(f.forall(_.length == 16))
    assert(f.forall(_.forall(v => v >= -1.0f && v <= 1.0f)))
    val again = media.select(Multimodal.featureStub(col("bytes"), 16).as("f"))
      .collect().map(_.getSeq[Float](0))
    assert(f.toSeq === again.toSeq)
  }

  // ---- REAL image decode (JDK codecs, no external libs) --------------------

  private def imageBytes(w: Int, h: Int, fmt: String,
      mark: Option[(Int, Int)] = None): Array[Byte] =
    graft.TestImages.gradient(w, h, fmt, mark)

  test("decodeImage reads real PNG/JPEG/BMP headers; corrupt bytes decode to None") {
    for (fmt <- Seq("png", "jpg", "bmp")) {
      val meta = Multimodal.decodeImage(imageBytes(37, 21, fmt))
      assert(meta.isDefined, fmt)
      assert(meta.get.width === 37 && meta.get.height === 21, fmt)
    }
    assert(Multimodal.decodeImage(imageBytes(5, 9, "png")).get.format === "png")
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // truncated PNG: header survives long enough to read dimensions or
    // fails cleanly — either way no exception escapes
    val trunc = imageBytes(16, 16, "png").take(12)
    Multimodal.decodeImage(trunc) // must not throw
  }

  test("decodeImageBatch decodes a real image column distributed, NULLs for junk") {
    val rows = Seq(
      (1L, imageBytes(64, 48, "png")),
      (2L, imageBytes(10, 10, "bmp")),
      (3L, "garbage".getBytes)
    ).toDF("media_id", "bytes")
    val out = Multimodal.decodeImageBatch(rows).orderBy("media_id")
      .select("media_id", "width", "height", "format").collect()
    assert(out(0).getInt(1) === 64 && out(0).getInt(2) === 48 && out(0).getString(3) === "png")
    assert(out(1).getInt(1) === 10 && out(1).getString(3) === "bmp")
    assert(out(2).isNullAt(1) && out(2).isNullAt(3))
  }

  test("imageAHash64: stable across re-encode, near under small edits, far for junk") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val png = Multimodal.imageAHash64(imageBytes(64, 64, "png")).get
    val bmp = Multimodal.imageAHash64(imageBytes(64, 64, "bmp")).get
    // identical pixels → identical hash regardless of container format
    assert(png === bmp)
    // small local edit (dark square over the BRIGHT corner of the
    // gradient, so cells actually flip below the mean) → few bits move
    val marked = Multimodal.imageAHash64(imageBytes(64, 64, "png", mark = Some((48, 48)))).get
    assert(hamming(png, marked) > 0 && hamming(png, marked) <= 16,
      s"hamming ${hamming(png, marked)}")
    // the same edit is closer to the original than to its own inverse-ish
    // gradient; undecodable bytes hash to None
    assert(Multimodal.imageAHash64("junk".getBytes).isEmpty)
  }

  test("decodeAudio reads real WAV headers; synthesizeWavs dims follow the id arithmetic") {
    val wavs = Multimodal.synthesizeWavs(
      Seq(0L, 1L, 7L, 13L, 107L).toDF("doc_id"), "doc_id")
    val out = Multimodal.decodeAudioBatch(wavs).orderBy("media_id")
      .select("media_id", "sample_rate_hz", "channels", "frames").collect()
    for (r <- out) {
      val id = r.getLong(0)
      assert(r.getInt(1) === 8000 + (id % 8) * 1000, s"rate id=$id")
      assert(r.getInt(2) === 1 + (id % 2).toInt, s"channels id=$id")
      assert(r.getLong(3) === id % 100 + 1, s"frames id=$id")
    }
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
    // an image is not audio and vice versa — the two decoders don't cross
    assert(Multimodal.decodeAudio(imageBytes(8, 8, "png")).isEmpty)
    val wav = wavs.filter(col("media_id") === 7L).select("bytes").head().getAs[Array[Byte]](0)
    assert(Multimodal.decodeImage(wav).isEmpty)
  }

  test("audioAHash64: volume-robust energy envelope; near-dup pairs via Hamming-LSH") {
    // one real WAV per variant: base signal, half-volume copy (envelope
    // SHAPE unchanged → identical hash), one loud burst moved (small
    // hamming), and a different rhythm (far)
    def wav(samples: Array[Int]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val pcm = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // 640 samples = 10 per window; loud (8000) in windows 10-19 and 40-49
    val base = Array.tabulate(640)(i =>
      if ((i / 100) % 3 == 1) 8000 else 100)
    val half = base.map(_ / 2)
    // only the FIRST burst moves one window (2 flipped bits in bands 0-1;
    // bands 2-3 stay intact so Hamming-LSH banding must recover the pair)
    val shifted = Array.tabulate(640)(i =>
      if ((i >= 90 && i < 190) || (i >= 400 && i < 500)) 8000 else 100)
    val other = Array.tabulate(640)(i => if (i % 2 == 0) 8000 else -8000)
    val hb = Multimodal.audioAHash64(wav(base)).get
    assert(Multimodal.audioAHash64(wav(half)).get === hb,
      "volume scaling must not change the envelope hash")
    val hs = Multimodal.audioAHash64(wav(shifted)).get
    assert(java.lang.Long.bitCount(hb ^ Multimodal.audioAHash64(wav(other)).get)
      > 8, "the different rhythm must hash far")
    assert(java.lang.Long.bitCount(hb ^ hs) <= 8,
      s"small time shift must stay near: ${java.lang.Long.bitCount(hb ^ hs)}")
    assert(Multimodal.audioAHash64("junk".getBytes).isEmpty)
    assert(Multimodal.audioAHash64(wav(Array.fill(10)(5))).isEmpty,
      "fewer than 64 samples must not fingerprint")
    // constant signal: no window exceeds the mean → hash 0 — still Some
    assert(Multimodal.audioAHash64(wav(Array.fill(128)(1000))).get === 0L)

    import spark.implicits._
    val blobs = Seq(
      (1L, wav(base)), (2L, wav(half)), (3L, wav(shifted)),
      (4L, wav(other)), (5L, "junk".getBytes)
    ).toDF("media_id", "bytes")
    val pairs = Multimodal.audioNearDupPairs(blobs, "media_id", "bytes",
        maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "volume copy must pair with the base")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"shifted burst must pair within hamming 8: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"the different rhythm must not pair: $pairs")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L), "junk drops out")
  }

  test("aHash of sub-8px images uses the pixel mean, not 64-slot zero-padding") {
    // a 4x4 image populates only 16 of the 64 cells; counting the empty
    // slots as zero luminance would deflate the mean until different small
    // images collapse onto one degenerate hash (false duplicate merges)
    def tiny(invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) {
        val v0 = (x + y) * 255 / 6
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val a = Multimodal.imageAHash64(tiny(invert = false)).get
    val b = Multimodal.imageAHash64(tiny(invert = true)).get
    assert(a !== b, "different 4x4 images must not share a hash")
  }

  test("imageNearDupPairs: Hamming-LSH finds re-encodes and near-edits, skips junk") {
    val rows = Seq(
      (1L, imageBytes(64, 64, "png")),
      (2L, imageBytes(64, 64, "bmp")),                       // re-encode of 1 → hamming 0
      (3L, imageBytes(64, 64, "png", mark = Some((48, 48)))), // near-edit of 1
      (4L, imageBytes(64, 64, "png", mark = Some((0, 16)))),  // different-ish edit
      (5L, "not an image".getBytes)                           // undecodable → no hash
    ).toDF("media_id", "bytes")
    val pairs = Multimodal.imageNearDupPairs(rows, "media_id", "bytes", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0, "identical pixels re-encoded must collide exactly")
    assert(pairs.contains((1L, 3L)), "near-edit must surface as a candidate pair")
    assert(pairs.keys.forall { case (a, b) => a != 5L && b != 5L },
      "undecodable payloads must not pair")
    // recall-lossless banding: hamming ≤ 3 pairs MUST appear even at a
    // tight verify threshold (pigeonhole over 4 bands)
    val tight = Multimodal.imageNearDupPairs(rows, "media_id", "bytes", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.contains((1L, 2L)))
  }

  /** Gamma-shift fixture: a horizontal gradient and the same pixels put
    * through a monotone tone curve (v → 255·(v/255)^γ). Every pixel in a
    * gradient cell is ≤ every pixel of its right neighbor, so any
    * monotone curve preserves the neighbor-average ordering dHash bits
    * encode — while the curve moves the GLOBAL mean that aHash compares
    * against, flipping the bits of cells near it. */
  private def gammaPair(w: Int, h: Int, gamma: Double): (Array[Byte], Array[Byte]) = {
    def enc(f: Int => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x * 255 / math.max(w - 1, 1))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    (enc(identity),
      enc(v => math.round(255.0 * math.pow(v / 255.0, gamma)).toInt))
  }

  test("dHash survives a gamma shift that flips aHash bits") {
    val (plain, shifted) = gammaPair(64, 64, 2.2)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val aDist = ham(Multimodal.imageAHash64(plain).get,
      Multimodal.imageAHash64(shifted).get)
    val dDist = ham(Multimodal.imageDHash64(plain).get,
      Multimodal.imageDHash64(shifted).get)
    // aHash misclassifies the pair at the spec's maxHamming=3 working
    // point; dHash sees the identical gradient structure
    assert(aDist > 3, s"fixture must actually stress aHash (got $aDist)")
    assert(dDist === 0, s"monotone tone curve must not move dHash (got $dDist)")
  }

  test("dHash drops into the Hamming-LSH pair machinery unchanged") {
    val (plain, shifted) = gammaPair(64, 64, 2.2)
    val rows = Seq(
      (1L, plain), (2L, shifted),
      (3L, imageBytes(64, 64, "png", mark = Some((0, 16)))),
      (4L, "not an image".getBytes)
    ).toDF("media_id", "bytes")
    val dPairs = Multimodal.imageNearDupPairsFromHashes(
        Multimodal.imageAHashes(rows, "media_id", "bytes",
          Multimodal.imageDHash64),
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dPairs.contains((1L, 2L)),
      "gamma-shifted duplicate must surface through dHash banding")
    val aPairs = Multimodal.imageNearDupPairs(rows, "media_id", "bytes",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!aPairs.contains((1L, 2L)),
      "the same pair must be the one aHash misses at this threshold")
  }

  test("imageNearDupPairs releases its internal hash cache after the first action", Alone) {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = Seq(
      (1L, imageBytes(32, 32, "png")),
      (2L, imageBytes(32, 32, "bmp"))
    ).toDF("media_id", "bytes")
    Multimodal.imageNearDupPairs(rows, "media_id", "bytes", maxHamming = 3)
      .count()
    // listener delivery is asynchronous: poll for the one-shot unpersist
    val deadline = System.currentTimeMillis() + 10000
    while (sc.getPersistentRDDs.keySet.diff(before).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assertIsolated(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the (id, ahash) cache must be released once the first pairs action completes")
  }

  test("image mega-bucket cap drops oversize band buckets whole") {
    // 6 byte-identical images = one 6-member bucket in EVERY band (images
    // have no exact-dup collapse upstream): a cap of 5 must drop them all
    // (under-merge, no pairs), uncapping restores the full C(6,2) set
    val rows = (1L to 6L).map(i => (i, imageBytes(32, 32, "png")))
      .toDF("media_id", "bytes")
    val capped = Multimodal.imageNearDupPairs(rows, "media_id", "bytes",
      maxHamming = 3, maxBucketSize = 5).collect()
    assert(capped.isEmpty)
    val uncapped = Multimodal.imageNearDupPairs(rows, "media_id", "bytes",
      maxHamming = 3, maxBucketSize = Int.MaxValue).collect()
    assert(uncapped.length === 15)
  }

  test("imageNearDupKeepers: chains of re-encodes and edits collapse to one keeper") {
    val rows = Seq(
      (1L, imageBytes(64, 64, "png")),
      (2L, imageBytes(64, 64, "bmp")),                        // re-encode of 1
      (3L, imageBytes(64, 64, "png", mark = Some((48, 48)))), // edit of 1
      (4L, imageBytes(64, 64, "bmp", mark = Some((48, 48)))), // re-encode of 3
      (5L, "not an image".getBytes),                          // undecodable
      (6L, imageBytes(64, 64, "png", mark = Some((0, 0))))    // distinct edit
    ).toDF("media_id", "bytes")
    val keepers = Multimodal.imageNearDupKeepers(rows, "media_id", "bytes",
        maxHamming = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // 1≈2 and 1≈3 (near-edit) and 3≈4: the whole chain lands under 1 even
    // for members that never banded with 1 directly
    assert(keepers(1L) === 1L && keepers(2L) === 1L)
    assert(keepers(3L) === 1L && keepers(4L) === 1L)
    assert(keepers(5L) === 5L, "undecodable images keep themselves")
  }

  // ---- real video container-header decode ---------------------------------

  test("synthesizeVideos → decodeVideo round trip follows the id arithmetic (MP4 and AVI)") {
    val ids = Seq(0L, 1L, 2L, 17L, 500L, 501L, 1234L).toDF("doc_id")
    val decoded = Multimodal.decodeVideoBatch(
        Multimodal.synthesizeVideos(ids, "doc_id"))
      .select("media_id", "width", "height", "duration_s", "format")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4)))).toMap
    for (id <- Seq(0L, 1L, 2L, 17L, 500L, 501L, 1234L)) {
      val (w, h, d, f) = decoded(id)
      assert(w === (id % 64 + 16).toInt)
      assert(h === (id % 48 + 16).toInt)
      assert(d === (id % 500 + 1) / 16.0, "1/16-s tick durations are exact doubles")
      assert(f === (if (id % 2 == 0) "mp4" else "avi"))
    }
  }

  test("decodeVideo rejects corrupt and truncated containers, never throws or loops") {
    def vid(id: Long): Array[Byte] =
      Multimodal.synthesizeVideos(Seq(id).toDF("doc_id"), "doc_id")
        .collect()(0).getAs[Array[Byte]]("bytes")
    val mp4 = vid(0L)
    val avi = vid(1L)
    assert(Multimodal.decodeVideo(null).isEmpty)
    assert(Multimodal.decodeVideo(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeVideo("short".getBytes).isEmpty)
    assert(Multimodal.decodeVideo(Array.fill[Byte](64)(0x41)).isEmpty)
    // truncation anywhere inside the header walk must yield None, not an
    // out-of-bounds read (every prefix length, both containers)
    for (cut <- 1 until mp4.length)
      assert(Multimodal.decodeVideo(mp4.take(cut)).isEmpty, s"mp4 prefix $cut")
    for (cut <- 1 until avi.length)
      assert(Multimodal.decodeVideo(avi.take(cut)).isEmpty, s"avi prefix $cut")
    // a box size pointing past the payload terminates the walk
    val badSize = mp4.clone()
    badSize(0) = 0x7f.toByte // first box claims ~2 GB
    assert(Multimodal.decodeVideo(badSize).isEmpty)
    // corrupted RIFF LIST size likewise
    val badAvi = avi.clone()
    badAvi(16) = 0xff.toByte
    assert(Multimodal.decodeVideo(badAvi).isEmpty)
    // batch path: junk rows surface as NULL columns, not failures
    val mixed = Seq((1L, mp4), (2L, "junk junk junk".getBytes))
      .toDF("media_id", "bytes")
    val out = Multimodal.decodeVideoBatch(mixed)
      .select("media_id", "format").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L) === Some("mp4"))
    assert(out(2L) === None)
  }

  test("decodeVideo finds the video trak behind a dims-less audio trak") {
    def b32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, p: Array[Byte]): Array[Byte] =
      b32(p.length + 8L) ++ t.getBytes("ISO-8859-1") ++ p
    // v0 mvhd: timescale 16, duration 32 ticks → 2.0 s
    val mvhd = box("mvhd", b32(0) ++ b32(0) ++ b32(0) ++ b32(16) ++ b32(32))
    def tkhd(w: Long, h: Long) = // v0: width/height at payload offsets 76/80
      box("tkhd", b32(7) ++ new Array[Byte](72) ++ b32(w << 16) ++ b32(h << 16))
    // muxers routinely list the 0x0-dims audio trak first — the parser
    // must keep scanning for the video trak instead of rejecting the file
    val moov = box("moov",
      mvhd ++ box("trak", tkhd(0, 0)) ++ box("trak", tkhd(320, 240)))
    assert(Multimodal.decodeVideo(moov) ===
      Some(Multimodal.VideoMeta(320, 240, 2.0, "mp4")))
    // a file with ONLY dims-less traks has no video track → None
    val audioOnly = box("moov", mvhd ++ box("trak", tkhd(0, 0)))
    assert(Multimodal.decodeVideo(audioOnly).isEmpty)
  }

  test("decodeVideo parses version-1 (64-bit time) mvhd/tkhd boxes") {
    def b32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, p: Array[Byte]): Array[Byte] =
      b32(p.length + 8L) ++ t.getBytes("ISO-8859-1") ++ p
    // v1 mvhd: verflags, 8-byte creation/modification, timescale, 8-byte
    // duration (parser reads timescale@20, duration@24)
    val mvhd = box("mvhd", b32(0x01000000L) ++ new Array[Byte](16) ++
      b32(16) ++ b32(0) ++ b32(48)) // timescale 16, duration 48 → 3.0 s
    // v1 tkhd: width/height at payload offsets 88/92
    val tkhd = box("tkhd", b32(0x01000007L) ++ new Array[Byte](84) ++
      b32(320L << 16) ++ b32(240L << 16))
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    val meta = Multimodal.decodeVideo(moov)
    assert(meta === Some(Multimodal.VideoMeta(320, 240, 3.0, "mp4")))
  }

  test("MJPEG AVI: build → decodeAviFrames round-trips every frame through the real JPEG codec") {
    val grays = Seq(10, 100, 200, 40, 235)
    val avi = Multimodal.buildMjpegAvi(33, 21, grays) // odd dims: JPEG pads blocks
    // the same container still answers the header-metadata contract
    assert(Multimodal.decodeVideo(avi) ===
      Some(Multimodal.VideoMeta(33, 21, 5 * 0.0625, "avi")))
    val frames = Multimodal.decodeAviFrames(avi)
    assert(frames.map(_.frameIdx) === Seq(0, 1, 2, 3, 4))
    assert(frames.forall(f => f.width == 33 && f.height == 21))
    frames.zip(grays).foreach { case (f, g) =>
      assert(math.abs(f.meanGray - g) <= 3.0,
        s"frame ${f.frameIdx}: decoded mean ${f.meanGray} vs synthesized $g")
    }
    // everyN sampling decodes only frames 0, 2, 4 — indices are STREAM
    // positions, not positions among the sampled
    assert(Multimodal.decodeAviFrames(avi, everyN = 2).map(_.frameIdx)
      === Seq(0, 2, 4))
  }

  test("decodeAviFrames: non-AVI, frameless, and corrupt-chunk payloads yield no frames, no throw") {
    assert(Multimodal.decodeAviFrames(null) === Nil)
    assert(Multimodal.decodeAviFrames(Array[Byte](1, 2, 3)) === Nil)
    assert(Multimodal.decodeAviFrames("not a riff at all!!".getBytes) === Nil)
    // a movi-less AVI (header-only) has no frames
    val headerOnly = "RIFF".getBytes("ISO-8859-1") ++
      Array[Byte](4, 0, 0, 0) ++ "AVI ".getBytes("ISO-8859-1")
    assert(Multimodal.decodeAviFrames(headerOnly) === Nil)
    // corrupt essence: a movi chunk claiming JPEG but holding junk decodes
    // to zero frames rather than throwing
    val good = Multimodal.buildMjpegAvi(24, 16, Seq(50))
    val bad = good.clone()
    // zero out a stretch in the middle of the (single) JPEG payload
    java.util.Arrays.fill(bad, bad.length / 2, bad.length - 4, 0xAB.toByte)
    val out = Multimodal.decodeAviFrames(bad)
    assert(out.isEmpty || out.forall(_.width == 24)) // no throw is the contract
  }

  test("unpersistAfterFirstUse: a live sibling registration keeps the shared cache entry") {
    // CacheManager keys entries by canonicalized plan, so two invocations
    // of one operator share ONE entry; the release must decrement once per
    // completed matching ACTION and unpersist only at zero — an early
    // event must not consume every live registration at once (round 17:
    // the previous bench pass's async release landed inside the next
    // pass's execution and made q_dedup_contain_drop bimodal 2.6/9.3 s).
    val salt = System.nanoTime() // plan unique to this test run
    def build() = {
      val f = spark.range(0, 1000).toDF("id")
        .select(col("id"), (col("id") * lit(salt)).as("v"))
        .persist()
      Multimodal.unpersistAfterFirstUse(f)
      f
    }
    // the listener bus is async: to observe state AFTER an action's
    // release processed, enqueue a marker action and wait for a probe
    // listener to see it — the shared ExecutionListenerBus is FIFO, so
    // the earlier event (and its decrement) has fully processed by then
    def drainBus(): Unit = {
      val seen = new java.util.concurrent.CountDownLatch(1)
      val probe = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = seen.countDown()
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = seen.countDown()
      }
      spark.listenerManager.register(probe)
      try {
        spark.range(1).count()
        assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "listener bus did not drain")
      } finally spark.listenerManager.unregister(probe)
    }
    def cachedNow(): Boolean =
      spark.range(0, 1000).toDF("id")
        .select(col("id"), (col("id") * lit(salt)).as("v"))
        .queryExecution.withCachedData.toString.contains("InMemoryRelation")
    val a = build()
    val b = build() // same canonicalized plan -> same cache entry, count 2
    assert(a.count() === 1000)
    drainBus()
    assert(cachedNow(),
      "first action released the entry while a sibling registration was live")
    assert(b.count() === 1000)
    drainBus()
    assert(!cachedNow(),
      "entry not released after the last registered first use completed")
  }
}
