package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Reference-scale throughput smoke: the headline raincell workload — a
  * 4-day flo2d_150_v2 run is 384 timesteps × 39,526 grid cells ≈ 15.2 M
  * deck lines (reference: input/raincell/gen_raincell.py:124-142,
  * res/grids/flo2d_150_v2m.csv). The reference does one MySQL proc call per
  * timestep plus single-threaded string building; here it is one plan:
  * synthesize the series, bucket, format, range-partitioned ordered write.
  *
  * `runMain graft.ScaleSmoke [stepsMultiplier]` — prints one JSON line.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val steps = 384 * mult
    val cells = 39526
    val start = "2024-01-01 00:00:00"
    val startUs = graft.model.SlTime.microsOf(start)
    // render in UTC explicitly — java.sql.Timestamp.toString uses the JVM
    // default zone, which would shift the header on non-UTC machines
    val endUs = startUs + steps.toLong * 15 * 60000000L
    val end = java.time.LocalDateTime
      .ofEpochSecond(endUs / 1000000L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

    // synthetic (time, cell_id, value): one row per (step, cell)
    val df = spark.range(steps.toLong * cells)
      .select(
        timestamp_micros(lit(startUs) +
          (col("id") / cells + 1).cast("long") * 900000000L).as("time"),
        (pmod(col("id"), lit(cells)) + 1).cast("int").as("cell_id"),
        round(rand(42) * 10, 2).as("value"))

    val outDir = java.nio.file.Files.createTempDirectory("raincell_scale").toString
    val t0 = System.nanoTime()
    val deck = graft.decks.RaincellDeck.lines(spark, df, start, end, "flo2d_150_v2")
    graft.io.OrderedTextSink.writePartFiles(deck, s"$outDir/RAINCELL", cpus.toInt)
    val secs = (System.nanoTime() - t0) / 1e9

    val lines = spark.read.text(s"$outDir/RAINCELL").count()
    println(s"""{"metric":"raincell_scale","steps":$steps,"cells":$cells,""" +
      s""""lines":$lines,"seconds":$secs,"lines_per_sec":${(lines / secs).toLong}}""")

    // TIMDEP-shaped parse throughput: blocks of 39,526 cell rows per step
    // (reference parses these single-threaded line by line:
    // output/extract_water_level.py:540-572)
    val timdepDir = java.nio.file.Files.createTempDirectory("timdep_scale").toString
    val nBlocks = 96 * mult
    spark.range(nBlocks.toLong * (cells + 1))
      .select(when(pmod(col("id"), lit(cells + 1)) === 0,
          format_string("   %d.25", (col("id") / (cells + 1)).cast("int")))
        .otherwise(format_string("    %d   0.1   0.2   0.3   0.4   %d.50",
          pmod(col("id"), lit(cells + 1)).cast("int"),
          pmod(col("id"), lit(97)).cast("int"))).as("value"))
      .coalesce(4).write.mode("overwrite").text(timdepDir + "/TIMDEP")
    // the written dir holds part files; benchmark BOTH parse paths on it —
    // the window path treats each part as a file, the carry path needs one
    // file, so concatenate first
    val single = timdepDir + "/TIMDEP.OUT"
    val parts = new java.io.File(timdepDir + "/TIMDEP").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val os = new java.io.FileOutputStream(single)
    parts.foreach(p => java.nio.file.Files.copy(p.toPath, os))
    os.close()

    val t1 = System.nanoTime()
    val nWin = graft.extract.FloOutputParsers.parseTimdep(
      graft.extract.FloOutputParsers.readLines(spark, single)).count()
    val winSecs = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val nFast = graft.extract.FloOutputParsers.parseTimdepFile(spark, single).count()
    val fastSecs = (System.nanoTime() - t2) / 1e9
    println(s"""{"metric":"timdep_parse_scale","blocks":$nBlocks,"rows":$nFast,""" +
      s""""window_secs":$winSecs,"carry_secs":$fastSecs,""" +
      s""""window_rows_per_sec":${(nWin / winSecs).toLong},""" +
      s""""carry_rows_per_sec":${(nFast / fastSecs).toLong}}""")

    // ---- N decks in ONE job: the multi-deck window partitioning -----------
    // 256 basins' RAIN + INFLOW decks in a single plan. Windows partition by
    // deck_id, so this spreads over 256 window partitions instead of
    // funneling the union through one unpartitioned WindowExec.
    val nDecks = 256 * mult
    val rowsPerDeck = 288 // one day of 5-min data
    val manySeries = spark.range(nDecks.toLong * rowsPerDeck)
      .select(
        concat(lit("deck_"), (col("id") / rowsPerDeck).cast("long")).as("deck_id"),
        timestamp_micros(lit(startUs) +
          (pmod(col("id"), lit(rowsPerDeck)) + 1) * 300000000L).as("time"),
        round(rand(7) * 10, 2).as("value"))
    val dayEnd = java.time.LocalDateTime
      .ofEpochSecond(startUs / 1000000L + rowsPerDeck * 300L, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val t3 = System.nanoTime()
    val rainLines = graft.decks.RainDeck
      .linesMany(spark, manySeries, start, dayEnd, "flo2d_250").count()
    val inflowLines = graft.decks.InflowDeck
      .linesMany(spark, manySeries, Seq(
        "0           41550", "C               0           41550",
        "H               0               0")).count()
    val deckSecs = (System.nanoTime() - t3) / 1e9
    println(s"""{"metric":"multi_deck_scale","decks":$nDecks,""" +
      s""""rain_lines":$rainLines,"inflow_lines":$inflowLines,""" +
      s""""seconds":$deckSecs,"lines_per_sec":${((rainLines + inflowLines) / deckSecs).toLong}}""")

    // ---- transitive near-dup keepers at replicated-corpus scale -----------
    // documents ×dupFactor (replicas share text → every group is a
    // dupFactor-clique). Demonstrates the candidate-bounded shuffle claim:
    // the n² verify work stays inside LSH buckets, so shuffle volume tracks
    // candidate pairs, not corpus².
    // per-section shuffle accounting: each metric line carries ITS shuffle
    // bytes and peak single-stage bytes, not the run's
    def sectionShuffle[T](f: => T): (T, Long, Long, Double) = {
      val (r, w) = graft.obs.SparkWork.measure(spark)(f)
      (r, w.shuffleWriteBytes, w.peakStageShuffleWrite, w.seconds)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dupFactor = 20 * mult
    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nBase = baseDocs.count()
    val bigDocs = spark.range(dupFactor)
      .crossJoin(baseDocs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"), col("text"))
    val (nKept, dedupShuffle, dedupPeak, dedupSecs) = sectionShuffle {
      // production shape: zero-shuffle rowwise signatures + star CC
      graft.dedup.Dedup.nearDupKeepersTransitiveRowwise(
        bigDocs, "doc_id", "text", numHashes = 4, rowsPerBand = 2,
        threshold = 0.6).count()
    }
    val nDocs = nBase * dupFactor
    println(s"""{"metric":"neardup_transitive_scale","docs":$nDocs,""" +
      s""""dup_factor":$dupFactor,"rows_out":$nKept,"seconds":$dedupSecs,""" +
      s""""docs_per_sec":${(nDocs / dedupSecs).toLong},""" +
      s""""shuffle_write_bytes":$dedupShuffle,""" +
      s""""peak_stage_shuffle_bytes":$dedupPeak}""")

    // ---- MinHash signatures: custom zero-shuffle expression vs explode+agg
    val t45 = System.nanoTime()
    val nSigRow = graft.dedup.Dedup.minhashSignatureRowwise(
      bigDocs, "doc_id", "text", 8).count()
    val rowSecs = (System.nanoTime() - t45) / 1e9
    val t46 = System.nanoTime()
    val nSigAgg = graft.dedup.Dedup.minhashSignature(
      bigDocs, "doc_id", "text", 8, graft.dedup.Dedup.fastHash).count()
    val aggSecs = (System.nanoTime() - t46) / 1e9
    require(nSigRow == nSigAgg)
    println(s"""{"metric":"minhash_sig_scale","docs":$nDocs,""" +
      s""""rowwise_seconds":$rowSecs,"rowwise_docs_per_sec":${(nDocs / rowSecs).toLong},""" +
      s""""explode_agg_seconds":$aggSecs,"explode_agg_docs_per_sec":${(nDocs / aggSecs).toLong}}""")

    // ---- paragraph + substring rewrite over the replicated corpus ---------
    // The two text-REWRITE dedup layers on the same 20×-replicated 100 k
    // docs: paragraph keep-first (each single-line text is one paragraph
    // here, so survivors = the unique-text count — the machinery under
    // load, min(struct) agg + hash join + re-assembly) and the merged-
    // island substring rewrite (every replica's full token mass sits
    // under duplicated windows ⇒ ≥ 19/20 of tokens must be removed).
    val (paraRes, _, paraPeak, paraSecs) = sectionShuffle {
      graft.dedup.Dedup.paragraphKeepFirst(bigDocs, "doc_id", "text",
          hashFn = graft.dedup.Dedup.fastParaHash)
        .agg(count(lit(1)), coalesce(sum(when(col("n_kept") > 0, 1L)), lit(0L)))
        .head()
    }
    require(paraRes.getLong(0) == nDocs,
      s"paragraph rewrite must keep one row per doc, got ${paraRes.getLong(0)}")
    val (spanRes, _, spanPeak, spanSecs) = sectionShuffle {
      graft.dedup.Dedup.removeDuplicatedSpans(bigDocs, "doc_id", "text",
          windowTokens = 8, hashFn = graft.dedup.Dedup.fastParaHash)
        .agg(count(lit(1)), sum("n_removed"),
          sum(graft.functions.TextFunctions.tokenCount(col("text_dedup"))))
        .head()
    }
    require(spanRes.getLong(0) == nDocs,
      s"span rewrite must keep one row per doc, got ${spanRes.getLong(0)}")
    val removedFrac = spanRes.getLong(1).toDouble /
      (spanRes.getLong(1) + spanRes.getLong(2))
    require(removedFrac >= 0.9,
      s"a 20x-replicated corpus must lose >= 19/20 of token mass to the " +
        s"substring rewrite, got $removedFrac")
    println(s"""{"metric":"textdedup_rewrite_scale","docs":$nDocs,""" +
      s""""paragraph_seconds":$paraSecs,""" +
      s""""paragraph_docs_per_sec":${(nDocs / paraSecs).toLong},""" +
      s""""paragraph_survivor_docs":${paraRes.getLong(1)},""" +
      s""""paragraph_peak_stage_shuffle_bytes":$paraPeak,""" +
      s""""span_seconds":$spanSecs,""" +
      s""""span_docs_per_sec":${(nDocs / spanSecs).toLong},""" +
      s""""span_tokens_removed":${spanRes.getLong(1)},""" +
      s""""span_removed_fraction":$removedFrac,""" +
      s""""span_peak_stage_shuffle_bytes":$spanPeak}""")

    // ---- sequence packing over the replicated corpus ----------------------
    // packChunks' prefix sum is the two-pass bucketed scan: pass 1
    // is embarrassingly parallel, pass 2 scans one row per partition — so
    // docs/sec should HOLD as the corpus grows. Measured at half scale and
    // full scale in one run: the ratio is the empirical scaling check (a
    // single-partition global-window scan would degrade superlinearly).
    val halfDocs = spark.range(dupFactor / 2)
      .crossJoin(baseDocs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"), col("text"))
    val nHalf = nBase * (dupFactor / 2)
    val (nChunksHalf, _, _, packHalfSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.packChunks(halfDocs, "doc_id", "text", 4096L)
        .agg(max("chunk_end_id")).head().getLong(0) + 1
    }
    val (nChunks, packShuffle, packPeak, packSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.packChunks(bigDocs, "doc_id", "text", 4096L)
        .agg(max("chunk_end_id")).head().getLong(0) + 1
    }
    val packHalfRate = (nHalf / packHalfSecs).toLong
    val packRate = (nDocs / packSecs).toLong
    println(s"""{"metric":"pack_chunks_scale","docs":$nDocs,"chunks":$nChunks,""" +
      s""""seconds":$packSecs,"docs_per_sec":$packRate,""" +
      s""""half_docs":$nHalf,"half_chunks":$nChunksHalf,""" +
      s""""half_docs_per_sec":$packHalfRate,""" +
      s""""scaling_ratio":${packRate.toDouble / packHalfRate},""" +
      s""""shuffle_write_bytes":$packShuffle,""" +
      s""""peak_stage_shuffle_bytes":$packPeak}""")

    // ---- TF-IDF over the replicated corpus --------------------------------
    // explode → two hash-aggs → vocab-sized join; shuffle carries tokens,
    // never document bodies. Both forms: the lazy two-scan default and the
    // single-scan N-from-metadata overload (persisted tf intermediate).
    val (nWeights, tfidfShuffle, tfidfPeak, tfidfSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.tfIdf(bigDocs, "doc_id", "text").count()
    }
    val (nWeights1, _, _, tfidf1Secs) = sectionShuffle {
      val w = graft.trainprep.TrainPrep.tfIdf(bigDocs, "doc_id", "text", nDocs).count()
      spark.catalog.clearCache() // drop the tf persist before the next section
      w
    }
    require(nWeights1 == nWeights)
    println(s"""{"metric":"tfidf_scale","docs":$nDocs,"weights":$nWeights,""" +
      s""""seconds":$tfidfSecs,"docs_per_sec":${(nDocs / tfidfSecs).toLong},""" +
      s""""single_scan_seconds":$tfidf1Secs,""" +
      s""""single_scan_docs_per_sec":${(nDocs / tfidf1Secs).toLong},""" +
      s""""shuffle_write_bytes":$tfidfShuffle,""" +
      s""""peak_stage_shuffle_bytes":$tfidfPeak}""")

    // ---- connected components on the worst-case shape ---------------------
    // A 100k-node PATH graph: diameter 100k, the adversarial opposite of
    // the near-clique graphs dedup produces. Min-label propagation needs
    // one round per diameter hop (100k rounds — infeasible); alternating
    // star contraction converges in O(log²) rounds, so finishing inside
    // maxIter = 25 IS the logarithmic-rounds claim, demonstrated.
    val nChain = 100000L * mult
    val chainEdges = spark.range(1, nChain)
      .select(col("id").as("src"), (col("id") - 1).as("dst"))
    val (chainComps, _, _, ccSecs) = sectionShuffle {
      // localFinishEdges = 0: this section measures the DISTRIBUTED
      // rounds on the adversarial shape — the bounded driver-side finish
      // (which would happily swallow 99 999 edges) is the production
      // default, not the claim under test here
      val labels = graft.dedup.Dedup.connectedComponents(
        chainEdges, "src", "dst", maxIter = 25, localFinishEdges = 0)
      val r = labels.agg(countDistinct(col("component")),
        count(lit(1))).head()
      require(r.getLong(0) == 1 && r.getLong(1) == nChain,
        s"chain must collapse to ONE component over $nChain nodes, " +
          s"got ${r.getLong(0)} over ${r.getLong(1)}")
      r.getLong(0)
    }
    println(s"""{"metric":"cc_worstcase_scale","nodes":$nChain,""" +
      s""""components":$chainComps,"seconds":$ccSecs,""" +
      s""""nodes_per_sec":${(nChain / ccSecs).toLong}}""")

    // ---- REAL image codec throughput --------------------------------------
    // 100k actual PNGs encoded and decoded through the JDK codecs in one
    // distributed pass each: encode (synthesize → write parquet blobs),
    // header-only metadata decode, and full-pixel perceptual hashing. The
    // numbers are the honest cost of the multimodal path with a real codec
    // in the loop, not the stub.
    val nImgs = 100000L * mult
    val imgDir = java.nio.file.Files.createTempDirectory("img_scale").toString
    val (_, _, _, encSecs) = sectionShuffle {
      graft.multimodal.Multimodal.synthesizeImages(
        spark.range(nImgs).select(col("id").as("media_id")), "media_id")
        .write.mode("overwrite").parquet(s"$imgDir/in")
    }
    val blobs = spark.read.parquet(s"$imgDir/in")
    val (nDecoded, _, _, decSecs) = sectionShuffle {
      graft.multimodal.Multimodal.decodeImageBatch(blobs)
        .filter(col("width").isNotNull).count()
    }
    // hash throughput only: the synthetic gradients collapse to few
    // distinct hashes, so a pair join here would be a deliberate
    // mega-clique — the bucket-bounding story is the text pipeline's
    val (nHashes, _, _, hashSecs) = sectionShuffle {
      graft.multimodal.Multimodal.imageAHashes(blobs, "media_id", "bytes")
        .agg(countDistinct(col("ahash"))).head().getLong(0)
    }
    println(s"""{"metric":"image_codec_scale","images":$nImgs,"decoded":$nDecoded,""" +
      s""""encode_seconds":$encSecs,"encode_imgs_per_sec":${(nImgs / encSecs).toLong},""" +
      s""""decode_seconds":$decSecs,"decode_imgs_per_sec":${(nDecoded / decSecs).toLong},""" +
      s""""ahash_seconds":$hashSecs,"ahash_imgs_per_sec":${(nImgs / hashSecs).toLong},""" +
      s""""distinct_hashes":$nHashes}""")

    // ---- image near-dup at scale: the Hamming-LSH banding claim -----------
    // The gradient PNGs above collapse to few distinct hashes (a deliberate
    // mega-clique — unusable for pair benchmarking), so near-dup pairing
    // gets its own fixture: 100k 16x16 PNGs in groups of 5. Each group has
    // a pseudo-random pixel pattern (≈ random 64-bit aHash per group,
    // distinct across groups) and each member perturbs one pixel (members
    // land within a few Hamming bits). Banding the aHash into four 16-bit
    // keys must surface within-group pairs while candidates stay
    // bucket-bounded: cross-group band collisions are the 2^-16-per-band
    // chance, never a clique. The full run measured here is decode + hash
    // (once, persisted) + band + popcount-verify.
    val grpSize = 5
    val nGroups = nImgs / grpSize
    val noiseDir = java.nio.file.Files.createTempDirectory("img_neardup").toString
    locally {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.BinaryType, nullable = true)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      spark.range(nImgs).select(col("id").as("media_id"))
        .mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val group = id / grpSize
            val member = (id % grpSize).toInt
            val img = new java.awt.image.BufferedImage(16, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var p = 0
            while (p < 256) {
              var v = (graft.functions.VectorFunctions.splitmix64(group * 257L + p) & 0xffL).toInt
              if (member > 0 && p == (member * 53) % 256) v = v ^ 0x80
              img.setRGB(p % 16, p / 16, (v << 16) | (v << 8) | v)
              p += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", out)
            org.apache.spark.sql.Row(id, out.toByteArray)
          }
        }(enc)
        .write.mode("overwrite").parquet(s"$noiseDir/in")
    }
    val noiseBlobs = spark.read.parquet(s"$noiseDir/in")
    val (nPairs, ndShuffle, ndPeak, ndSecs) = sectionShuffle {
      graft.multimodal.Multimodal.imageNearDupPairs(
        noiseBlobs, "media_id", "bytes", maxHamming = 3).count()
    }
    // sanity, not exactness: a 1-pixel edit can shift the global luminance
    // mean and flip borderline cells past Hamming 3, so demand a healthy
    // majority of groups pair up rather than all C(5,2) pairs
    require(nPairs >= nGroups,
      s"expected at least one verified pair per group on average, got $nPairs over $nGroups groups")
    println(s"""{"metric":"image_neardup_scale","images":$nImgs,"groups":$nGroups,""" +
      s""""pairs":$nPairs,"seconds":$ndSecs,""" +
      s""""pairs_per_sec":${(nPairs / ndSecs).toLong},""" +
      s""""images_per_sec":${(nImgs / ndSecs).toLong},""" +
      s""""shuffle_write_bytes":$ndShuffle,""" +
      s""""peak_stage_shuffle_bytes":$ndPeak}""")

    // ---- ANN at scale: precomputed-signature LSH vs IVF cells -------------
    // 100k clustered embeddings (1000 tight clusters × 100 members,
    // dim 64). Both paths run in their at-scale serving shape: sign /
    // assign ONCE (withSignatures / withIvfCell — at 100 TB these are
    // stored columns and the probe-0 / cell filters become partition
    // pruning, see EmbeddingLake), then every query filters the stored
    // columns and exactly reranks the survivors. recall@10 is judged per
    // query against the brute-force oracle over the same corpus.
    val nEmb = 100000L * mult
    val annDim = 64
    val clusterSize = 100
    val annDir = java.nio.file.Files.createTempDirectory("ann_scale").toString
    locally {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType), nullable = true)))
      val enc = org.apache.spark.sql.Encoders.row(schema)
      spark.range(nEmb).select(col("id").as("vec_id")).mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val cluster = id / clusterSize
          val v = new Array[Float](annDim)
          var d = 0
          while (d < annDim) {
            val c = graft.functions.VectorFunctions.splitmix64(cluster * 1009L + d)
            val n = graft.functions.VectorFunctions.splitmix64(id * 7919L + d)
            v(d) = (c.toDouble / Long.MaxValue +
              0.02 * (n.toDouble / Long.MaxValue)).toFloat
            d += 1
          }
          org.apache.spark.sql.Row(id, v.toSeq)
        }
      }(enc).write.mode("overwrite").parquet(s"$annDir/emb")
    }
    val embScale = spark.read.parquet(s"$annDir/emb").persist()
    embScale.count()
    val nQueries = 20
    val queryIds = (0 until nQueries).map(i => i.toLong * (nEmb / nQueries))
    val queryVecs = embScale.filter(col("vec_id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def top10(df: org.apache.spark.sql.DataFrame, q: Seq[Float]): Set[Long] =
      graft.ann.Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
    def recallOf(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      queryIds.map(q => (approx(q) & exact(q)).size / 10.0).sum / nQueries

    val (exact, _, _, bruteSecs) = sectionShuffle {
      queryIds.map(q => q -> top10(embScale, queryVecs(q))).toMap
    }

    val tSign = System.nanoTime()
    val signed = graft.ann.Similarity.withSignatures(
      embScale, "embedding", annDim, nBits = 16, nTables = 3).persist()
    signed.count()
    val signSecs = (System.nanoTime() - tSign) / 1e9
    val sigCols = (0 until 3).map(t => s"lsh_sig_$t")
    val (lshRes, _, lshPeak, lshSecs) = sectionShuffle {
      queryIds.map { q =>
        q -> graft.ann.Similarity.lshTopK(signed, "vec_id", "embedding",
            queryVecs(q), annDim, k = 10, nBits = 16, maxHammingProbe = 2,
            nTables = 3, sigCols = sigCols)
          .collect().map(_.getLong(0)).toSet
      }.toMap
    }
    val lshRecall = recallOf(lshRes, exact)

    val tTrain = System.nanoTime()
    val cents = graft.ann.Similarity.codebook(
      embScale, "vec_id", "embedding", nCentroids = 64, iters = 2)
    val assigned = graft.ann.Similarity.withIvfCell(embScale, "embedding", cents)
      .persist()
    assigned.count()
    val ivfTrainSecs = (System.nanoTime() - tTrain) / 1e9
    val (ivfRes, _, ivfPeak, ivfSecs) = sectionShuffle {
      queryIds.map { q =>
        val probes = cents.indices
          .sortBy(i => graft.ann.Similarity.l2Local(queryVecs(q), cents(i)))
          .take(8)
        q -> top10(assigned.filter(col("ivf_cell").isin(probes: _*)), queryVecs(q))
      }.toMap
    }
    val ivfRecall = recallOf(ivfRes, exact)

    // PQ: encode once (the ingest step — 256-code books exercise the
    // signed-byte wrap at scale), then per-query ADC shortlist from the
    // m-byte codes + exact rerank of the shortlist only. The persisted
    // query-side projection carries (id, code, vector); the ADC ranking
    // itself reads just id + code — m bytes/row vs dim·4 float bytes, the
    // 32× memory story measured below as the actual column sizes.
    val tPq = System.nanoTime()
    val pqCents = graft.ann.Similarity.pqCodebooks(
      embScale, "vec_id", "embedding", annDim, m = 8, nCodes = 256, iters = 1)
    val pqCoded = graft.ann.Similarity.withPqCodes(
      embScale, "embedding", annDim, pqCents).persist()
    pqCoded.count()
    val pqTrainSecs = (System.nanoTime() - tPq) / 1e9
    val (pqRes, _, pqPeak, pqSecs) = sectionShuffle {
      queryIds.map { q =>
        q -> graft.ann.Similarity.pqRerankedFromCodes(pqCoded, "vec_id",
            "embedding", queryVecs(q), annDim, pqCents, k = 10, shortlist = 100)
          .collect().map(_.getLong(0)).toSet
      }.toMap
    }
    val pqRecall = recallOf(pqRes, exact)
    val codeBytes = nEmb * 8          // m bytes per row
    val vecBytes = nEmb * annDim * 4  // float32 per dim
    // sanity floors, not tuning targets: tight clusters must survive all
    // three index shapes or the multi-table/multi-probe/rerank story is
    // broken
    require(lshRecall >= 0.8, s"multi-table LSH recall@10 collapsed: $lshRecall")
    require(ivfRecall >= 0.7, s"IVF recall@10 collapsed: $ivfRecall")
    require(pqRecall >= 0.7, s"PQ reranked recall@10 collapsed: $pqRecall")
    println(s"""{"metric":"ann_scale","embeddings":$nEmb,"dim":$annDim,""" +
      s""""queries":$nQueries,""" +
      s""""brute_qps":${nQueries / bruteSecs},""" +
      s""""lsh_recall_at10":$lshRecall,"lsh_qps":${nQueries / lshSecs},""" +
      s""""lsh_sign_seconds":$signSecs,""" +
      s""""lsh_peak_stage_shuffle_bytes":$lshPeak,""" +
      s""""ivf_recall_at10":$ivfRecall,"ivf_qps":${nQueries / ivfSecs},""" +
      s""""ivf_train_seconds":$ivfTrainSecs,""" +
      s""""ivf_peak_stage_shuffle_bytes":$ivfPeak,""" +
      s""""pq_recall_at10":$pqRecall,"pq_qps":${nQueries / pqSecs},""" +
      s""""pq_train_encode_seconds":$pqTrainSecs,""" +
      s""""pq_code_bytes":$codeBytes,"pq_vector_bytes":$vecBytes,""" +
      s""""pq_peak_stage_shuffle_bytes":$pqPeak}""")

    // ---- BATCHED multi-query retrieval (E180): a 1000-query block in ONE
    // corpus scan vs the one-plan-per-query loop. The loop pays per-query
    // plan+scan; the batch pays one scan + a bounded partial top-k whose
    // exchange carries |queries|×|tasks|×k entries. Equality is asserted
    // on a query sample (the full equality is RecallSpec's job at small
    // scale); the headline number is queries/second.
    locally {
      val batchQ = 1000
      val queries = embScale.filter(col("vec_id") % (nEmb / batchQ) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .persist()
      val nQ = queries.count()
      val (batchedRows, batchShuffle, _, batchSecs) = sectionShuffle {
        graft.ann.Similarity.topKForQueries(embScale, "vec_id", "embedding",
          queries, "qid", "qv", k = 10, roundTo = 5).count()
      }
      require(batchedRows == nQ * 10,
        s"batched retrieval must return k rows per query: $batchedRows")
      // loop a 20-query sample for the per-plan baseline + equality probe
      val sample = queries.limit(20).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1))
      val (loopSets, _, _, loopSecs) = sectionShuffle {
        sample.map { case (qid, qv) =>
          qid -> graft.ann.Similarity.bruteForceTopK(embScale, "vec_id",
            "embedding", qv, 10, roundTo = 5)
            .collect().map(_.getLong(0)).toSeq
        }.toMap
      }
      val batchedSample = graft.ann.Similarity.topKForQueries(embScale,
          "vec_id", "embedding", queries, "qid", "qv", k = 10, roundTo = 5)
        .filter(col("query_id").isin(sample.map(_._1): _*))
        .orderBy(col("query_id"), col("rank"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }
      sample.foreach { case (qid, _) =>
        require(batchedSample(qid) == loopSets(qid),
          s"batched != looped for query $qid")
      }
      println(s"""{"metric":"batched_ann_scale","embeddings":$nEmb,""" +
        s""""queries":$nQ,"batched_seconds":$batchSecs,""" +
        s""""batched_qps":${(nQ / batchSecs).toLong},""" +
        s""""batched_shuffle_bytes":$batchShuffle,""" +
        s""""loop_sample_qps":${(sample.length / loopSecs).toLong},""" +
        s""""speedup_vs_loop":${(nQ / batchSecs) / (sample.length / loopSecs)}}""")

      // ---- BATCHED PQ/ADC (round 17): the same 1000-query block over the
      // STORED byte codes — per-query ADC LUTs ride the broadcast block,
      // one code scan shortlists every query, exact cosine reranks the
      // union shortlist. The loop baseline is the per-query
      // pqRerankedFromCodes plan (already trained/encoded — this measures
      // the QUERY path only, both sides).
      val (pqBatchRows, pqBatchShuffle, _, pqBatchSecs) = sectionShuffle {
        graft.ann.Similarity.pqRerankedForQueriesFromCodes(pqCoded,
          "vec_id", "embedding", queries, "qid", "qv", annDim, pqCents,
          k = 10, shortlist = 50, roundTo = 5).count()
      }
      require(pqBatchRows == nQ * 10,
        s"batched PQ must return k rows per query: $pqBatchRows")
      val (pqLoopSets, _, _, pqLoopSecs) = sectionShuffle {
        sample.map { case (qid, qv) =>
          qid -> graft.ann.Similarity.pqRerankedFromCodes(pqCoded, "vec_id",
            "embedding", qv, annDim, pqCents, k = 10, shortlist = 50,
            roundTo = 5).collect().map(_.getLong(0)).toSeq
        }.toMap
      }
      val pqBatchSample = graft.ann.Similarity.pqRerankedForQueriesFromCodes(
          pqCoded, "vec_id", "embedding", queries, "qid", "qv", annDim,
          pqCents, k = 10, shortlist = 50, roundTo = 5)
        .filter(col("query_id").isin(sample.map(_._1): _*))
        .orderBy(col("query_id"), col("rank"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSeq }
      sample.foreach { case (qid, _) =>
        require(pqBatchSample(qid) == pqLoopSets(qid),
          s"batched PQ != looped for query $qid")
      }
      println(s"""{"metric":"batched_pq_scale","embeddings":$nEmb,""" +
        s""""queries":$nQ,"batched_seconds":$pqBatchSecs,""" +
        s""""batched_qps":${(nQ / pqBatchSecs).toLong},""" +
        s""""batched_shuffle_bytes":$pqBatchShuffle,""" +
        s""""loop_sample_qps":${(sample.length / pqLoopSecs).toLong},""" +
        s""""speedup_vs_loop":${(nQ / pqBatchSecs) / (sample.length / pqLoopSecs)}}""")
      queries.unpersist()
    }
    // quantized retrieval over the same corpus, in the production
    // two-stage shape: a compressed shortlist (binary sign bits /
    // matryoshka 32-dim prefix) rescored by exact cosine. On this
    // corpus — 1000 clusters of 100 NEAR-IDENTICAL vectors — the raw
    // compressed top-10 is provably uninformative (every cluster member
    // ties; fine order is noise the compressed score can't see), so the
    // floors sit on the rescored answer, which is what a serving stack
    // returns
    def rescored(shortlistOf: Seq[Float] => Set[Long]) =
      queryIds.map { q =>
        q -> top10(embScale.filter(col("vec_id")
          .isInCollection(shortlistOf(queryVecs(q)))), queryVecs(q))
      }.toMap
    // serving shape like the LSH/PQ sections: sign/encode ONCE, store the
    // columns, queries probe the STORED signatures/codes
    val tQuant = System.nanoTime()
    val binStored = graft.ann.Similarity.withBinarySignature(
      embScale, "embedding", annDim).persist()
    binStored.count()
    val (sq8Mins, sq8Maxs) = graft.ann.Similarity.sq8Train(
      embScale, "embedding", annDim)
    val sq8Stored = graft.ann.Similarity.withSq8Codes(
      embScale, "embedding", sq8Mins, sq8Maxs).persist()
    sq8Stored.count()
    val quantTrainSecs = (System.nanoTime() - tQuant) / 1e9
    val (bqRes, _, _, bqSecs) = sectionShuffle {
      rescored(q => graft.ann.Similarity.binaryTopK(
          binStored, "vec_id", "embedding", q, k = 100,
          sigCol = Some("bin_sig"))
        .collect().map(_.getLong(0)).toSet)
    }
    val bqRecall = recallOf(bqRes, exact)
    val (trRes, _, _, trSecs) = sectionShuffle {
      rescored(q => graft.ann.Similarity.truncatedTopK(embScale, "vec_id",
          "embedding", q, d = 32, k = 100)
        .collect().map(_.getLong(0)).toSet)
    }
    val trRecall = recallOf(trRes, exact)
    val (sqRes, _, _, sqSecs) = sectionShuffle {
      queryIds.map { q =>
        q -> graft.ann.Similarity.sq8TopK(sq8Stored, "vec_id", "embedding",
            queryVecs(q), sq8Mins, sq8Maxs, k = 10,
            codesCol = Some("sq8_codes"))
          .collect().map(_.getLong(0)).toSet
      }.toMap
    }
    val sqRecall = recallOf(sqRes, exact)
    require(bqRecall >= 0.9,
      s"binary shortlist+rescore recall@10 collapsed: $bqRecall")
    require(trRecall >= 0.9,
      s"truncated shortlist+rescore recall@10 collapsed: $trRecall")
    // 8-bit codes mostly preserve fine order with NO rescore — unlike
    // the 1-bit path — but on THIS corpus the quantization step
    // (range ~2 / 255 ≈ 0.008) is the same magnitude as the 0.02
    // in-cluster jitter that defines fine order, so a little churn in
    // the tail of the top-10 is arithmetic, not a bug (measured 0.86;
    // SimilaritySpec pins ≥ 0.9 on a normally-spread corpus)
    require(sqRecall >= 0.8, s"sq8 raw recall@10 collapsed: $sqRecall")
    println(s"""{"metric":"quantized_ann_scale","embeddings":$nEmb,""" +
      s""""quant_train_encode_seconds":$quantTrainSecs,""" +
      s""""binary_rescored_recall_at10":$bqRecall,""" +
      s""""binary_qps":${nQueries / bqSecs},""" +
      s""""binary_sig_bytes":${nEmb * 16},""" +
      s""""truncated32_rescored_recall_at10":$trRecall,""" +
      s""""truncated_qps":${nQueries / trSecs},""" +
      s""""sq8_raw_recall_at10":$sqRecall,"sq8_qps":${nQueries / sqSecs},""" +
      s""""sq8_code_bytes":${nEmb * annDim},""" +
      s""""float_vector_bytes":${nEmb * annDim * 4}}""")
    binStored.unpersist(); sq8Stored.unpersist()
    embScale.unpersist(); signed.unpersist(); assigned.unpersist()
    pqCoded.unpersist()

    // ---- SemDeDup over the same clustered corpus --------------------------
    // 1 000 true clusters of 100 near-identical vectors. Codebook seeds are
    // the first nCentroids ids, so ids are permuted first (coprime stride)
    // to draw seeds across clusters — the production analogue is seeding
    // from a shuffled sample. Cap stays DEFAULT-ON: the run must complete
    // without dropping a cell or the cell-sizing story is broken.
    val semInput = spark.read.parquet(s"$annDir/emb")
      .select(((col("vec_id") * 99991L) % nEmb).as("vec_id"), col("embedding"))
      .persist()
    semInput.count()
    val semObs = org.apache.spark.sql.Observation("graft_semdedup_scale")
    val (semKeepers, _, semPeak, semSecs) = sectionShuffle {
      graft.dedup.Dedup.withReliableOversizeAudit(spark) {
        val k = graft.dedup.Dedup.semDedupKeepers(semInput, "vec_id", "embedding",
          nCentroids = 128, kmeansIters = 2, threshold = 0.99,
          oversizeObs = Some(semObs)).persist()
        k.count()
        k
      }
    }
    val nSemMerged = semKeepers.filter(col("vec_id") =!= col("keeper_id")).count()
    val nSemComponents = semKeepers.select("keeper_id").distinct().count()
    val semDropped = semObs.get("dropped_buckets").asInstanceOf[Long]
    require(semDropped == 0L,
      s"semdedup_scale must fit every cell under the default cap, dropped $semDropped")
    // 1 000 true clusters → ideal 1 000 survivors; k-means cell splits can
    // only leave MORE survivors (a cluster cut in two merges per side)
    require(nSemComponents >= 1000 && nSemComponents <= 3000,
      s"semantic collapse off the rails: $nSemComponents components for 1000 clusters")
    println(s"""{"metric":"semdedup_scale","embeddings":$nEmb,"clusters":1000,""" +
      s""""n_centroids":128,"merged":$nSemMerged,"survivors":$nSemComponents,""" +
      s""""seconds":$semSecs,"embeddings_per_sec":${(nEmb / semSecs).toLong},""" +
      s""""cells_dropped":$semDropped,""" +
      s""""peak_stage_shuffle_bytes":$semPeak}""")
    semKeepers.unpersist(); semInput.unpersist()

    // ---- char-trigram LM scoring throughput -------------------------------
    // Count pass + score pass over a 4×-replicated corpus; the shuffle must
    // stay charset³/doc-count-bounded (counts and per-doc partials), never
    // text-sized.
    val lmDocs = spark.range(4).crossJoin(baseDocs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"), col("text"))
    val nLmDocs = nBase * 4
    val (nLmScored, lmShuffle, lmPeak, lmSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.charTrigramNll(lmDocs, "doc_id", "text").count()
    }
    require(nLmScored == nLmDocs, s"every doc must score: $nLmScored of $nLmDocs")
    println(s"""{"metric":"lm_trigram_scale","docs":$nLmDocs,""" +
      s""""seconds":$lmSecs,"docs_per_sec":${(nLmDocs / lmSecs).toLong},""" +
      s""""shuffle_write_bytes":$lmShuffle,""" +
      s""""peak_stage_shuffle_bytes":$lmPeak}""")
    spark.catalog.clearCache() // charTrigramNll persists its count frame

    // ---- word-bigram stupid-backoff LM over the replicated corpus (r14;
    // join reduction r15) --------------------------------------------------
    // train on the 5 k-doc base slice, score 100 k docs: the CCNet shape —
    // a fixed reference LM, web-scale text streaming through word-keyed
    // equi-joins. Shuffle carries (word, count) partials and the
    // transition stream's join keys — token-scale, never text bodies.
    // consume avg_nll, not count(): Spark 4's optimizer ELIMINATES a
    // left-outer join against a unique-keyed side under a bare count()
    // (the count plan has ZERO joins — measured 0.5 MB vs the real
    // 126 MB), so a count-based section would "measure" a plan that
    // never runs the scorer (the bench count()-pruning trap, caught
    // here in r15 when both join forms read byte-identical shuffles)
    val (lmbRows, lmbShuffle, _, lmbSecs) = sectionShuffle {
      val uni = graft.trainprep.NgramLm.unigramCounts(baseDocs, "text")
      val bi = graft.trainprep.NgramLm.bigramCounts(baseDocs, "text")
      val total = uni.agg(sum(col("c"))).head().getLong(0)
      graft.trainprep.NgramLm.stupidBackoffNll(
          bigDocs, "doc_id", "text", uni, bi, total)
        .agg(count(lit(1)), sum(col("avg_nll"))).head().getLong(0)
    }
    require(lmbRows == nDocs,
      s"LM must score every multi-token doc: $lmbRows of $nDocs")
    require(lmbShuffle < 2L * 1024 * 1024 * 1024,
      s"LM scoring shuffled $lmbShuffle bytes — something is exploding")
    println(s"""{"metric":"lm_backoff_scale","docs":$nDocs,""" +
      s""""seconds":$lmbSecs,"docs_per_sec":${(nDocs / lmbSecs).toLong},""" +
      s""""shuffle_write_bytes":$lmbShuffle}""")

    // r15 join reduction, measured in the 100 TB regime: with broadcast
    // disabled every count-table join becomes a shuffle join that
    // re-shuffles the TRANSITION STREAM — the regime where c1 riding the
    // bigram table (bigramModel, attached at train time on vocab-sized
    // frames) buys back a full stream shuffle. Both forms run under the
    // same config and the same avg_nll-consuming aggregate (count()
    // would optimize the joins away entirely — see above); the two-join
    // form must shuffle strictly less, and the saving must be
    // stream-scale (> 10 % of the three-join total), or the claim has
    // regressed. Measured at 100 k docs: 3-join 152.6 MB → 2-join
    // 125.6 MB (−17.7 % ≈ the w1-keyed stream pass; the other two
    // stream shuffles and the doc roll-up make up the rest).
    val bcastPrior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val lmUni = graft.trainprep.NgramLm.unigramCounts(baseDocs, "text")
    val lmBi = graft.trainprep.NgramLm.bigramCounts(baseDocs, "text")
    val lmTotal = lmUni.agg(sum(col("c"))).head().getLong(0)
    def consumeLm(legacy: Boolean): Long =
      graft.trainprep.NgramLm.stupidBackoffNllImpl(
          bigDocs, "doc_id", "text", lmUni, lmBi, lmTotal,
          legacyThreeJoins = legacy)
        .agg(count(lit(1)), sum(col("avg_nll"))).head().getLong(0)
    val ((lmb2Rows, lmb2Shuffle, _, lmb2Secs), (_, lmb3Shuffle, _, _)) =
      try {
        val two = sectionShuffle { consumeLm(legacy = false) }
        val three = sectionShuffle { consumeLm(legacy = true) }
        (two, three)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcastPrior)
    require(lmb2Rows == nDocs)
    require(lmb2Shuffle < lmb3Shuffle,
      s"two-join LM scoring must shuffle less than the three-join form: " +
        s"$lmb2Shuffle vs $lmb3Shuffle bytes")
    require(lmb3Shuffle - lmb2Shuffle > lmb3Shuffle / 10L,
      s"join-reduction saving collapsed: $lmb2Shuffle vs $lmb3Shuffle bytes")
    println(s"""{"metric":"lm_backoff_join_reduction","docs":$nDocs,""" +
      s""""two_join_shuffle_bytes":$lmb2Shuffle,""" +
      s""""three_join_shuffle_bytes":$lmb3Shuffle,""" +
      s""""seconds_two_join":$lmb2Secs}""")

    // ---- corpus integrity manifest over the replicated corpus (r14) ------
    // one aggregate: leaves (64-byte hex) shuffle to their identity-hash
    // group and chain-fold — the shuffle is docs × ~80 bytes, never text
    val t90 = System.nanoTime()
    val (imRoot, imShuffle, _, imSecs) = sectionShuffle {
      val m = graft.io.IntegrityManifest.manifest(
        bigDocs, "doc_id", "text", groups = 256).localCheckpoint(true)
      val r = graft.io.IntegrityManifest.root(m)
      val counts = m.agg(sum(col("n_docs")), max(col("n_docs"))).head()
      require(counts.getLong(0) == nDocs,
        s"manifest must cover every doc: ${counts.getLong(0)} of $nDocs")
      // identity hashes are uniform: the biggest group stays within 2×
      // the mean — the bounded-collect contract the chain fold rides on
      require(counts.getLong(1) < 2L * nDocs / 256,
        s"group skew broke the bounded-collect contract: max ${counts.getLong(1)}")
      m.unpersist()
      r
    }
    require(imRoot.length == 64, s"root must be one sha256 hex: $imRoot")
    require(imShuffle < 64L * 1024 * 1024,
      s"manifest shuffled $imShuffle bytes — text bodies are moving")
    println(s"""{"metric":"integrity_manifest_scale","docs":$nDocs,""" +
      s""""groups":256,"seconds":$imSecs,""" +
      s""""docs_per_sec":${(nDocs / imSecs).toLong},""" +
      s""""shuffle_bytes":$imShuffle,""" +
      s""""total_seconds":${(System.nanoTime() - t90) / 1e9}}""")

    // ---- incremental manifest maintenance at 2^20 groups (r15) -----------
    // an upsert batch touches ≈ batch-distinct groups; updated() must
    // recompute ONLY those (shuffle ≪ the full recompute above) and land
    // hash-exact on the same manifest. 2^20-group routing also exercises
    // the two-level chain far beyond the r14 65,536-group ceiling.
    val incGroups = 1 << 20
    // the previous full state sits on disk already (checkpointed) — only
    // the MAINTENANCE step is measured
    val incM0 = graft.io.IntegrityManifest.manifest(
      bigDocs, "doc_id", "text", groups = incGroups).localCheckpoint(true)
    val incBatch = bigDocs.filter(col("doc_id") < 400) // one base slice's ids
      .localCheckpoint(true)
    val (incManifest, incShuffle, _, incSecs) = sectionShuffle {
      val inc = graft.io.IntegrityManifest.updated(
        incM0, bigDocs, incBatch, "doc_id", "text", groups = incGroups)
        .localCheckpoint(true)
      inc
    }
    // no actual content change → the spliced manifest must be IDENTICAL;
    // exceptAll is manifest-sized (≤ docs rows), never corpus — runs
    // OUTSIDE the measured window (it is verification, not maintenance)
    val incDrift = incManifest.exceptAll(incM0).count() +
      incM0.exceptAll(incManifest).count()
    require(incDrift == 0L,
      s"incremental manifest drifted from the full recompute: $incDrift rows")
    val nManifestGroups = incM0.count()
    val batchDistinct = incBatch.select(col("doc_id")).distinct().count()
    incM0.unpersist(); incBatch.unpersist(); incManifest.unpersist()
    // groups-recomputed ≈ batch-distinct-groups ≪ groups: the touched set
    // is bounded by the batch's distinct ids (routing is per-id)
    require(batchDistinct < nManifestGroups / 100,
      s"fixture broke: batch ($batchDistinct ids) must be ≪ groups " +
        s"($nManifestGroups populated)")
    require(incShuffle < imShuffle / 2,
      s"incremental maintenance must shuffle well below the full " +
        s"recompute: $incShuffle vs $imShuffle bytes")
    println(s"""{"metric":"integrity_manifest_incremental","docs":$nDocs,""" +
      s""""groups":$incGroups,"populated_groups":$nManifestGroups,""" +
      s""""batch_ids":$batchDistinct,"seconds":$incSecs,""" +
      s""""shuffle_bytes":$incShuffle,"full_shuffle_bytes":$imShuffle}""")

    // ---- distinct/frequency sketches over the replicated corpus ----------
    // The point at scale is the SHUFFLE BOUND: HLL moves ≤ groups×256
    // register rows and CMS ≤ depth×256 counter rows regardless of corpus
    // size, where exact COUNT(DISTINCT)/per-token counts shuffle the token
    // stream. Shuffle bytes are the proof.
    val (hllRows, hllShuffle, hllPeak, hllSecs) = sectionShuffle {
      graft.trainprep.CorpusOverlap.hllDistinctTokens(
        bigDocs.withColumn("grp", pmod(col("doc_id"), lit(4))),
        "grp", "text").count()
    }
    println(s"""{"metric":"hll_scale","docs":$nDocs,"groups":$hllRows,""" +
      s""""seconds":$hllSecs,"docs_per_sec":${(nDocs / hllSecs).toLong},""" +
      s""""shuffle_write_bytes":$hllShuffle,""" +
      s""""peak_stage_shuffle_bytes":$hllPeak}""")
    val (cmsRows, cmsShuffle, cmsPeak, cmsSecs) = sectionShuffle {
      graft.trainprep.CorpusOverlap.cmsTokenCountsFast(bigDocs, "text").count()
    }
    require(cmsRows <= 4L * 256L, s"CMS must stay depth*width-bounded: $cmsRows")
    val (_, _, _, cmsMd5Secs) = sectionShuffle {
      graft.trainprep.CorpusOverlap.cmsTokenCounts(bigDocs, "text").count()
    }
    println(s"""{"metric":"cms_scale","docs":$nDocs,"counters":$cmsRows,""" +
      s""""seconds":$cmsSecs,"md5_variant_seconds":$cmsMd5Secs,""" +
      s""""docs_per_sec":${(nDocs / cmsSecs).toLong},""" +
      s""""shuffle_write_bytes":$cmsShuffle,""" +
      s""""peak_stage_shuffle_bytes":$cmsPeak}""")

    // ---- DSIR target-domain selection over the same replicated corpus ----
    // Two trigram-count passes (raw + a ~1/500-sized target sample) feed a
    // broadcast log-ratio frame; scoring is one more raw scan + TakeOrdered.
    // The shuffle must stay charset³-bounded (count frames + per-doc
    // partials) — text never shuffles.
    val dsirTarget = baseDocs.filter(col("doc_id") < 50)
    val (nSel, dsirShuffle, dsirPeak, dsirSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.dsirSelect(
        lmDocs, dsirTarget, "doc_id", "text", k = 1000).count()
    }
    require(nSel == 1000L, s"top-k must return k rows, got $nSel")
    println(s"""{"metric":"dsir_scale","docs":$nLmDocs,""" +
      s""""seconds":$dsirSecs,"docs_per_sec":${(nLmDocs / dsirSecs).toLong},""" +
      s""""shuffle_write_bytes":$dsirShuffle,""" +
      s""""peak_stage_shuffle_bytes":$dsirPeak}""")

    // ---- containment join + winnowing at 100k-doc scale -------------------
    // 100k unique 60-word docs + 10k true excerpts (each the first 20
    // words of its parent — containment 1.0 toward the parent, parent
    // toward excerpt only ~0.3). Unique text means shingle df ≈ 1, so the
    // df-ascending prefix join generates candidates that track TRUE pairs,
    // not corpus²: the pairs found must be exactly the planted excerpts.
    val nCont = 100000L * mult
    val nExcerpt = nCont / 10
    val contVocab = 50000
    def synthWords(n: Int) = array_join(transform(sequence(lit(1), lit(n)),
      i => pmod(xxhash64(col("id") * 997L + i), lit(contVocab)).cast("string")),
      " ")
    val contParents = spark.range(nCont)
      .select(col("id").as("doc_id"), synthWords(60).as("text"))
    val contExcerpts = spark.range(nExcerpt)
      .select((col("id") + 10000000L).as("doc_id"), synthWords(20).as("text"))
    val contCorpus = contParents.unionByName(contExcerpts)
    val (nContPairs, contShuffle, contPeak, contSecs) = sectionShuffle {
      graft.dedup.Dedup.containmentPairs(
        contCorpus, "doc_id", "text", threshold = 0.9).count()
    }
    require(nContPairs == nExcerpt,
      s"prefix-filter containment must find exactly the $nExcerpt planted " +
        s"excerpt pairs, got $nContPairs")
    val nContDocs = nCont + nExcerpt
    println(s"""{"metric":"containment_scale","docs":$nContDocs,""" +
      s""""pairs":$nContPairs,"seconds":$contSecs,""" +
      s""""docs_per_sec":${(nContDocs / contSecs).toLong},""" +
      s""""shuffle_write_bytes":$contShuffle,""" +
      s""""peak_stage_shuffle_bytes":$contPeak}""")

    // winnowing fingerprint selection over the same corpus: pure map pass
    // (the aggregate below only counts) — fingerprints never leave the row
    val (nFpTotal, winnowShuffle, _, winnowSecs) = sectionShuffle {
      contCorpus.select(org.apache.spark.sql.GraftBridge.column(
          graft.expressions.WinnowHashes(
            org.apache.spark.sql.GraftBridge.expression(col("text")), 8, 4))
          .as("fp"))
        .agg(sum(size(col("fp")))).head().getLong(0)
    }
    println(s"""{"metric":"winnow_scale","docs":$nContDocs,""" +
      s""""fingerprints":$nFpTotal,"seconds":$winnowSecs,""" +
      s""""docs_per_sec":${(nContDocs / winnowSecs).toLong},""" +
      s""""shuffle_write_bytes":$winnowShuffle}""")

    // ---- edit-distance join at 200k-key scale -----------------------------
    // 200k unique 16-hex keys + 10k planted 1-char typos ('z' is not a hex
    // digit, so each typo is ed-1 from exactly its parent and ≥2 from
    // everything else whp). FastSS must find exactly the planted pairs;
    // the shuffle carries md5 buckets of the ~17-variant neighborhoods.
    val nKeys = 200000L * mult
    val nTypos = nKeys / 20
    val keyCol = lpad(hex(xxhash64(col("id"))), 16, "0")
    val edBase = spark.range(nKeys).select(col("id").as("doc_id"), keyCol.as("k"))
    val edTypos = spark.range(nTypos)
      .select((col("id") + 10000000L).as("doc_id"),
        concat(lit("z"), substring(keyCol, 2, 15)).as("k"))
    val edCorpus = edBase.unionByName(edTypos)
    val (nEdPairs, edShuffle, edPeak, edSecs) = sectionShuffle {
      graft.dedup.Dedup.editDistancePairs(edCorpus, "doc_id", "k", maxDist = 1)
        .count()
    }
    require(nEdPairs == nTypos,
      s"FastSS must find exactly the $nTypos planted typo pairs, got $nEdPairs")
    val nEdDocs = nKeys + nTypos
    println(s"""{"metric":"editdist_scale","keys":$nEdDocs,""" +
      s""""pairs":$nEdPairs,"seconds":$edSecs,""" +
      s""""keys_per_sec":${(nEdDocs / edSecs).toLong},""" +
      s""""shuffle_write_bytes":$edShuffle,""" +
      s""""peak_stage_shuffle_bytes":$edPeak}""")

    // ---- Structured Streaming machinery throughput ------------------------
    // A multi-batch backfill through a stateful aggregation: 4M events in
    // 8 files, one file per micro-batch (forces 8 state-store commit
    // cycles), complete-mode per-user running sums — the §2.9 cron-replay
    // posture under measurement, not just parity-testing.
    val streamDir = java.nio.file.Files.createTempDirectory("stream_scale").toString
    val nEvents = 4000000L * mult
    spark.range(nEvents)
      .select(col("id").as("event_id"),
        (lit(1700000000000000000L) + col("id") * 1000000L).as("ts"),
        pmod(col("id"), lit(50000)).as("user_id"),
        (rand(7) * 10).as("value"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$streamDir/in")
    val t7 = System.nanoTime()
    val stream = spark.readStream
      .schema("event_id LONG, ts LONG, user_id LONG, value DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/in")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
    val q = stream.writeStream
      .format("memory").queryName("stream_scale")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamSecs = (System.nanoTime() - t7) / 1e9
    val nUsers = spark.table("stream_scale").count()
    val nBatches = q.recentProgress.length
    q.stop()
    println(s"""{"metric":"stream_agg_scale","events":$nEvents,"batches":$nBatches,""" +
      s""""users":$nUsers,"seconds":$streamSecs,""" +
      s""""events_per_sec":${(nEvents / streamSecs).toLong}}""")

    // ---- native vs window as-of join at scale: 4M trades against 4M
    // quotes over 20k keys. Both forms pay the same two exchanges; the
    // native AsOfJoinExec merges with ONE buffered right row where the
    // window form materializes union rows + last-value window state, so
    // the expected win is time and peak-stage shuffle, at IDENTICAL output
    // (count cross-checked here; bit-equality is AsOfJoinParitySpec's job).
    val nAsof = 4000000L * mult
    val trades = spark.range(nAsof).select(
      pmod(col("id"), lit(20000)).as("k"),
      (lit(1700000000000000000L) + col("id") * 997L).as("time"),
      col("id").as("trade_id"))
    val quotes = spark.range(nAsof).select(
      pmod(col("id") * 31L, lit(20000)).as("k"),
      (lit(1700000000000000000L) + col("id") * 1009L).as("time"),
      (col("id") % 1000L).cast("double").as("px"))
    val (nNative, asofNShuffle, asofNPeak, asofNSecs) = sectionShuffle {
      graft.ops.TimeSeriesOps.asofJoinNative(trades, quotes, Seq("k"), "time")
        .filter(col("asof_px").isNotNull).count()
    }
    val (nWindow, asofWShuffle, asofWPeak, asofWSecs) = sectionShuffle {
      graft.ops.TimeSeriesOps.asofJoin(trades, quotes, Seq("k"), "time")
        .filter(col("asof_px").isNotNull).count()
    }
    require(nNative == nWindow,
      s"as-of forms disagree: native $nNative vs window $nWindow")
    println(s"""{"metric":"asof_native_scale","rows_per_side":$nAsof,""" +
      s""""matched":$nNative,"native_seconds":$asofNSecs,""" +
      s""""window_seconds":$asofWSecs,""" +
      s""""native_rows_per_sec":${(nAsof / asofNSecs).toLong},""" +
      s""""native_shuffle_bytes":$asofNShuffle,"window_shuffle_bytes":$asofWShuffle,""" +
      s""""native_peak_stage_bytes":$asofNPeak,"window_peak_stage_bytes":$asofWPeak}""")

    // ---- sentence segmentation + sentence-aware chunking over the
    // replicated corpus: the boundary regex pass is scan-side codegen, the
    // chunker adds one per-doc shuffle — throughput should sit near the
    // other single-shuffle text rewrites ----------------------------------
    val proseDocs = bigDocs.select(col("doc_id"),
      concat(upper(substring(col("text"), 1, 1)), substring(col("text"), 2, 40),
        lit(". "), upper(substring(col("text"), 8, 1)),
        substring(col("text"), 9, 30), lit("! "),
        upper(substring(col("text"), 15, 1)), substring(col("text"), 16, 50),
        lit("?")).as("text"))
    val (sentRes, _, sentPeak, sentSecs) = sectionShuffle {
      proseDocs.select(
          graft.functions.TextFunctions.sentenceStats(col("text")).as("st"))
        .agg(sum(col("st.n_sentences")), count(lit(1))).head()
    }
    println(s"""{"metric":"sentence_stats_scale","docs":$nDocs,""" +
      s""""sentences":${sentRes.getLong(0)},"seconds":$sentSecs,""" +
      s""""docs_per_sec":${(nDocs / sentSecs).toLong}}""")
    // sum(length(chunk_text)) forces the re-assembly to MATERIALIZE — a
    // bare count() would let Catalyst prune the collect_list and measure
    // only the explode+window half
    val (chunkRes, chunkShuffle, chunkPeak, chunkSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.sentenceChunks(proseDocs, "doc_id", "text",
          maxTokens = 16)
        .agg(count(lit(1)), sum(length(col("chunk_text")))).head()
    }
    println(s"""{"metric":"sentence_chunks_scale","docs":$nDocs,""" +
      s""""chunks":${chunkRes.getLong(0)},"chunk_chars":${chunkRes.getLong(1)},""" +
      s""""seconds":$chunkSecs,""" +
      s""""docs_per_sec":${(nDocs / chunkSecs).toLong},""" +
      s""""shuffle_bytes":$chunkShuffle,"peak_stage_bytes":$chunkPeak}""")

    // ---- embedding z-standardization over a replicated embedding corpus:
    // the stats pass must shuffle only dim-sized partials ------------------
    val bigVecs = spark.range(20L * mult)
      .crossJoin(spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .select((col("vec_id") + col("id") * 10000000L).as("vec_id"), col("embedding"))
    val nVecs = bigVecs.count()
    // summing a standardized element forces the scale transform to run —
    // a bare count() would prune the transformed column and measure only
    // the stats pass
    val (stdRes, stdShuffle, stdPeak, stdSecs) = sectionShuffle {
      graft.ann.Similarity.standardizeEmbeddings(bigVecs, "vec_id", "embedding")
        .agg(count(lit(1)), sum(element_at(col("embedding"), 1))).head()
    }
    require(stdRes.getLong(0) == nVecs, "standardize must preserve row count")
    println(s"""{"metric":"embed_standardize_scale","vectors":$nVecs,""" +
      s""""seconds":$stdSecs,"vecs_per_sec":${(nVecs / stdSecs).toLong},""" +
      s""""shuffle_bytes":$stdShuffle,"peak_stage_bytes":$stdPeak}""")

    // ---- real-BPE tokenization: a pure map over the corpus scan — the
    // only shuffle bytes allowed are the final count/sum partials --------
    val (bpeRes, bpeShuffle, _, bpeSecs) = sectionShuffle {
      bigDocs.select(graft.functions.Bpe.tokenCount(col("text")).as("n"))
        .agg(sum(col("n")), count(lit(1))).head()
    }
    require(bpeShuffle < 1000000L,
      s"BPE tokenization must not shuffle the corpus: $bpeShuffle bytes")
    println(s"""{"metric":"bpe_encode_scale","docs":${bpeRes.getLong(1)},""" +
      s""""bpe_tokens":${bpeRes.getLong(0)},"seconds":$bpeSecs,""" +
      s""""tokens_per_sec":${(bpeRes.getLong(0) / bpeSecs).toLong},""" +
      s""""shuffle_bytes":$bpeShuffle}""")

    // ---- C4 + encoding gates: per-row page filters, zero corpus shuffle
    val c4Pages = bigDocs.select(col("doc_id"),
      concat(substring(col("text"), 1, 30), lit(". "),
        substring(col("text"), 31, 30), lit(". "),
        substring(col("text"), 61, 40), lit(". "),
        substring(col("text"), 5, 30), lit(". "),
        substring(col("text"), 35, 30), lit(".")).as("text"))
    val (c4Res, c4Shuffle, _, c4Secs) = sectionShuffle {
      graft.functions.TextFunctions.c4Gate(c4Pages, "doc_id", "text")
        .agg(sum(when(col("pass"), 1L).otherwise(0L)), count(lit(1))).head()
    }
    require(c4Shuffle < 1000000L,
      s"C4 gate must not shuffle the corpus: $c4Shuffle bytes")
    println(s"""{"metric":"c4_gate_scale","docs":${c4Res.getLong(1)},""" +
      s""""passed":${c4Res.getLong(0)},"seconds":$c4Secs,""" +
      s""""docs_per_sec":${(c4Res.getLong(1) / c4Secs).toLong},""" +
      s""""shuffle_bytes":$c4Shuffle}""")
    val (egRes, egShuffle, _, egSecs) = sectionShuffle {
      graft.functions.TextFunctions.encodingQualityMetrics(
          bigDocs, "doc_id", "text")
        .agg(sum(when(col("clean"), 1L).otherwise(0L)), count(lit(1))).head()
    }
    require(egShuffle < 1000000L,
      s"encoding triage must not shuffle the corpus: $egShuffle bytes")
    println(s"""{"metric":"encoding_gate_scale","docs":${egRes.getLong(1)},""" +
      s""""clean":${egRes.getLong(0)},"seconds":$egSecs,""" +
      s""""docs_per_sec":${(egRes.getLong(1) / egSecs).toLong},""" +
      s""""shuffle_bytes":$egShuffle}""")

    // ---- trained language ID: all four heads' margins in ONE
    // (doc, bucket) aggregate — shuffle is bucket-partial-sized, never
    // token rows ---------------------------------------------------------
    val lidHeads = Seq("en", "de", "fr", "es").zipWithIndex.map { case (l, k) =>
      graft.trainprep.LangIdClassifier.Head(l,
        Array.tabulate(256)(b => ((b * 96769 + k * 777) % 2000) / 1000.0 - 1.0)
          .toSeq, 0.0)
    }
    val (lidRes, lidShuffle, _, lidSecs) = sectionShuffle {
      graft.trainprep.LangIdClassifier
        .scoreArgmax(bigDocs, "doc_id", "text", lidHeads)
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n"))).head()
    }
    require(lidRes.getLong(0) == nDocs, "langid must score every doc")
    println(s"""{"metric":"langid_lr_scale","docs":$nDocs,"heads":4,""" +
      s""""seconds":$lidSecs,"docs_per_sec":${(nDocs / lidSecs).toLong},""" +
      s""""shuffle_bytes":$lidShuffle}""")

    // ---- fused trainer at HIGH head count: literal-cost audit (r14) ----
    // each fused iteration embeds H × numFeatures weight literals in its
    // two aggregate plans (H typedlit arrays of 256 doubles per side);
    // the aggregates it saves are worth it only while Catalyst
    // analysis/codegen over those literals stays linear-ish in H. This
    // section measures per-iteration wall at H ∈ {8, 32, 64} on the same
    // corpus and REQUIRES the 8→64 per-iteration growth stays within
    // 12× (linear in H is 8×; a literal-analysis blowup would breach).
    // If this bound ever fails, the escape hatch is array-typed weight
    // accumulation (ONE array<array<double>> literal + a transform fold
    // instead of H scalar sum columns).
    val lidTrain = spark.range(4).crossJoin(baseDocs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"),
        col("text"))
      .localCheckpoint(true) // flat lineage across the three trainings
    val nTrain = lidTrain.count()
    val fusedIters = 2
    val hTimes = Seq(8, 32, 64).map { h =>
      val langs = (0 until h).map(k => f"h$k%02d")
      val labeled = lidTrain.withColumn("label",
        format_string("h%02d", pmod(col("doc_id"), lit(h))))
      val t = System.nanoTime()
      val heads = graft.trainprep.LangIdClassifier.trainOneVsRestFused(
        labeled, "doc_id", "text", "label", langs, numFeatures = 256,
        iters = fusedIters)
      val perIter = (System.nanoTime() - t) / 1e9 / fusedIters
      require(heads.length == h, s"trained ${heads.length} of $h heads")
      h -> perIter
    }
    val perIterJson = hTimes.map { case (h, s) => s""""h$h":$s""" }
      .mkString(",")
    require(hTimes.last._2 <= hTimes.head._2 * 12,
      s"fused per-iteration wall grew ${hTimes.last._2 / hTimes.head._2}x " +
        "from H=8 to H=64 — literal analysis is blowing up; switch the " +
        "margins aggregate to array-typed accumulation")
    lidTrain.unpersist()
    println(s"""{"metric":"langid_fused_heads_scale","docs":$nTrain,""" +
      s""""iters":$fusedIters,"per_iter_seconds":{$perIterJson},""" +
      s""""growth_8_to_64":${hTimes.last._2 / hTimes.head._2}}""")

    // ---- SFT completion-loss spans: BPE counting stays map-side; the
    // only shuffle is the per-conversation prefix-sum window, whose rows
    // are TURNS (a few small ints + a role), never text bytes ------------
    val sftConvs = bigDocs.select(col("doc_id").as("conv_id"), array(
      struct(lit("system").as("role"), lit("be concise").as("content")),
      struct(lit("user").as("role"), col("text").as("content")),
      struct(lit("assistant").as("role"),
        substring(col("text"), 1, 200).as("content"))).as("turns"))
    val nTurns = nDocs * 3
    val (sftRes, sftShuffle, _, sftSecs) = sectionShuffle {
      // max(loss_end) CONSUMES the window output — an aggregate over
      // n_tokens alone lets Catalyst prune the window (and its exchange)
      // out of the plan, and the shuffle "measurement" goes vacuous
      graft.trainprep.SftPrep.completionLossSpans(
          sftConvs, "conv_id", "turns",
          graft.functions.Bpe.tokenCount(_))
        .agg(sum(col("n_tokens")), count(lit(1)), max(col("loss_end"))).head()
    }
    require(sftRes.getLong(1) == nTurns, "spans must cover every turn")
    // bound: ~100 B/turn of window shuffle is turn-metadata-sized; text
    // at ~900 B/doc would blow this 3× over if it ever shuffled
    require(sftShuffle < nTurns * 100,
      s"span shuffle must stay turn-metadata-sized: $sftShuffle bytes " +
        s"for $nTurns turns")
    println(s"""{"metric":"sft_spans_scale","convs":$nDocs,"turns":$nTurns,""" +
      s""""span_tokens":${sftRes.getLong(0)},"seconds":$sftSecs,""" +
      s""""convs_per_sec":${(nDocs / sftSecs).toLong},""" +
      s""""shuffle_bytes":$sftShuffle,""" +
      s""""shuffle_bytes_per_turn":${sftShuffle / nTurns}}""")

    // ---- upsample-by-weight: map-side generate, ZERO shuffle; output
    // multiset tracks sum(w) to quantization ----------------------------
    val recipe = bigDocs.select(col("doc_id"),
      element_at(map(lit(0L), lit(0.0), lit(1L), lit(0.4), lit(2L), lit(1.0),
        lit(3L), lit(2.3), lit(4L), lit(3.7)), pmod(col("doc_id"), lit(5L)))
        .as("w"))
    val expectedW = recipe.agg(sum(col("w"))).head().getDouble(0)
    val (nUps, upsShuffle, _, upsSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.upsampleByWeight(recipe, "doc_id", "w")
        .count()
    }
    require(upsShuffle < 1000000L,
      s"upsampling must not shuffle: $upsShuffle bytes")
    require(math.abs(nUps - expectedW) / expectedW < 0.02,
      s"emitted copies must track sum(w): got $nUps vs ${expectedW.toLong}")
    println(s"""{"metric":"upsample_scale","docs":$nDocs,"rows_out":$nUps,""" +
      s""""expected_sum_w":${expectedW.toLong},"seconds":$upsSecs,""" +
      s""""docs_per_sec":${(nDocs / upsSecs).toLong},""" +
      s""""shuffle_bytes":$upsShuffle}""")

    // ---- no-split packing + stride interleave over the replicated corpus --
    // the two round-13 ordering operators at 100 k docs: packNoSplit's
    // shuffled records must scale with DOCS (ranks + the groupSize-bounded
    // collect rows), never tokens; strideInterleave is two rank scans +
    // a source-sized broadcast. Both require-bounded.
    val (npBins, npShuffle, _, npSecs) = sectionShuffle {
      val packed = graft.trainprep.TrainPrep.packNoSplit(
        bigDocs, "doc_id", "text", contextTokens = 4096L, groupSize = 4096)
      graft.trainprep.TrainPrep.packNoSplitReport(packed, 4096L).count()
    }
    // measured 2.6 MB at 100 k docs — (id, len) ranks + the bounded group
    // structs; the corpus's ~35 MB of text bodies would blow straight
    // through this bound if a stage started shuffling them
    require(npShuffle < 8L * 1024 * 1024,
      s"packNoSplit shuffled $npShuffle bytes — text is moving")
    require(npBins > 0, "packNoSplit must have produced bins")
    // FFD comparison (r14): same corpus, orderBy = lengthDesc — true
    // first-fit-decreasing inside each bounded group. FFD ≤ next-fit is
    // NOT a per-instance theorem (FFD's guarantee is 11/9·OPT+6/9; a
    // lucky id order can beat it on a contrived instance — review
    // finding), so the require carries 5% slack: it exists to catch an
    // implementation regression (FFD degenerating to next-fit or worse),
    // not to assert a theorem the literature doesn't offer. On realistic
    // length spreads FFD wins comfortably (−18.9% padding on this
    // corpus, README table).
    val padOf = (orderBy: String) =>
      graft.trainprep.TrainPrep.packNoSplitReport(
        graft.trainprep.TrainPrep.packNoSplit(bigDocs, "doc_id", "text",
          contextTokens = 4096L, groupSize = 4096, orderBy = orderBy), 4096L)
        .agg(sum(col("pad")).as("p"), count(lit(1)).as("b"))
        .head()
    val idRep = padOf("id")
    val (ffdRep, ffdShuffle, _, ffdSecs) = sectionShuffle { padOf("lengthDesc") }
    require(ffdShuffle < 8L * 1024 * 1024,
      s"FFD pack shuffled $ffdShuffle bytes — text is moving")
    require(ffdRep.getLong(0) <= idRep.getLong(0) * 1.05,
      s"FFD padding ${ffdRep.getLong(0)} exceeds next-fit " +
        s"${idRep.getLong(0)} by more than the 5% instance slack — " +
        "the FFD fold has regressed")
    println(s"""{"metric":"pack_ffd_scale","docs":$nDocs,""" +
      s""""nextfit_pad_tokens":${idRep.getLong(0)},""" +
      s""""nextfit_bins":${idRep.getLong(1)},""" +
      s""""ffd_pad_tokens":${ffdRep.getLong(0)},""" +
      s""""ffd_bins":${ffdRep.getLong(1)},""" +
      s""""ffd_seconds":$ffdSecs,"ffd_shuffle_bytes":$ffdShuffle}""")
    val (mixCount, mixRecsB, _, mixSecs) = sectionShuffle {
      graft.trainprep.TrainPrep.strideInterleave(
        bigDocs.withColumn("source",
          concat(lit("s"), pmod(col("doc_id"), lit(16)).cast("string")))
          .withColumn("w", lit(1.0) + pmod(length(col("text")), lit(5))),
        "doc_id", "source", "w").count()
    }
    require(mixCount == nDocs, s"interleave lost docs: $mixCount")
    // measured 1.7 MB: two (id, source, w, rank) scans — same text alarm
    require(mixRecsB < 8L * 1024 * 1024,
      s"strideInterleave shuffled $mixRecsB bytes — text is moving")
    println(s"""{"metric":"pack_interleave_scale","docs":$nDocs,""" +
      s""""pack_bins":$npBins,"pack_seconds":$npSecs,""" +
      s""""pack_shuffle_bytes":$npShuffle,""" +
      s""""interleave_seconds":$mixSecs,""" +
      s""""interleave_shuffle_bytes":$mixRecsB,""" +
      s""""docs_per_sec":${(nDocs / mixSecs).toLong}}""")

    // ---- classifier-eval sweep at 1 M FULLY DISTINCT scores: the PR
    // curve's worst case (threshold axis = data-sized) — the point of the
    // bucketed cumulative is that this still never plans a
    // single-partition window. Positives planted at high scores so the
    // AUC is a strong-signal number, not noise --------------------------
    val nEval = 1000000L * mult
    val evalScored = spark.range(nEval).select(
      (col("id").cast("double") / nEval).as("s"),
      (pmod(col("id"), lit(4)) === 0 || col("id") >= nEval * 4 / 5).as("y"))
    val (sweepLast, sweepShuffle, _, sweepSecs) = sectionShuffle {
      graft.eval.EvalMetrics.prSweep(evalScored, "y", "s")
        .orderBy(col("threshold").asc).limit(1)
        .select("tp", "fp", "recall").head()
    }
    // inclusion-exclusion: id%4 hits + the top-fifth tail − their overlap
    val nPos = nEval / 4 + nEval / 5 - nEval / 20
    // at the minimum threshold everything is predicted positive: the
    // sweep's last row must close the books exactly
    require(sweepLast.getLong(0) == nPos && sweepLast.getDouble(2) == 1.0,
      s"sweep must end at tp = P: got $sweepLast, expected tp=$nPos")
    require(sweepLast.getLong(0) + sweepLast.getLong(1) == nEval,
      "tp + fp at the floor threshold must cover every row")
    require(sweepShuffle < nEval * 120,
      s"PR sweep shuffled $sweepShuffle bytes for $nEval rows — the " +
        "distinct-score frame is being moved more than the 2-pass scan needs")
    val (aucRow, aucShuffle, _, aucSecs) = sectionShuffle {
      graft.eval.EvalMetrics.rocAuc(evalScored, "y", "s").head()
    }
    require(aucRow.getLong(0) == nPos, "AUC must see every positive")
    require(aucRow.getDouble(2) > 0.7,
      s"planted high-score positives must dominate the ranking: $aucRow")
    require(aucShuffle < nEval * 120,
      s"AUC shuffled $aucShuffle bytes for $nEval rows")
    println(s"""{"metric":"eval_sweep_scale","rows":$nEval,""" +
      s""""distinct_thresholds":$nEval,"n_pos":$nPos,""" +
      s""""auc":${aucRow.getDouble(2)},""" +
      s""""sweep_seconds":$sweepSecs,"auc_seconds":$aucSecs,""" +
      s""""rows_per_sec":${(nEval / sweepSecs).toLong},""" +
      s""""sweep_shuffle_bytes":$sweepShuffle,""" +
      s""""auc_shuffle_bytes":$aucShuffle}""")

    // ---- file-lake MERGE upsert: the K2 copy-on-write sink at a fleet-
    // sized lake — 120 date partitions × 500 stations × 96 steps/day
    // (5.76 M rows). The claim that makes the lake the 100 TB fcst store:
    // a daily re-extraction (point upsert, one date) rewrites ONE
    // partition and reads/moves NOTHING else — work scales with the
    // update's date span, never the lake. require'd, not asserted. ------
    val lakeDays = 120
    val lakeStations = 500
    val stepsPerDay = 96
    val lakeDir = java.nio.file.Files
      .createTempDirectory("scale_lake").toString + "/lake"
    val dayUs = 86400000000L
    // id decomposes as (day, station, step) — div/mod, NOT two mods
    // (id%500 with id%96 would repeat every lcm and duplicate keys)
    val lakeRows = spark.range(lakeDays.toLong * lakeStations * stepsPerDay)
      .select(
        concat(lit("wl_"),
          pmod(floor(col("id") / stepsPerDay), lit(lakeStations))
            .cast("long").cast("string")).as("tms_id"),
        lit("2024-01-01 00:00:00").as("fgt"),
        date_format(timestamp_micros(lit(startUs)
          + floor(col("id") / (lakeStations * stepsPerDay)).cast("long") * dayUs
          + pmod(col("id"), lit(stepsPerDay)).cast("long") * 900000000L),
          "yyyy-MM-dd HH:mm:ss").as("time"),
        rand(7).as("value"))
    val lakeInit = graft.io.LakeMerge.withPartDate(lakeRows)
    val t70 = System.nanoTime()
    graft.io.LakeMerge.writeLake(lakeInit, lakeDir)
    val lakeWriteSecs = (System.nanoTime() - t70) / 1e9
    // the daily cron overlap: day 60 re-extracted with corrected values
    val pointDay = "2024-02-29"
    val pointUpdates = graft.io.LakeMerge.withPartDate(
      spark.range(lakeStations.toLong * stepsPerDay).select(
        concat(lit("wl_"),
          floor(col("id") / stepsPerDay).cast("long").cast("string")).as("tms_id"),
        lit("2024-01-01 00:00:00").as("fgt"),
        date_format(timestamp_micros(lit(graft.model.SlTime.microsOf(
          pointDay + " 00:00:00"))
          + pmod(col("id"), lit(stepsPerDay)).cast("long") * 900000000L),
          "yyyy-MM-dd HH:mm:ss").as("time"),
        lit(0.5).as("value")))
    val (mergeStats, mergeShuffle, _, mergeSecs) = sectionShuffle {
      graft.io.LakeMerge.merge(spark, lakeDir, pointUpdates)
    }
    require(mergeStats.partitionsRewritten == 1
      && mergeStats.partitionsTotal == lakeDays,
      s"point upsert must rewrite 1 of $lakeDays partitions: $mergeStats")
    require(mergeStats.rowsInserted == 0
      && mergeStats.rowsUpdated == lakeStations.toLong * stepsPerDay,
      s"day re-extraction must be pure in-place updates: $mergeStats")
    // rewrite work bound: the anti-join + staging write shuffles the ONE
    // affected partition (48 k rows ≈ tens of bytes each) plus the
    // broadcast batch — never the 120-day lake
    require(mergeShuffle < 64L * 1024 * 1024,
      s"point merge shuffled $mergeShuffle bytes — the lake is being moved")

    // ---- lake maintenance: small-file compaction (E171) -----------------
    // the OPTIMIZE pass over the same lake: every date partition carries 4
    // series-hashed files whose ideal at this partition size is 1; ONE
    // bounded maintenance run (maxPartitions = 10) drains exactly the 10
    // worst offenders and touches nothing else — compaction work scales
    // with the knob, never the lake, and rows ride through bit-identical
    val t72 = System.nanoTime()
    val compactLakeStats = graft.io.LakeMerge.compactPartitions(spark,
      lakeDir, targetFileBytes = 256L * 1024 * 1024, maxPartitions = 10)
    val compactLakeSecs = (System.nanoTime() - t72) / 1e9
    require(compactLakeStats.partitionsCompacted == 10
      && compactLakeStats.partitionsTotal == lakeDays,
      s"a bounded run must compact exactly maxPartitions: $compactLakeStats")
    require(compactLakeStats.filesAfter <= compactLakeStats.filesBefore - 30,
      s"10 partitions at 4→1 files must drop ≥30 files: $compactLakeStats")
    require(graft.io.LakeMerge.readLake(spark, lakeDir).count()
      == lakeDays.toLong * lakeStations * stepsPerDay,
      "compaction must preserve every row exactly once")
    println(s"""{"metric":"lake_compact_scale","days":$lakeDays,""" +
      s""""compacted":${compactLakeStats.partitionsCompacted},""" +
      s""""files_before":${compactLakeStats.filesBefore},""" +
      s""""files_after":${compactLakeStats.filesAfter},""" +
      s""""compact_seconds":$compactLakeSecs}""")

    // ---- change data feed capture (E172) ---------------------------------
    // the SAME day re-extracted with capture on: the published feed is
    // pre+post images of the one affected partition (96 k rows), and the
    // capture's extra cost stays partition-bounded — the 100 TB contract
    // that lets every downstream incremental consumer read the feed's few
    // commits instead of re-diffing the lake
    val pointUpdates2 = pointUpdates.withColumn("value", lit(0.25))
    val (cdfStats, cdfShuffle, _, cdfSecs) = sectionShuffle {
      graft.io.LakeMerge.merge(spark, lakeDir, pointUpdates2,
        captureChanges = true)
    }
    require(cdfStats.partitionsRewritten == 1
      && cdfStats.rowsInserted == 0,
      s"captured re-extraction must stay a one-partition update: $cdfStats")
    val cdfRows = graft.io.LakeMerge.readChanges(spark, lakeDir).count()
    require(cdfRows == 2L * lakeStations * stepsPerDay,
      s"feed must carry pre+post images of the day, got $cdfRows")
    require(cdfShuffle < 96L * 1024 * 1024,
      s"CDC capture shuffled $cdfShuffle bytes — must stay partition-bounded")
    println(s"""{"metric":"lake_cdf_scale","feed_rows":$cdfRows,""" +
      s""""merge_seconds":$cdfSecs,"merge_shuffle_bytes":$cdfShuffle}""")

    // ---- time travel (E173) ----------------------------------------------
    // one more point re-extraction, this time with retention: the
    // snapshot BEFORE it reads the 119 untouched partitions live (one
    // rooted scan) plus the one retained pre-image — snapshot cost is
    // O(touched history), never a lake copy — and vacuum bounds the
    // horizon loudly
    val pointUpdates3 = pointUpdates.withColumn("value", lit(0.75))
    graft.io.LakeMerge.merge(spark, lakeDir, pointUpdates3,
      retainHistory = true) // commit seq 0
    val t73 = System.nanoTime()
    val snap = graft.io.LakeTimeTravel.readLakeAsOf(spark, lakeDir, -1L)
    val snapOld = snap.filter(col("part_date") === pointDay
      && col("value") === 0.25).count()
    val snapSecs = (System.nanoTime() - t73) / 1e9
    require(snapOld == lakeStations.toLong * stepsPerDay,
      s"the pre-merge snapshot must read the retained pre-image, got $snapOld")
    require(graft.io.LakeMerge.readLake(spark, lakeDir)
      .filter(col("part_date") === pointDay && col("value") === 0.75).count()
      == lakeStations.toLong * stepsPerDay,
      "the live lake must hold the retained merge's values")
    require(graft.io.LakeTimeTravel.vacuum(spark, lakeDir, oldestAsOf = 0L) == 1,
      "vacuum must drop exactly the one retained pre-image")
    val ttRefused =
      try {
        graft.io.LakeTimeTravel.readLakeAsOf(spark, lakeDir, -1L).count(); false
      } catch {
        case e: IllegalStateException => e.getMessage.contains("vacuumed")
      }
    require(ttRefused, "a vacuumed snapshot must refuse loudly, not improvise")
    println(s"""{"metric":"lake_time_travel_scale","days":$lakeDays,""" +
      s""""snapshot_read_seconds":$snapSecs,"history_partitions":1}""")

    // ---- keyed delete (E174) + feed-driven agg maintenance (E175) --------
    // the GDPR purge: one station's day, purge batch ASSERTING its
    // partition — exactly 1 of 120 partitions rewritten, shuffle bounded
    // by that partition (never the lake). The captured delete feed then
    // maintains a per-station aggregate: fold cost rides the 96-row FEED
    // into the 500-group table, and equals the direct recompute of the
    // post-purge lake (the IVM contract that retires the per-publish
    // full-scan tax).
    val aggMeasures = Seq("v_sum" -> (col("value") * 1000).cast("long"))
    val agg0 = graft.io.FeedMaintain.snapshotAgg(
      graft.io.LakeMerge.readLake(spark, lakeDir), Seq("tms_id"), aggMeasures)
      .localCheckpoint(true)
    val purgeBatch = pointUpdates3
      .filter(col("tms_id") === "wl_0")
      .select("tms_id", "fgt", "time", "part_date")
    val (delStats, delShuffle, _, delSecs) = sectionShuffle {
      graft.io.LakeMerge.delete(spark, lakeDir, purgeBatch,
        captureChanges = true)
    }
    require(delStats.partitionsAffected == 1
      && delStats.partitionsTotal == lakeDays
      && delStats.rowsDeleted == stepsPerDay,
      s"asserted-partition purge must rewrite 1 of $lakeDays: $delStats")
    require(delShuffle < 64L * 1024 * 1024,
      s"purge shuffled $delShuffle bytes — the lake is being moved")
    val delFeed = graft.io.LakeMerge.readChanges(spark, lakeDir, sinceSeq = 0L)
    val (maintained, maintainShuffle, _, maintainSecs) = sectionShuffle {
      graft.io.FeedMaintain.maintain(agg0, delFeed, Seq("tms_id"),
        aggMeasures).localCheckpoint(true)
    }
    val direct = graft.io.FeedMaintain.snapshotAgg(
      graft.io.LakeMerge.readLake(spark, lakeDir), Seq("tms_id"), aggMeasures)
    require(maintained.count() == direct.count()
      && maintained.unionByName(direct).distinct().count() == direct.count(),
      "feed-maintained aggregate must equal the direct recompute exactly")
    // the fold's shuffle is feed+groups-sized: 96 feed rows + 500 groups
    require(maintainShuffle < 4L * 1024 * 1024,
      s"maintenance fold shuffled $maintainShuffle bytes — it is re-" +
        "scanning the lake instead of riding the feed")
    maintained.unpersist(); agg0.unpersist()
    println(s"""{"metric":"lake_delete_scale","purged_rows":$stepsPerDay,""" +
      s""""delete_seconds":$delSecs,"delete_shuffle_bytes":$delShuffle,""" +
      s""""maintain_seconds":$maintainSecs,""" +
      s""""maintain_shuffle_bytes":$maintainShuffle}""")

    // ---- embedding lake grown by APPEND: frozen-codebook ingest ---------
    // 200 k vectors written once, 20 k appended against the PERSISTED
    // codebook (ingest = one map pass, no retrain, files only added);
    // the probe on the grown lake still partition-prunes, and equals the
    // probe over a full rebuild with the same codebook — require'd.
    val embDim = 32
    val nEmbLake = 200000L
    val nAppend = 20000L
    def synthVecs(lo: Long, n: Long, shift: Double) = {
      // deterministic per-id floats: k hash-derived values in [-1, 1)
      val hv = (k: Int) => (pmod(xxhash64(col("id") * 97 + k), lit(2000000))
        .cast("double") / 1000000.0 - 1.0 + shift).cast("float")
      spark.range(lo, lo + n).select(col("id").as("vec_id"),
        array((0 until embDim).map(hv): _*).as("embedding"))
    }
    val embLakeDir = java.nio.file.Files
      .createTempDirectory("scale_emb_lake").toString + "/emb"
    val embRebuildDir = java.nio.file.Files
      .createTempDirectory("scale_emb_rebuild").toString + "/emb"
    val t80 = System.nanoTime()
    val embCodebook = graft.io.EmbeddingLake.writePartitioned(
      synthVecs(0, nEmbLake, 0.0), "vec_id", "embedding", embLakeDir,
      nCentroids = 16, kmeansIters = 1)
    val embInitSecs = (System.nanoTime() - t80) / 1e9
    // drift baseline at training time, BEFORE any append — eagerly
    // materialized (cell-count-sized), else the lazy plan would re-read
    // the lake post-append and the comparison would be vacuous
    val embBaseline = graft.io.EmbeddingLake.driftReport(
      spark, embLakeDir, "embedding", embCodebook).localCheckpoint(true)
    val (_, appendShuffle, _, appendSecs) = sectionShuffle {
      graft.io.EmbeddingLake.append(
        synthVecs(nEmbLake, nAppend, 0.0), "embedding", embLakeDir, embCodebook)
    }
    // append is a pure map over the batch: assignment + partitioned write,
    // no corpus shuffle beyond the write's own partitioning
    require(appendShuffle < 32L * 1024 * 1024,
      s"append shuffled $appendShuffle bytes — ingest is re-reading the lake")
    val embQuery = (0 until embDim).map(k =>
      (((5 * 97 + k) % 1000) / 500.0 - 1.0).toFloat)
    val (probeIds, _, _, probeSecs) = sectionShuffle {
      graft.io.EmbeddingLake.probeTopK(spark, embLakeDir, embCodebook,
          "vec_id", "embedding", embQuery, k = 10, nProbe = 4)
        .collect().map(_.getLong(0)).toSeq
    }
    val grownProbe = graft.io.EmbeddingLake.probeTopK(spark, embLakeDir,
      embCodebook, "vec_id", "embedding", embQuery, k = 10, nProbe = 4)
    val embFilesAll = graft.io.EmbeddingLake.filesRead(
      graft.io.EmbeddingLake.read(spark, embLakeDir))
    val embFilesProbe = graft.io.EmbeddingLake.filesRead(grownProbe)
    require(embFilesProbe * 2 <= embFilesAll,
      s"grown-lake probe read $embFilesProbe of $embFilesAll files — " +
        "appends broke partition pruning")
    // rebuild with the SAME frozen codebook → identical probe answers
    graft.ann.Similarity.withIvfCell(
        synthVecs(0, nEmbLake + nAppend, 0.0), "embedding", embCodebook)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(embRebuildDir)
    val rebuiltIds = graft.io.EmbeddingLake.probeTopK(spark, embRebuildDir,
        embCodebook, "vec_id", "embedding", embQuery, k = 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    require(probeIds == rebuiltIds,
      s"append-grown lake diverged from rebuild: $probeIds vs $rebuiltIds")
    // drift stays calm on in-distribution appends (same generator): the
    // post-append report against the pre-append baseline flags nothing
    val embCurrent = graft.io.EmbeddingLake.driftReport(
      spark, embLakeDir, "embedding", embCodebook)
    val embCalm = graft.io.EmbeddingLake.retrainAdvice(
        embBaseline, embCurrent, growthThreshold = 1.5)
      .filter(col("retrain")).count()
    require(embCalm == 0L,
      "in-distribution appends must not demand a retrain")
    println(s"""{"metric":"embedding_lake_append_scale","vectors":$nEmbLake,""" +
      s""""appended":$nAppend,"init_seconds":$embInitSecs,""" +
      s""""append_seconds":$appendSecs,"append_shuffle_bytes":$appendShuffle,""" +
      s""""probe_seconds":$probeSecs,"files_probed":$embFilesProbe,""" +
      s""""files_total":$embFilesAll}""")

    // ---- drift-driven cell compact: rewrite ≪ total -------------------
    // 10 k out-of-distribution vectors (all dims shifted) pile into the
    // few cells nearest the shifted mass; retrainAdvice flags exactly
    // those, and compactCells rewrites ONLY them — the 100 TB contract is
    // that a drift repair touches the drifted fraction of the lake, never
    // the lake
    val nDrift = 10000L
    graft.io.EmbeddingLake.append(
      synthVecs(nEmbLake + nAppend, nDrift, 3.0), "embedding",
      embLakeDir, embCodebook)
    val embFlagged = graft.io.EmbeddingLake.retrainAdvice(embBaseline,
        graft.io.EmbeddingLake.driftReport(
          spark, embLakeDir, "embedding", embCodebook))
      .filter(col("retrain")).select("ivf_cell")
      .collect().map(_.getInt(0)).toSeq.sorted
    require(embFlagged.nonEmpty && embFlagged.length * 4 <= 16,
      s"the shifted mass must flag a small cell subset, got $embFlagged")
    val t81 = System.nanoTime()
    val (compactCb, compactStats) = graft.io.EmbeddingLake.compactCells(
      spark, embLakeDir, "vec_id", "embedding", embCodebook, embFlagged,
      splitInto = 2, kmeansIters = 1)
    val compactSecs = (System.nanoTime() - t81) / 1e9
    require(compactStats.partitionsRewritten == embFlagged.length
      && compactStats.partitionsRewritten * 4 <= compactStats.partitionsTotal,
      s"compact must rewrite only the flagged cells: $compactStats")
    require(graft.io.EmbeddingLake.read(spark, embLakeDir).count()
      == nEmbLake + nAppend + nDrift,
      "compact must preserve every row exactly once")
    val postProbe = graft.io.EmbeddingLake.probeTopK(spark, embLakeDir,
      compactCb, "vec_id", "embedding", embQuery, k = 10, nProbe = 4)
    postProbe.collect()
    require(graft.io.EmbeddingLake.filesRead(postProbe) * 2 <=
      graft.io.EmbeddingLake.filesRead(
        graft.io.EmbeddingLake.read(spark, embLakeDir)),
      "post-compact probes must still partition-prune")
    println(s"""{"metric":"embedding_lake_compact_scale",""" +
      s""""drift_vectors":$nDrift,"flagged_cells":${embFlagged.length},""" +
      s""""partitions_rewritten":${compactStats.partitionsRewritten},""" +
      s""""partitions_total":${compactStats.partitionsTotal},""" +
      s""""cells_added":${compactStats.cellsAdded},""" +
      s""""rows_reassigned":${compactStats.rowsReassigned},""" +
      s""""compact_seconds":$compactSecs}""")

    println(s"""{"metric":"lake_merge_scale","days":$lakeDays,""" +
      s""""rows":${lakeDays.toLong * lakeStations * stepsPerDay},""" +
      s""""init_write_seconds":$lakeWriteSecs,""" +
      s""""point_update_rows":${mergeStats.rowsUpserted},""" +
      s""""partitions_rewritten":${mergeStats.partitionsRewritten},""" +
      s""""partitions_total":${mergeStats.partitionsTotal},""" +
      s""""merge_seconds":$mergeSecs,""" +
      s""""merge_shuffle_bytes":$mergeShuffle}""")
    spark.stop()
  }
}
