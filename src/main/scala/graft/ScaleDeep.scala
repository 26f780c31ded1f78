package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deep scale validation of the two heaviest dedup/selection stages at
  * 1 M+ docs (10× the ScaleSmoke corpus) — `sbt "runMain graft.ScaleDeep"`.
  *
  * The corpus is SYNTHETIC-UNIQUE, not replicated: ScaleSmoke's 20×
  * replication is right for keeper pipelines (exact-digest collapse eats
  * the clones first) but wrong for containment, where a 200-clone group
  * would make every posting a clique. Here doc i is 40 pseudo-random
  * tokens keyed by hash(seed, j) over a 50 k-word vocabulary — shingles
  * are effectively unique — and every 4th doc is a PLANTED true-prefix
  * sub-document of its predecessor (30 tokens, containment 1.0; short
  * enough to be a true sub, long enough that a single 27-char 4-gram
  * cannot exceed the repetition gate's 0.16 char-fraction — the e2e
  * section needs every doc to pass the gate deterministically), so the
  * candidate population is known by construction: ~250 k true pairs in
  * 1 M docs, and the expected survivor count is exact (subs drop, all
  * else survives).
  *
  * What is measured per section, via `graft.obs.SparkWork.measure`:
  * shuffle RECORDS and bytes written (the rows-shuffled evidence the
  * README table quotes), peak single-stage bytes, wall seconds. The
  * claims under test:
  *
  *  - containmentDrop shuffles O(posting entries + candidate pairs)
  *    rows — a small constant × the 38 M shingle occurrences, never
  *    docs × docs and never text bodies (records × ~24 B ≈ bytes);
  *  - dsirSelect shuffles O(vocabulary × partitions + docs) rows — the
  *    ~318 M exploded character trigrams collapse in map-side partial
  *    aggregation (char-trigram vocab here is ~10³), so shuffled records
  *    sit ORDERS below trigram occurrences.
  */
object ScaleDeep {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def section[T](f: => T): (T, Long, Long, Long, Double) = {
      val (r, w) = graft.obs.SparkWork.measure(spark)(f)
      (r, w.shuffleWriteRecords, w.shuffleWriteBytes, w.peakStageShuffleWrite, w.seconds)
    }

    val nDocs = 1000000L * mult
    val vocab = 50000
    val supTokens = 40
    val subTokens = 30
    // doc i: every 4th doc (i % 4 == 1) reuses its predecessor's seed and
    // takes only the first `subTokens` tokens — a true-prefix sub-document
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(4)) === 1, col("id") - 1).otherwise(col("id"))
          .as("seed"),
        when(pmod(col("id"), lit(4)) === 1, lit(subTokens)).otherwise(lit(supTokens))
          .as("len"))
      .select(col("doc_id"), concat_ws(" ",
        transform(sequence(lit(1), col("len")),
          j => concat(lit("w"), pmod(hash(col("seed"), j), lit(vocab))
            .cast("string")))).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val built = docs.count()
    val expectedSubs = (1L until nDocs).count(_ % 4 == 1) // planted sub-docs

    // ---- containmentDrop at 1 M docs --------------------------------------
    val obs = org.apache.spark.sql.Observation("scale_deep_posting")
    val (survivors, cRecs, cBytes, cPeak, cSecs) = section {
      graft.dedup.Dedup.containmentDrop(docs, "doc_id", "text",
        threshold = 0.9, shingleTokens = 3, oversizeObs = Some(obs)).count()
    }
    val postings = obs.get
    println(s"""{"metric":"containment_drop_1m","docs":$built,""" +
      s""""planted_subs":$expectedSubs,"survivors":$survivors,""" +
      s""""shuffle_records":$cRecs,"shuffle_mb":${cBytes / 1000000},""" +
      s""""peak_stage_mb":${cPeak / 1000000},"seconds":$cSecs,""" +
      s""""dropped_postings":${postings("dropped_buckets")},""" +
      s""""max_posting":${postings("max_bucket")}}""")
    require(survivors == built - expectedSubs,
      s"expected ${built - expectedSubs} survivors (all but planted subs), got $survivors")
    // rows-shuffled bound: postings ≈ docs×(tokens−2) flow through a
    // bounded number of exchanges; 6× covers dfreq + posting join +
    // prefix window + candidate join + two verify joins with headroom
    val shingleOccurrences = (nDocs / 4) * 3 * (supTokens - 2) +
      (nDocs / 4) * (subTokens - 2)
    require(cRecs < 6L * shingleOccurrences,
      s"containment shuffled $cRecs records — more than 6x the " +
        s"$shingleOccurrences posting entries; a doc×doc or text-bearing " +
        "shuffle has crept in")

    // ---- dsirSelect at 1 M docs -------------------------------------------
    val target = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val (top, dRecs, dBytes, dPeak, dSecs) = section {
      graft.trainprep.TrainPrep.dsirSelect(docs, target, "doc_id", "text",
        k = 1000).count()
    }
    println(s"""{"metric":"dsir_select_1m","docs":$built,""" +
      s""""target_docs":${nDocs / 97 + 1},"selected":$top,""" +
      s""""shuffle_records":$dRecs,"shuffle_mb":${dBytes / 1000000},""" +
      s""""peak_stage_mb":${dPeak / 1000000},"seconds":$dSecs}""")
    require(top == 1000L, s"dsirSelect must return k rows, got $top")
    // the raw corpus explodes to ~docs×(chars−2) trigram rows; partial
    // aggregation must collapse them BEFORE the exchange — shuffled
    // records may scale with docs (per-doc score partials) but never with
    // trigram occurrences
    val trigramOccurrences = nDocs * 200L // conservative lower bound
    require(dRecs < trigramOccurrences / 10,
      s"dsirSelect shuffled $dRecs records — within 10x of the raw " +
        s"trigram stream (~$trigramOccurrences); map-side collapse is broken")

    // ---- CorpusPrep END-TO-END at 1 M docs --------------------------------
    // The stages above are scale-validated individually; this composes the
    // realistic pipeline (gate → rewrite → near-dedup → containment →
    // pack-chunk → export) and measures BOTH shapes:
    //  - STAGE-WISE: each stage runs alone with parquet handoffs — exact
    //    per-stage wall + shuffle-record attribution;
    //  - COMPOSED: one CorpusPrep.run call with the same flags — the lazy
    //    whole-pipeline plan the CLI actually executes.
    // The composed run must not shuffle materially more than the stage sum
    // (a blow-up there means a stage re-executes its upstream per action —
    // the repeated-text-scan composition hazard this section exists to
    // measure; inter-stage parquet I/O is NOT shuffle, so the stage-wise
    // records are the pipeline's true shuffle floor).
    //
    // Population semantics are known by construction: every doc passes the
    // repetition gate (unique pseudo-random tokens, single line), PII
    // redaction and paragraph structure are no-ops, near-dedup verifies
    // no pair at 0.8 (sub↔sup Jaccard is 0.75), and containment drops
    // exactly the planted sub-docs — so docs_out is exact, and every
    // stage's cost is measured at its honest 1 M-doc price.
    val e2eDir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val inDir = s"$e2eDir/in"
    docs.write.mode("overwrite").parquet(inDir)

    def stageRow(name: String, recs: Long, mb: Long, secs: Double,
        rows: Long): Unit =
      println(s"""{"metric":"corpus_prep_stage","stage":"$name",""" +
        s""""rows_out":$rows,"shuffle_records":$recs,"shuffle_mb":$mb,""" +
        s""""seconds":$secs}""")

    var stageRecsTotal = 0L
    def runStage(name: String, inPath: String, outPath: String)
        (f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
      val (rows, recs, bytes, _, secs) = section {
        val in = spark.read.parquet(inPath)
        f(in).write.mode("overwrite").parquet(outPath)
        spark.read.parquet(outPath).count()
      }
      stageRecsTotal += recs
      stageRow(name, recs, bytes / 1000000, secs, rows)
      rows
    }

    val rows1 = runStage("repetition_gate", inDir, s"$e2eDir/s1") { d =>
      val passers = graft.functions.TextFunctions
        .repetitionGate(d, "doc_id", "text")
        .filter(col("pass")).select(col("doc_id"))
      d.join(passers, Seq("doc_id"), "left_semi")
    }
    require(rows1 == built, s"every synthetic doc passes the gate: $rows1")
    // gate units: 1 marker + 1 line + Σ n-gram shingles per doc; three
    // count-sized shuffles (count agg, rank window, per-doc agg) plus the
    // keep semi-join — bound 5× units
    def unitsPerDoc(t: Int) = 2 + (t - 1) + (t - 2) + (t - 3)
    val gateUnits = (nDocs * 3 / 4) * unitsPerDoc(supTokens) +
      (nDocs / 4) * unitsPerDoc(subTokens)
    require(stageRecsTotal < 5L * gateUnits,
      s"repetition gate shuffled $stageRecsTotal — over 5x its $gateUnits units")

    val rows2 = runStage("redact_pii", s"$e2eDir/s1", s"$e2eDir/s2") { d =>
      d.withColumn("text", graft.trainprep.TrainPrep.redactPii(col("text")))
    }
    require(rows2 == built, s"redaction rewrites, never drops: $rows2")

    val recsBeforeNear = stageRecsTotal
    // banding via lshPlan(16, 0.8) = (4 bands, 4 rows): the default 2-row
    // band key proved too weak for 30-40-token docs over a 50 k vocab —
    // random band collisions made candidate pairs grow ~n^2 (measured
    // 18 -> 41 -> 67 shuffle records/doc at 0.2/1/2 M docs); the 4-row
    // key is similarity-driven (measured 14.5 records/doc at 1 M, linear)
    val rows3 = runStage("dedup_near", s"$e2eDir/s2", s"$e2eDir/s3") { d =>
      val keepers = graft.dedup.Dedup.nearDupKeepersRowwise(d, "doc_id", "text",
        numHashes = 16, rowsPerBand = 4, threshold = 0.8)
      d.join(keepers.filter(col("doc_id") === col("keeper_id"))
        .select(col("doc_id")), Seq("doc_id"))
    }
    require(rows3 == built,
      s"no synthetic pair verifies at 0.8 (sub-sup Jaccard is 0.75): $rows3")
    require(stageRecsTotal - recsBeforeNear < 20L * nDocs,
      "near-dedup must shuffle signatures/bands, never tokens: " +
        s"${stageRecsTotal - recsBeforeNear}")

    val recsBeforeContain = stageRecsTotal
    val rows4 = runStage("containment_drop", s"$e2eDir/s3", s"$e2eDir/s4") { d =>
      graft.dedup.Dedup.containmentDrop(d, "doc_id", "text", threshold = 0.9)
    }
    require(rows4 == built - expectedSubs,
      s"containment drops exactly the planted subs: $rows4")
    require(stageRecsTotal - recsBeforeContain < 6L * shingleOccurrences,
      s"containment stage shuffled ${stageRecsTotal - recsBeforeContain}")

    val recsBeforePack = stageRecsTotal
    val rows5 = runStage("pack_chunks", s"$e2eDir/s4", s"$e2eDir/s5") { d =>
      graft.trainprep.TrainPrep.packChunks(d, "doc_id", "text", 4096L)
    }
    require(rows5 == rows4, "pack emits one assignment row per doc")
    require(stageRecsTotal - recsBeforePack < 6L * nDocs,
      s"pack stage shuffled ${stageRecsTotal - recsBeforePack} — the " +
        "bucketed prefix sum is docs-linear")

    val (_, expRecs, expBytes, _, expSecs) = section {
      spark.read.parquet(s"$e2eDir/s5").repartition(32, col("doc_id"))
        .write.mode("overwrite").json(s"$e2eDir/export")
    }
    stageRecsTotal += expRecs
    stageRow("export_jsonl", expRecs, expBytes / 1000000, expSecs, rows5)

    // composed: the CLI's own lazy single-plan execution with equal flags
    val (stats, compRecs, compBytes, _, compSecs) = section {
      graft.cli.CorpusPrep.run(spark, Map(
        "in" -> inDir, "out" -> s"$e2eDir/cli",
        "repetition-gate" -> "true", "redact" -> "true",
        "dedup" -> "near", "dedup-hashes" -> "16",
        "dedup-rows-per-band" -> "4", "containment-dedup" -> "0.9",
        "chunk-mode" -> "pack", "budget" -> "4096",
        "export-jsonl" -> "none", "export-shards" -> "32"))
    }
    println(s"""{"metric":"corpus_prep_e2e_1m","docs":$built,""" +
      s""""docs_out":${stats("docs_out")},"chunks":${stats("chunks")},""" +
      s""""stage_sum_records":$stageRecsTotal,""" +
      s""""composed_records":$compRecs,""" +
      s""""composed_mb":${compBytes / 1000000},""" +
      s""""composed_seconds":$compSecs}""")
    require(stats("docs_out") == built - expectedSubs,
      s"composed pipeline must agree with the stage-wise population: " +
        s"${stats("docs_out")} vs ${built - expectedSubs}")
    // composition hazard bound: the one-plan run may recompute upstream
    // operators across its handful of actions (stats counts + the write),
    // but must stay within 2x the honest stage-sum shuffle floor
    require(compRecs < 2L * stageRecsTotal,
      s"composed run shuffled $compRecs records vs stage sum " +
        s"$stageRecsTotal — a stage is re-executing its upstream per action")

    // composed again WITH --stage-cache: persisting the frame entering the
    // internally-multi-action containment stage must erase most of the
    // upstream re-execution the uncached run just measured
    val (statsC, cacheRecs, _, _, cacheSecs) = section {
      graft.cli.CorpusPrep.run(spark, Map(
        "in" -> inDir, "out" -> s"$e2eDir/cli2",
        "repetition-gate" -> "true", "redact" -> "true",
        "dedup" -> "near", "dedup-hashes" -> "16",
        "dedup-rows-per-band" -> "4", "containment-dedup" -> "0.9",
        "chunk-mode" -> "pack", "budget" -> "4096",
        "export-jsonl" -> "none", "export-shards" -> "32",
        "stage-cache" -> "true"))
    }
    println(s"""{"metric":"corpus_prep_e2e_1m_cached","docs":$built,""" +
      s""""docs_out":${statsC("docs_out")},""" +
      s""""composed_records":$cacheRecs,"composed_seconds":$cacheSecs}""")
    require(statsC("docs_out") == built - expectedSubs,
      s"cached composed run population drifted: ${statsC("docs_out")}")
    require(cacheRecs < compRecs,
      s"--stage-cache must cut the composed shuffle: $cacheRecs vs $compRecs")

    // ---- SftExport e2e at 250 k conversations -----------------------------
    // the synthetic corpus paired into (user, assistant) turns; the CLI
    // runs its full rendered→spans→packed→masks chain under its own
    // composition require (packed tokens == span-predicted total). The
    // synthetic "w12345" words are outside the committed merge table's
    // alphabet, so they tokenize near character level (~6 tokens/word) —
    // a deliberately heavy ~116 M-token tokenizer workload.
    val nConvs = nDocs / 4
    val sftDir = java.nio.file.Files.createTempDirectory("scale_sft").toString
    docs.filter(col("doc_id") < nConvs)
      .select(col("doc_id").as("conv_id"), col("text").as("ut"))
      .join(docs.filter(col("doc_id") >= nConvs && col("doc_id") < 2 * nConvs)
        .select((col("doc_id") - nConvs).as("conv_id"), col("text").as("at")),
        "conv_id")
      .select(col("conv_id"), array(
        struct(lit("user").as("role"), col("ut").as("content")),
        struct(lit("assistant").as("role"), col("at").as("content")))
        .as("turns"))
      .write.mode("overwrite").parquet(s"$sftDir/in")
    val (sftStats, sRecs, sBytes, sPeak, sSecs) = section {
      graft.cli.SftExport.run(spark, Map(
        "in" -> s"$sftDir/in", "out" -> s"$sftDir/out",
        "context" -> "4096"))
    }
    println(s"""{"metric":"sft_export_e2e","convs":${sftStats("convs")},""" +
      s""""total_tokens":${sftStats("total_tokens")},""" +
      s""""loss_tokens":${sftStats("loss_tokens")},""" +
      s""""sequences":${sftStats("sequences")},""" +
      s""""mask_rows":${sftStats("mask_rows")},""" +
      s""""shuffle_records":$sRecs,"shuffle_mb":${sBytes / 1000000},""" +
      s""""peak_stage_mb":${sPeak / 1000000},"seconds":$sSecs,""" +
      s""""tokens_per_sec":${(sftStats("total_tokens") / sSecs).toLong}}""")
    require(sftStats("convs") == nConvs,
      s"sft export must cover every conversation: ${sftStats("convs")}")
    require(sftStats("loss_tokens") > 0 &&
      sftStats("loss_tokens") < sftStats("total_tokens"),
      "loss spans must be a proper subset of the stream")
    // contiguous global token positions make the packed-sequence count
    // EXACTLY ceil(total/context) — this is the assert that caught the
    // two-branch RangePartitioner inconsistency in scanCumSumLong (mean
    // tokens/window exceeded the context: duplicate offsets)
    require(sftStats("sequences") == (sftStats("total_tokens") + 4095) / 4096,
      s"packed-sequence count ${sftStats("sequences")} != " +
        s"ceil(${sftStats("total_tokens")}/4096) — global offsets have " +
        "gaps or duplicates")
    // shuffle bound: the token stream itself NEVER shuffles — packing's
    // two-pass prefix scan moves per-doc (id, count) rows and the
    // masks/spans stages move per-turn metadata, so shuffled records sit
    // two orders below the token count (measured ~0.017 records/token at
    // 250 k convs). tokens/10 is the alarm line for a stage starting to
    // shuffle token-level rows (re-execution or an exploded generate)
    require(sRecs < sftStats("total_tokens") / 10,
      s"sft export shuffled $sRecs records for ${sftStats("total_tokens")} " +
        "tokens — a stage is shuffling token-level rows")

    // ---- CorpusReport (the dataset card, E114) at 1 M docs ----------------
    // CorpusPrep (transform) and SftExport (tensor export) compose above;
    // the card was the one CLI not yet scale-composed — and stage
    // composition is exactly what bit both of them (the 1.60× tax, the
    // RangePartitioner offset bug). The card fuses four gates + histograms
    // + dup clusters into shared scans; at 1 M docs its work must stay
    // per-doc-metadata-sized: the 37.5 M-token corpus is scanned, never
    // shuffled.
    val cardDir = java.nio.file.Files.createTempDirectory("scale_card").toString
    docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string")))
      .write.mode("overwrite").parquet(s"$cardDir/in")
    val (cardStats, rRecs, rBytes, rPeak, rSecs) = section {
      graft.cli.CorpusReport.run(spark, Map(
        "in" -> s"$cardDir/in", "out" -> s"$cardDir/out",
        "context" -> "4096"))
    }
    val expectedTokens = (nDocs / 4) * subTokens + (nDocs - nDocs / 4) * supTokens
    println(s"""{"metric":"corpus_report_1m","docs":${cardStats("docs")},""" +
      s""""tokens":${cardStats("tokens")},""" +
      s""""distinct_texts":${cardStats("distinct_texts")},""" +
      s""""gopher_pass":${cardStats("gopher_pass")},""" +
      s""""c4_pass":${cardStats("c4_pass")},""" +
      s""""repetition_pass":${cardStats("repetition_pass")},""" +
      s""""encoding_clean":${cardStats("encoding_clean")},""" +
      s""""shuffle_records":$rRecs,"shuffle_mb":${rBytes / 1000000},""" +
      s""""peak_stage_mb":${rPeak / 1000000},"seconds":$rSecs,""" +
      s""""docs_per_sec":${(built / rSecs).toLong}}""")
    require(cardStats("docs") == built, s"card lost docs: ${cardStats("docs")}")
    // token sum is EXACT on the synthetic corpus: 3/4 × 40 + 1/4 × 30
    require(cardStats("tokens") == expectedTokens,
      s"card tokens ${cardStats("tokens")} != $expectedTokens")
    // prefix sub-docs are near-dups, not exact dups — every text distinct
    require(cardStats("distinct_texts") == built,
      s"distinct_texts ${cardStats("distinct_texts")} != $built")
    // the synthetic corpus is pure ASCII — the encoding gate must agree
    require(cardStats("encoding_clean") == built,
      s"encoding_clean ${cardStats("encoding_clean")} != $built")
    require(Seq("gopher_pass", "c4_pass", "repetition_pass")
      .forall(k => cardStats(k) >= 0 && cardStats(k) <= built),
      s"gate counts out of range: $cardStats")
    // shuffle bound: ONE section is token-scale by design — the Gopher-
    // repetition gate's kind-tagged n-gram stream (its CorpusPrep stage
    // line above prices it at ~6 records/token; measured 222.7 M of the
    // card's 223.7 M records at 1 M docs). Every OTHER section aggregates
    // per-doc metadata (digests, lengths, verdicts) with map-side
    // combine, so the card's total must sit within ~8 records/token; a
    // doc×doc blowup or a re-executed text scan lands far above
    require(rRecs < 8L * expectedTokens,
      s"dataset card shuffled $rRecs records for $expectedTokens tokens — " +
        "beyond the repetition gate's priced n-gram stream plus per-doc " +
        "metadata; a section is re-scanning or exploding")

    docs.unpersist()
    spark.stop()
  }
}
