package graft.cli

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.trainprep.TrainPrep

/** End-to-end training-corpus preparation: the extension-side counterpart
  * of the deck CLIs — one command from raw documents parquet to packed,
  * deduplicated, quality-filtered training chunks plus a stats report.
  *
  * Stages (each optional, all scale-shaped):
  *   1. language filter (`--lang en`)            — codegen'd n-gram heuristic
  *   2. quality floor (`--min-quality 0.5`)      — pure filter
  *   2a. Gopher gate (`--gopher-gate true`
  *      [`--gopher-min-stopwords N`])            — the composite Rae-et-al
  *      rule verdict as one map-side predicate
  *   2a'. Gopher repetition gate (`--repetition-gate true`
  *      [`--repetition-line-sep S`])             — the paper's five
  *      repetition thresholds as a keep-the-passers semi-join
  *   2a''. encoding gate (`--encoding-max-bad-ratio 0.001`) — drop
  *      mojibake/corrupted docs, map-side predicate (E104)
  *   2a+. C4 page cleanup (`--c4-gate true` [`--c4-min-sentences N`])
  *      — line-level REWRITE + page rules, Raffel et al. 2020 §2.2 (E103)
  *   2c. DSIR selection (`--dsir-target <docs.parquet>`
  *      [`--dsir-keep N`] [`--dsir-features trigrams|words`]) — keep the
  *      N docs most like the target domain (dual importance-ratio LMs:
  *      char trigrams by default, word bigrams — Xie et al.'s actual
  *      feature space — with `words`)
  *   2d. incremental-crawl ingestion (`--incremental-ref <corpus>`
  *      [`--incremental-fuzzy 0.9`], and/or
  *      `--incremental-keepers <stateDir>` — the feed-maintained exact
  *      keeper state, so the trained corpus is never re-hashed)
  *      — drop docs already in the trained
  *      corpus: Bloom-prefiltered digest anti-join + optional
  *      cross-corpus MinHash near-dup flagging (E38 + E67)
  *   3. deterministic sample (`--sample 28`)     — sha256 prefix < threshold
  *   4. PII redaction (`--redact true`)          — RE2-safe replace-all
  *   4b. paragraph dedup (`--paragraph-dedup true`) — keep-first
  *      paragraph-hash rewrite; or frequency-threshold boilerplate
  *      removal (`--boilerplate-max-docfreq N`) — paragraphs in > N
  *      distinct docs drop everywhere, rare repetition survives
  *      (boilerplate above `--max-bucket`
  *      occurrences drops everywhere), BEFORE doc-level dedup
  *   4c. span dedup (`--span-dedup <windowTokens>`) — keep-first
  *      substring rewrite: later occurrences of duplicated token
  *      windows are cut as merged islands
  *   5. dedup (`--dedup exact|near|transitive`)  — collapse + rowwise MinHash
  *      + LSH; mega-bucket cap DEFAULT-ON (`--max-bucket N` overrides,
  *      `0` uncaps; dropped buckets observed in-pass and logged);
  *      `transitive` closes duplicate CHAINS via star-contraction CC
  *   5b. containment dedup (`--containment-dedup 0.9`) — drop docs whose
  *      shingle set is ≥ t contained in a surviving doc (quoted
  *      articles, template prefixes — the pairs Jaccard scores low);
  *      near-equal twins keep the lower id
  *   2b. LM quality cut (`--lm-percentile 0.9`) — self-trained char-trigram
  *      avg-NLL; drops the tail above the percentile (only docs the model
  *      actually scored — <3-char docs pass through)
  *   6. decontamination (`--decontaminate <bench.parquet>` [`--ngram 13`])
  *      — drop docs sharing a word n-gram with the eval set
  *   6b. temperature mixing (`--mix-target N` [`--mix-alpha 0.5`]
  *      [`--mix-col lang`]) — XLM-R-style strata flattening over the
  *      final survivor population
  *   6c. token-budget cap (`--budget-select N` [`--budget-col source`]) —
  *      keep each stratum's best-quality prefix within N tokens (mixing
  *      sets ratios, this sets absolute per-stratum volume)
  *   6d. deterministic upsampling (`--upsample src0=2.3,src1=0.4`
  *      [`--upsample-col source`] [`--upsample-default 1.0`]) — the
  *      data-recipe executor (E118): epoch weights multiply the final
  *      composition before chunking; copies get "<id>#<copy>" ids
  *   7. chunking, counting tokens with `--token-counter whitespace`
  *      (default) or `bpe` [`--bpe-merges <file>`] — real merges-table
  *      BPE budgeting via the codegen'd E101 expression
  *      (`--chunk-mode pack` [default] with `--budget 4096` —
  *      concat-then-cut sequence packing on the distributed prefix scan;
  *      `--chunk-mode sliding` with `--chunk-tokens 512`
  *      `--chunk-stride 384` — overlapping per-doc retrieval windows;
  *      or `--chunk-mode sentence` with `--chunk-tokens 512` —
  *      sentence-boundary chunks that never sever a clause)
  *
  * `runMain graft.cli.CorpusPrep --in <docs.parquet> --out <dir> [flags]`
  * writes `<out>/chunks` (doc→chunk assignments) and prints a one-line
  * JSON stats report.
  *
  * Stage cuts. The stages compose one lazy plan, and the multi-action
  * stages read it many times: dedup's banding and closure, containment's
  * shingle sets and pair joins, the pack's prefix scan. Left whole, every
  * such read re-derives the gates, the rewrites and the keeper join-back
  * (the pack's input plan held 168 scans of the corpus). So the frame is
  * cut twice, each time only when that stage runs and the frame is more
  * than the bare input scan: entering doc-level dedup, after every gate
  * and rewrite, and entering containment dedup. A cut keeps the rows
  * (`GraftBridge.keepRows`: memory, spilling to disk) and materializes
  * them in one tracked action, which also completes the oversize audit
  * when its node lies below the cut. The lineage stays, so a lost block
  * is recomputed rather than failing the job. The first cut is released
  * once the second holds its rows, so at most one corpus-sized frame is
  * kept at a time; whatever is still kept when the run ends, or fails,
  * is released then.
  */
object CorpusPrep {

  /** AQE's empty-relation propagation replaces any query-stage subtree that
    * materializes 0 rows — including a CollectMetrics audit node sitting on
    * it — after which Spark completes the observation with an EMPTY row
    * (`ObservationManager.tryComplete`). A capped dedup whose surviving
    * buckets yield zero verified pairs is exactly that shape, so the whole
    * run executes under [[Dedup.withReliableOversizeAudit]] (rule excluded,
    * re-admitted afterwards; nesting-safe). A defensive fallback below
    * covers callers that race the conf from another thread. */
  def run(spark: SparkSession, args: Map[String, String]): Map[String, Long] =
    Dedup.withReliableOversizeAudit(spark) {
      val kept = new Kept
      try runInner(spark, args, kept) finally kept.releaseAll()
    }

  /** Every frame a run keeps: the persisted score, selection and
    * contamination frames, and the current stage cut. */
  private final class Kept {
    private val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var stageCut: Option[GraftBridge.KeptRows] = None

    def persist(df: DataFrame): DataFrame = {
      val p = df.persist()
      persisted += p
      p
    }

    /** `df` cut at the named stage's boundary: its rows are computed now,
      * once, and later stages read them. The previous cut is released
      * after this one holds its rows. */
    def cut(df: DataFrame, stage: String): DataFrame = {
      val k = GraftBridge.keepRows(df, Some(s"corpus_prep $stage cut"))
      stageCut.foreach(_.release())
      stageCut = Some(k)
      k.df
    }

    def releaseAll(): Unit = {
      stageCut.foreach(_.release())
      stageCut = None
      persisted.foreach(_.unpersist())
      persisted.clear()
    }
  }

  private def runInner(spark: SparkSession, args: Map[String, String],
      kept: Kept): Map[String, Long] = {
    val in = args("in")
    val out = args("out")
    val docs0 = spark.read.parquet(in)
    val idCol = args.getOrElse("id-col", "doc_id")
    val textCol = args.getOrElse("text-col", "text")

    var docs: DataFrame = docs0
    val nIn = docs.count()

    args.get("lang").foreach { l =>
      docs = docs.filter(TextFunctions.langIdHeuristic(col(textCol)) === lit(l))
    }
    args.get("min-quality").foreach { q =>
      docs = docs.filter(TextFunctions.qualityScore(col(textCol)) >= q.toDouble)
    }
    // Gopher-rule gate (`--gopher-gate true` [`--gopher-min-stopwords N`]):
    // the composite Rae-et-al verdict as a pure map-side filter predicate
    // — no join, no shuffle, fused into whatever scan/stage runs next
    if (args.get("gopher-gate").contains("true")) {
      val minStop = args.getOrElse("gopher-min-stopwords", "2").toLong
      docs = docs.filter(
        TextFunctions.gopherPass(col(textCol), minStopwordHits = minStop))
    }
    // Encoding gate (`--encoding-max-bad-ratio 0.001`): drop docs whose
    // replacement/control/mojibake character ratio exceeds the budget —
    // a pure map-side predicate fused into the next scan (E104)
    args.get("encoding-max-bad-ratio").foreach { r =>
      docs = docs.filter(
        TextFunctions.encodingClean(col(textCol), r.toDouble))
    }
    // C4 page cleanup (`--c4-gate true` [`--c4-min-sentences N`], Raffel
    // et al. 2020 §2.2): REWRITES text to the kept lines and drops pages
    // failing the page rules — one map pass for the measures, one
    // id-join to swap the cleaned text in (E103)
    if (args.get("c4-gate").contains("true")) {
      val minSents = args.getOrElse("c4-min-sentences", "5").toLong
      val gated = TextFunctions.c4Gate(docs, idCol, textCol,
          minSentences = minSents)
        .filter(col("pass"))
        .select(col(idCol), col("text_clean"))
      docs = docs.drop(textCol)
        .join(gated, Seq(idCol))
        .withColumnRenamed("text_clean", textCol)
    }
    // Gopher REPETITION gate (`--repetition-gate true`
    // [`--repetition-line-sep` default "\n"]): the paper's five
    // repetition thresholds (duplicate lines/chars, top 2/3/4-gram char
    // fractions) as a keep-the-passers semi-join — unlike the map-side
    // measure gate above this one aggregates per doc, so it costs its
    // id-keyed aggregate pipelines (digests and counts shuffle, text
    // does not)
    if (args.get("repetition-gate").contains("true")) {
      val sep = args.getOrElse("repetition-line-sep", "\n")
      val passers = TextFunctions.repetitionGate(docs, idCol, textCol, sep)
        .filter(col("pass")).select(col(idCol))
      docs = docs.join(passers, Seq(idCol), "left_semi")
    }
    // Self-trained char-trigram LM filter (`--lm-percentile 0.9`): score
    // every doc against the corpus's own trigram distribution and drop the
    // least-corpus-like tail above the given avg-NLL percentile — the
    // CCNet-style gibberish cut. The score frame is doc-count-sized (id,
    // n_trigrams, avg_nll) and is persisted: the percentile scalar, the
    // drop count and the anti-join all read the cache instead of
    // re-scoring the corpus. Docs too short to emit a trigram (<3 chars)
    // are NOT scored and are kept — this stage only drops what it
    // actually measured as unlike the corpus; nothing vanishes silently.
    // Runs before sampling so the rate applies to the cleaned population.
    var nLmDropped = 0L
    args.get("lm-percentile").foreach { p =>
      val pct = p.toDouble
      require(pct > 0.0 && pct < 1.0, s"--lm-percentile must be in (0,1), got $p")
      val scored = kept.persist(TrainPrep.charTrigramNll(docs, idCol, textCol))
      val thrRow = scored.agg(
        percentile_approx(col("avg_nll"), lit(pct), lit(10000))).head()
      if (!thrRow.isNullAt(0)) { // null = nothing scored (all-short corpus)
        val dropIds = scored.filter(col("avg_nll") > thrRow.getDouble(0))
          .select(col(idCol))
        nLmDropped = dropIds.count()
        docs = docs.join(dropIds, Seq(idCol), "left_anti")
      }
    }
    // CCNet word-LM reference filter (`--word-lm-ref <docs.parquet>`
    // [`--word-lm-percentile 0.7`]): the E162 stupid-backoff bigram LM
    // trained on a REFERENCE domain scores the corpus, and the
    // above-percentile tail (least reference-like) drops — the CCNet
    // head/middle keep. Differs from --lm-percentile (char-trigram,
    // SELF-trained: catches gibberish regardless of domain) in exactly
    // the CCNet way: this one needs a reference corpus and measures
    // domain fit at the word level. Docs with < 2 tokens are unscored
    // and KEPT (same contract as the char-trigram stage).
    var nWordLmDropped = 0L
    args.get("word-lm-ref").foreach { refPath =>
      val pct = args.getOrElse("word-lm-percentile", "0.7").toDouble
      require(pct > 0.0 && pct < 1.0,
        s"--word-lm-percentile must be in (0,1), got $pct")
      val ref = spark.read.parquet(refPath)
      val uni = graft.trainprep.NgramLm.unigramCounts(ref, textCol)
      val bi = graft.trainprep.NgramLm.bigramCounts(ref, textCol)
      val total = CliArgs.longOr0(uni.agg(sum(col("c"))).head(), 0)
      require(total > 0,
        s"--word-lm-ref corpus at $refPath has no tokens to train on")
      val scored = kept.persist(graft.trainprep.NgramLm.stupidBackoffNll(
        docs, idCol, textCol, uni, bi, total))
      val thrRow = scored.agg(
        percentile_approx(col("avg_nll"), lit(pct), lit(10000))).head()
      if (!thrRow.isNullAt(0)) {
        val dropIds = scored.filter(col("avg_nll") > thrRow.getDouble(0))
          .select(col(idCol))
        nWordLmDropped = dropIds.count()
        docs = docs.join(dropIds, Seq(idCol), "left_anti")
      }
    }
    // DSIR target-domain selection (`--dsir-target <docs.parquet>`
    // [`--dsir-keep N`]): keep the N raw docs scoring highest under the
    // target-vs-raw trigram importance ratio — domain selection BEFORE the
    // expensive dedup stages so they run on the docs that can survive.
    var nDsirDropped = 0L
    args.get("dsir-target").foreach { tgtPath =>
      val k = args.getOrElse("dsir-keep", "100000").toInt
      val target = spark.read.parquet(tgtPath)
      val before = docs.count()
      // `--dsir-features trigrams|words` (r15): char trigrams are the
      // tokenization-robust default; `words` switches to Xie et al.'s
      // actual word-bigram feature space (NgramLm.dsirSelectWords)
      val score: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
          String, String, Int) => org.apache.spark.sql.DataFrame =
        args.getOrElse("dsir-features", "trigrams") match {
          case "trigrams" => TrainPrep.dsirSelect
          case "words" => graft.trainprep.NgramLm.dsirSelectWords
          case other => sys.error(
            s"--dsir-features must be 'trigrams' or 'words', got '$other'")
        }
      // persist the ≤k-id selection: every downstream action (dedup
      // stages, the chunks write, the stats counts) re-evaluates the
      // semi-join's right side, and WITHOUT the cache each re-run would
      // repeat dsirSelect's two corpus-wide trigram aggregations — the
      // same contract as the LM score frame above
      val selected = kept.persist(score(docs, target, idCol, textCol, k)
        .select(col(idCol)))
      docs = docs.join(selected, Seq(idCol), "left_semi")
      nDsirDropped = before - docs.count()
    }
    // Incremental-crawl ingestion (`--incremental-ref <corpus.parquet>`
    // [`--incremental-fuzzy 0.9`]): drop docs already in the TRAINED
    // corpus before spending anything else on them. Exact layer: the
    // Bloom-prefiltered digest anti-join (E38 — ref digests become one
    // broadcastable filter, only maybe-positives pay the real anti-join).
    // Fuzzy layer (optional): cross-corpus MinHash banding at the given
    // Jaccard threshold (E67) — catches re-crawls with boilerplate swaps
    // and whitespace drift that digests miss. Runs FIRST among the
    // dedup-shaped stages: at steady state most of a crawl is re-crawl,
    // and every later stage is priced per surviving doc.
    var nIncrementalDropped = 0L
    // `--incremental-keepers <stateDir>`: the exact-digest reference is
    // the FEED-MAINTAINED keeper state (Dedup.foldKeeperStateInto keeps
    // it current per lake commit), so the crawl ingests against
    // precomputed digests — the trained corpus is never re-scanned or
    // re-hashed (round 16: E1 re-runs stop at 100 TB). Composable with
    // --incremental-ref (both drop; the keeper state covers the exact
    // tier, the ref corpus the fuzzy tier).
    args.get("incremental-keepers").foreach { statePath =>
      val state = Dedup.readKeeperState(spark, statePath)
        .select(col("text_hash").as("__digest"))
      val refN = math.max(state.count(), 1L)
      val before = docs.count()
      docs = Dedup.bloomPrefilteredAnti(
          docs.withColumn("__digest", sha2(col(textCol), 256)), "__digest",
          state, "__digest", expectedItems = refN, fpp = 0.01)
        .drop("__digest")
      nIncrementalDropped += before - docs.count()
    }
    args.get("incremental-ref").foreach { refPath =>
      val ref = spark.read.parquet(refPath)
      val refN = math.max(ref.count(), 1L)
      val before = docs.count()
      val digest = sha2(col(textCol), 256)
      docs = Dedup.bloomPrefilteredAnti(
          docs.withColumn("__digest", digest), "__digest",
          ref.select(digest.as("__digest")), "__digest",
          expectedItems = refN, fpp = 0.01)
        .drop("__digest")
      args.get("incremental-fuzzy").foreach { t =>
        // banding defaults to the 4-row key (16 hashes) the 1 M-doc scale run measured
        // as linear — NOT crossCorpusNearDupPairs' 2-row default, whose
        // random band collisions grow candidate pairs ~n^2 on short docs
        // (the same lesson as --dedup-rows-per-band); override with
        // --incremental-hashes / --incremental-rows-per-band
        val nh = args.getOrElse("incremental-hashes", "16").toInt
        val rpb = args.getOrElse("incremental-rows-per-band", "4").toInt
        val flagged = Dedup.crossCorpusNearDupPairs(
            docs, idCol, textCol, ref, idCol, textCol,
            numHashes = nh, rowsPerBand = rpb,
            threshold = t.toDouble)
          .select(col("train_id").as(idCol)).distinct()
        docs = docs.join(flagged, Seq(idCol), "left_anti")
      }
      nIncrementalDropped += before - docs.count()
    }
    args.get("sample").foreach { thr =>
      docs = docs.filter(TrainPrep.hashSampleFilter(col(idCol), thr))
    }
    if (args.get("redact").contains("true")) {
      docs = docs.withColumn(textCol, TrainPrep.redactPii(col(textCol)))
    }
    // Paragraph-level keep-first dedup BEFORE document-level dedup: it
    // REWRITES texts (later occurrences of a paragraph drop, boilerplate
    // shrinks toward similarity), so doc-level signatures must be
    // computed on the rewritten corpus. maxOccurrences shares the
    // `--max-bucket` semantics: a paragraph above the cap is boilerplate
    // and drops everywhere, observed through the same audit machinery.
    if (args.get("paragraph-dedup").contains("true")) {
      val deduped = Dedup.paragraphKeepFirst(docs, idCol, textCol,
          hashFn = Dedup.fastParaHash,
          maxOccurrences = CliArgs.maxBucket(args))
        .select(col(idCol), col("text_dedup"))
      docs = docs.drop(textCol)
        .join(deduped, Seq(idCol))
        .withColumnRenamed("text_dedup", textCol)
    }
    // Frequency-threshold boilerplate removal
    // (`--boilerplate-max-docfreq N`): a paragraph in more than N distinct
    // docs is template chrome and drops EVERYWHERE; rare paragraphs keep
    // all occurrences. Runs before keep-first would be redundant with it —
    // the two are alternatives (keep-first collapses legitimate repetition
    // to one copy; this preserves it), both rewriting before doc-level
    // signatures.
    args.get("boilerplate-max-docfreq").foreach { n =>
      val cleaned = Dedup.boilerplateParagraphRemove(docs, idCol, textCol,
          maxDocFreq = n.toInt, hashFn = Dedup.fastParaHash)
        .select(col(idCol), col("text_clean"))
      docs = docs.drop(textCol)
        .join(cleaned, Seq(idCol))
        .withColumnRenamed("text_clean", textCol)
    }
    // Substring layer under paragraphs (`--span-dedup <windowTokens>`):
    // later occurrences of any duplicated token window are cut from the
    // text (merged-island keep-first rewrite) — catches the repeated
    // passages that respect no paragraph boundary.
    args.get("span-dedup").foreach { w =>
      val rewritten = Dedup.removeDuplicatedSpans(docs, idCol, textCol,
          windowTokens = w.toInt, hashFn = Dedup.fastParaHash)
        .select(col(idCol), col("text_dedup"))
      docs = docs.drop(textCol)
        .join(rewritten, Seq(idCol))
        .withColumnRenamed("text_dedup", textCol)
    }

    // Mega-bucket cap: DEFAULT-ON at Dedup.DefaultMaxBucketSize;
    // `--max-bucket N` overrides, `--max-bucket 0` (or negative) uncaps
    // explicitly. Capped runs audit for free: the dropped-bucket count is
    // a CollectMetrics observation on the banding aggregate itself — the
    // metric is collected in the SAME pass the pipeline pays anyway (over
    // the same collapsed-reps population), replacing the second
    // collapse+sign+band audit pass earlier rounds paid.
    val maxBucket = CliArgs.maxBucket(args)
    val oversizeObs =
      if (maxBucket == Int.MaxValue) None
      else Some(org.apache.spark.sql.Observation("graft_oversize_audit"))
    var obsAttached = false
    if (args.contains("dedup") && (docs ne docs0)) docs = kept.cut(docs, "dedup")
    val docsAtDedup = docs // pre-dedup population, for the pruned-audit fallback
    args.get("dedup").foreach {
      case "exact" =>
        val keepers = Dedup.exact(docs, idCol, textCol)
          .select(col("keeper_id").as(idCol))
        docs = docs.join(keepers, idCol)
      case mode @ ("near" | "transitive") =>
        obsAttached = oversizeObs.isDefined
        // `--dedup-hashes` / `--dedup-rows-per-band` size the banding key
        // (defaults 8/2 — lshPlan(8, 0.5)). The band key's width is a
        // SCALE control, not just a recall dial: the 1 M-doc scale run measured 2-row
        // bands over 30-40-token docs producing ~n^2-growing random
        // candidate pairs (18 -> 41 -> 67 shuffle records/doc at
        // 0.2/1/2 M docs); widening to 4-row bands (16 hashes) made the
        // candidate set similarity-driven again (14.5 records/doc at
        // 1 M, linear). Derive the pair with Dedup.lshPlan.
        val nh = args.getOrElse("dedup-hashes", "8").toInt
        val rpb = args.getOrElse("dedup-rows-per-band", "2").toInt
        val keepers =
          if (mode == "near")
            Dedup.nearDupKeepersRowwise(docs, idCol, textCol,
              numHashes = nh, rowsPerBand = rpb, threshold = 0.8,
              maxBucketSize = maxBucket, oversizeObs = oversizeObs)
          else
            Dedup.nearDupKeepersTransitiveRowwise(docs, idCol, textCol,
              numHashes = nh, rowsPerBand = rpb, threshold = 0.8,
              maxBucketSize = maxBucket, oversizeObs = oversizeObs)
        docs = docs.join(
          keepers.filter(col("doc_id") === col("keeper_id"))
            .select(col("doc_id").as(idCol)), idCol)
      case other =>
        sys.error(s"--dedup must be 'exact', 'near' or 'transitive', got '$other'")
    }

    // Containment dedup AFTER resemblance dedup (`--containment-dedup t`):
    // what survives doc-level near-dedup can still be a strict SUBSET of a
    // longer surviving doc (a quoted article, a template prefix) —
    // resemblance-Jaccard scores such pairs low. Drops the contained side;
    // near-equal twins keep the lower id. Prefix-filter join: candidates
    // track true pairs, never corpus². Its input is cut (see the object
    // scaladoc): containmentDrop and the pack after it read it many times.
    args.get("containment-dedup").foreach { t =>
      if (docs ne docs0) docs = kept.cut(docs, "containment")
      docs = Dedup.containmentDrop(docs, idCol, textCol, t.toDouble)
    }

    // decontamination AFTER dedup: keepers already collapsed, so the
    // benchmark join sees each surviving text once. The contaminated-id
    // frame is persisted before counting so the broadcast contamination
    // join over the (large) post-dedup corpus runs once — the count
    // materializes the cache and the left_anti join reads it back.
    val nContaminated: Long = args.get("decontaminate") match {
      case Some(benchPath) =>
        val n = args.getOrElse("ngram", "13").toInt
        val bench = spark.read.parquet(benchPath)
        val contaminated = kept.persist(TrainPrep.contaminationPairs(
            docs, idCol, textCol, bench, idCol, textCol, n)
          .select(col("train_id").as(idCol)).distinct())
        val c = contaminated.count()
        docs = docs.join(contaminated, Seq(idCol), "left_anti")
        c
      case None => 0L
    }

    // Temperature-weighted mixing LAST (`--mix-target N`, `--mix-alpha`
    // default 0.5, `--mix-col` default "lang"): composition control over
    // the cleaned, deduped, decontaminated survivors — the population whose
    // strata ratios actually reach the trainer. Pure broadcast-rate filter;
    // the corpus is not shuffled.
    args.get("mix-target").foreach { tgt =>
      val alpha = args.getOrElse("mix-alpha", "0.5").toDouble
      val stratum = args.getOrElse("mix-col", "lang")
      require(docs.columns.contains(stratum),
        s"--mix-col '$stratum' is not a column of the input (have: ${docs.columns.mkString(", ")})")
      docs = TrainPrep.temperatureMix(docs, idCol, stratum, alpha, tgt.toDouble)
    }

    // Token-budget selection (`--budget-select N` [`--budget-col source`]):
    // AFTER mixing, cap every stratum at N tokens by keeping its
    // best-quality prefix (E79 budgetSelect — rounded-quality ranking so
    // the cut is engine-stable). Mixing sets the strata RATIOS; this sets
    // the absolute per-stratum VOLUME the trainer sees.
    args.get("budget-select").foreach { b =>
      val groupCol = args.getOrElse("budget-col", "source")
      require(docs.columns.contains(groupCol),
        s"--budget-col '$groupCol' is not a column of the input (have: ${docs.columns.mkString(", ")})")
      val ranked = docs
        .withColumn("__n_tok", TextFunctions.tokenCount(col(textCol)).cast("long"))
        .withColumn("__q", round(TextFunctions.qualityScore(col(textCol)), 6))
      docs = TrainPrep.budgetSelect(ranked, groupCol, idCol, "__n_tok", "__q", b.toLong)
        .drop("__n_tok", "__q", "cum_tokens")
    }

    // Deterministic upsampling (`--upsample src0=2.3,src1=0.4`
    // [`--upsample-col source`] [`--upsample-default 1.0`]): the
    // data-recipe executor (E118) — runs AFTER the selection/budget
    // stages so epoch weights multiply the FINAL composition, and BEFORE
    // chunking so packed sequences see the repeats. Copies get a
    // qualified string id ("<id>#<copy>") so downstream chunk/export
    // keys stay unique; the map-side generate adds no shuffle.
    // The in/out counts for the stats contract come from a CHECKPOINTED
    // (id, weight) projection: the text-heavy upstream chain executes
    // once to materialize two small columns, and both counts (plus the
    // emitted-copy replay, which depends only on id and weight) run
    // against that, never re-executing the chain (the composition tax
    // `corpus_prep_e2e_1m` measures). observe/CollectMetrics is NOT usable here:
    // predicates push straight through it (an observe above the w>0
    // filter measured 20 of 30 rows), and the two-pass pack plan
    // references the frame twice in one action, double-counting the
    // metric (measured 80 of 40).
    var nUpsampleExtra = 0L
    args.get("upsample").foreach { spec =>
      val upsCol = args.getOrElse("upsample-col", "source")
      require(docs.columns.contains(upsCol),
        s"--upsample-col '$upsCol' is not a column of the input (have: ${docs.columns.mkString(", ")})")
      val default = args.getOrElse("upsample-default", "1.0").toDouble
      require(default >= 0.0, s"--upsample-default must be >= 0, got $default")
      val rates = spec.split(",").map { kv =>
        val parts = kv.split("=")
        require(parts.length == 2,
          s"--upsample entries must be stratum=weight, got '$kv'")
        require(parts(1).toDouble >= 0.0,
          s"--upsample weight must be >= 0, got '$kv'")
        parts(0) -> parts(1).toDouble
      }
      val w = rates.foldLeft(lit(default)) { case (acc, (s0, r)) =>
        when(col(upsCol) === lit(s0), lit(r)).otherwise(acc)
      }
      val slim = docs.select(col(idCol).as("__id"), w.as("__w"))
        .localCheckpoint()
      try {
        val before = slim.count()
        nUpsampleExtra =
          TrainPrep.upsampleByWeight(slim, "__id", "__w").count() - before
      } finally slim.unpersist()
      docs = TrainPrep.upsampleByWeight(docs.withColumn("__w", w),
          idCol, "__w")
        .withColumn(idCol,
          concat(col(idCol).cast("string"), lit("#"), col("copy_idx")))
        .drop("__w", "copy_idx")
    }

    // `--chunk-mode pack` (default) lays docs end-to-end and cuts every
    // `--budget` tokens (pretraining shape); `--chunk-mode sliding` emits
    // overlapping `--chunk-tokens` windows every `--chunk-stride` tokens
    // per doc (retrieval/RAG shape, never crossing doc boundaries);
    // `--chunk-mode sentence` cuts ≈`--chunk-tokens` chunks at SENTENCE
    // boundaries (the RAG shape that never severs a clause).
    val chunkMode = args.getOrElse("chunk-mode", "pack")
    // `--token-counter bpe` [`--bpe-merges <merges.txt>`]: budget pack /
    // sentence chunks with REAL BPE token counts (E101) instead of the
    // whitespace counter; the merge table defaults to the committed
    // resource. Counting stays a zero-shuffle codegen expression.
    val tokenCountFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      args.getOrElse("token-counter", "whitespace") match {
        case "whitespace" => TextFunctions.tokenCount
        case "bpe" =>
          val merges = args.get("bpe-merges")
            .map(graft.functions.Bpe.loadMergesFile)
            .getOrElse(graft.functions.Bpe.defaultMerges)
          graft.functions.Bpe.tokenCount(_, merges)
        case other =>
          sys.error(s"--token-counter must be 'whitespace' or 'bpe', got '$other'")
      }
    val chunked = chunkMode match {
      case "pack" =>
        TrainPrep.packChunks(docs, idCol, textCol,
          args.getOrElse("budget", "4096").toLong, tokenCountFn)
      case "sliding" =>
        TrainPrep.slidingChunks(docs, idCol, textCol,
          args.getOrElse("chunk-tokens", "512").toInt,
          args.getOrElse("chunk-stride", "384").toInt)
      case "sentence" =>
        TrainPrep.sentenceChunks(docs, idCol, textCol,
          args.getOrElse("chunk-tokens", "512").toInt, tokenCountFn)
      case other =>
        sys.error(s"--chunk-mode must be 'pack', 'sliding' or 'sentence', got '$other'")
    }
    chunked.write.mode("overwrite").parquet(s"$out/chunks")

    // The observation fired during the pipeline's own actions (CC rounds /
    // the chunks write just above), so `get` returns immediately; it is
    // only consulted when the dedup stage actually attached it. An
    // uncapped or absent dedup stage reports 0. If AQE still pruned the
    // audit node (caller raced the excluded-rules conf), fall back to an
    // explicit one-off count rather than report a silent 0.
    val nDropped: Long =
      if (obsAttached)
        oversizeObs.flatMap(_.get.get("dropped_buckets"))
          .map(_.asInstanceOf[Long]).getOrElse {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "oversize-bucket observation was pruned from the executed " +
                "plan; recomputing the drop count with a one-off banding pass")
            Dedup.oversizeBuckets(
              Dedup.minhashSignatureRowwise(
                Dedup.collapseReps(docsAtDedup, idCol, textCol),
                idCol, textCol, 8),
              idCol, numHashes = 8, rowsPerBand = 2, maxBucket).count()
          }
      else 0L

    val written = spark.read.parquet(s"$out/chunks")
    // pack mode: one row per doc (chunk assignment); sliding/sentence:
    // one row per chunk
    val perChunkModes = Set("sliding", "sentence")
    val nOut =
      if (perChunkModes(chunkMode)) written.select(idCol).distinct().count()
      else written.count()
    val nChunks =
      if (perChunkModes(chunkMode)) written.count()
      else {
        val maxChunk = written.agg(max("chunk_end_id")).head()
        if (nOut == 0 || maxChunk.isNullAt(0)) 0L else maxChunk.getLong(0) + 1
      }
    // `--export-jsonl gzip|none` [`--export-shards N`]: the consumer-facing
    // training export — JSON-lines shards (what tokenizer/loader pipelines
    // ingest), gzip-codec'd unless 'none'. Shard assignment is
    // hash-partitioning on the id column: deterministic across runs and
    // layouts, balanced by construction, and N bounds the file count a
    // 100 TB export produces (one task per shard, no driver funnel).
    args.get("export-jsonl").foreach { codec =>
      require(codec == "gzip" || codec == "none",
        s"--export-jsonl must be 'gzip' or 'none', got '$codec'")
      val shards = args.getOrElse("export-shards", "0").toInt
      val src = if (shards > 0) written.repartition(shards, col(idCol)) else written
      val w = src.write.mode("overwrite")
      (if (codec == "none") w else w.option("compression", codec))
        .json(s"$out/export")
    }

    val stats = Map("docs_in" -> nIn, "docs_out" -> nOut,
      "chunks" -> nChunks, "oversize_buckets_dropped" -> nDropped,
      "contaminated_dropped" -> nContaminated, "lm_dropped" -> nLmDropped,
      "word_lm_dropped" -> nWordLmDropped,
      "dsir_dropped" -> nDsirDropped,
      "incremental_dropped" -> nIncrementalDropped,
      "upsample_extra" -> nUpsampleExtra)
    println(stats.map { case (k, v) => s""""$k":$v""" }
      .mkString("{\"metric\":\"corpus_prep\",", ",", "}"))
    stats
  }

  def main(args: Array[String]): Unit =
    CliArgs.withSession("corpus-prep")(s => run(s, CliArgs.parse(args)))
}
