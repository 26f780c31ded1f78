package graft.trainprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.TimeSeriesOps

/** Training-corpus preparation operators — the steps between "raw documents"
  * and "token stream ready for a trainer" that the LLM-pipeline extension
  * (SURVEY.md §7 step 8) needs beyond dedup/ANN: TF-IDF weighting,
  * deterministic sampling, PII redaction, and sequence packing.
  *
  * Cross-engine determinism rules (same as graft.queries.*): hashes are
  * sha256 hex (identical in DuckDB); token splits are single-space (matches
  * the oracle's `string_split(text, ' ')`); floats round before compare;
  * every ordering has a total-order key.
  */
object TrainPrep {

  /** Per-(doc, token) TF-IDF over a corpus.
    *
    * tf = occurrences of token in doc; df = documents containing token;
    * idf = ln((N + 1) / (df + 1)) (smoothed, non-negative);
    * weight = tf * idf.
    *
    * Shape: explode → two hash-aggregations (map-side partials apply) → one
    * equi-join on token. The token-dimension table (distinct tokens) is
    * vocabulary-sized, orders of magnitude under the corpus — Spark's AQE
    * picks a broadcast join for it at realistic vocabularies; at 100 TB the
    * join key is the token string, never doc bodies, so shuffle volume is
    * bounded by (docs × distinct-tokens-per-doc), the same as the MinHash
    * signature pass. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // N as a broadcast 1-row frame keeps the whole thing one LAZY plan (no
    // eager driver action at definition time). The N branch is a second scan
    // of the corpus in the plan; at real scale use the N-from-metadata
    // overload below (one scan) or persist `docs` before calling.
    val nDf = docs.agg(countDistinct(col(idCol)).as("__n"))
    tfIdfImpl(docs, idCol, textCol, broadcast(nDf))
  }

  /** Single-scan TF-IDF: caller supplies the corpus document count N (from
    * table metadata, a catalog stat, or a prior count) and the per-(doc,
    * token) `tf` intermediate is persisted (MEMORY_AND_DISK), so the corpus
    * text — the 100 TB part — is scanned exactly once; both the tf branch
    * and the token-level df aggregation read the cached (doc, token, tf)
    * rows, which are orders of magnitude smaller than the text. PlanAuditSpec
    * asserts the plan shape. Exchange reuse can't do this declaratively:
    * Catalyst column-prunes the df branch's inner aggregate into a distinct
    * aggregate, de-canonicalizing the subtrees. The cache lingers until the
    * caller's session drops it (`spark.catalog.clearCache()` or unpersist on
    * the intermediate via this frame's lineage) — acceptable for a terminal
    * pipeline stage, documented here for long-lived sessions. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String, nDocs: Long): DataFrame = {
    require(nDocs > 0, s"nDocs must be positive, got $nDocs")
    val nDf = docs.sparkSession.range(1).select(lit(nDocs).as("__n"))
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tfIdfJoin(tf, broadcast(nDf))
  }

  private def tfIdfImpl(docs: DataFrame, idCol: String, textCol: String,
      nDf: DataFrame): DataFrame = {
    val tok = docs.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val tf = tok.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    tfIdfJoin(tf, nDf)
  }

  private def tfIdfJoin(tf: DataFrame, nDf: DataFrame): DataFrame = {
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df, "token").crossJoin(nDf)
      .withColumn("idf", log((col("__n") + 1.0) / (col("df") + 1.0)))
      .withColumn("tfidf", col("tf") * col("idf"))
      .drop("__n")
  }

  /** BM25 ranked retrieval (Robertson & Walker's Okapi form, with the
    * Lucene-style non-negative idf = ln(1 + (N − df + 0.5)/(df + 0.5)))
    * for a LITERAL query-term set:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Built for the corpus-not-index regime: ALL corpus statistics — N,
    * avgdl, and per-term document frequency — come out of ONE 1-row
    * aggregate over one scan (df as K fused conditional sums; query sets
    * are literal-sized). That row broadcast-cross-joins onto the scoring
    * scan, where tf is an in-row codegen'd filter-count. No explode, no
    * token shuffle, no inverted index to maintain: total movement is the
    * 1-row stats frame plus a distributed TakeOrdered top-k. At 100 TB
    * with a REUSED query workload, materialize [[tfIdf]]'s (doc, token,
    * tf) frame once as the inverted index instead; this path wins for
    * ad-hoc scoring and corpus-prep relevance filters where the scan
    * happens anyway. Deterministic: rounded score, ties by id. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      roundTo: Int = 5): DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    // ONE tokenization definition engine-wide: TextFunctions.tokens /
    // wordHits — BM25 must never drift from the other token-based ops
    def toks(c: Column) = TextFunctions.tokens(c)
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(toks(col(textCol)), t), 1L).otherwise(0L))
        .cast("double").as(s"__df_$i")
    }
    val aggs = count(lit(1)).cast("double").as("__N") +:
      avg(size(toks(col(textCol)))).as("__avgdl") +: dfAggs
    val stats = docs.agg(aggs.head, aggs.tail: _*)
    val dl = size(toks(col(textCol))).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = TextFunctions.wordHits(col(textCol), t).cast("double")
      val idf = log(lit(1.0) + (col("__N") - col(s"__df_$i") + 0.5) / (col(s"__df_$i") + 0.5))
      idf * (tf * (k1 + 1.0)) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col("__avgdl")))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, roundTo).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic hash sample: keep a row iff the first `hexDigits` hex
    * chars of sha256(key) sort strictly below `threshold`. Rate ≈
    * threshold/16^hexDigits; reproducible on any engine with sha256 and on
    * any cluster layout (no RNG, no partition sensitivity — unlike
    * `df.sample`, which depends on partitioning). Pure filter: pushes down
    * past projections, no shuffle.
    *
    * `threshold` is lowercased here because sha2 emits lowercase hex — an
    * uppercase "A0" would otherwise sort below every digest and silently
    * select ~0 rows. Non-hex thresholds are rejected loudly. */
  def hashSampleFilter(key: Column, threshold: String): Column = {
    val thr = normalizeHexThreshold(threshold)
    substring(sha2(key.cast("string"), 256), 1, thr.length) < lit(thr)
  }

  /** Leakage-safe train/test split: assign docs to splits by the sha256
    * hash of their near-dup COMPONENT keeper, not their own id — every
    * member of a duplicate/near-dup cluster lands on the SAME side, so a
    * paraphrase of a training document can never sit in the test set (the
    * contamination a per-doc hash split silently allows; Lee et al. 2022
    * measure the resulting eval inflation). `testThreshold` is the
    * [[hashSampleFilter]] hex-prefix threshold ("40" ≈ 25 % of clusters).
    * Returns (idCol, keeper_id, split) for every input doc — split is
    * cluster-atomic, deterministic, and reproducible on any layout.
    *
    * Scale shape: exactly
    * [[graft.dedup.Dedup.nearDupKeepersTransitive]]'s cost (signatures →
    * LSH → in-row verify → star-contraction CC) plus one hash projection —
    * nothing new shuffles. */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      testThreshold: String, numHashes: Int, rowsPerBand: Int,
      threshold: Double, maxIter: Int = 10,
      hashFn: (Column, Int) => Column = graft.dedup.Dedup.oracleHash): DataFrame =
    graft.dedup.Dedup.nearDupKeepersTransitive(df, idCol, textCol,
        numHashes, rowsPerBand, threshold, maxIter, hashFn)
      .withColumn("split",
        when(hashSampleFilter(col("keeper_id"), testThreshold), "test")
          .otherwise("train"))

  private def normalizeHexThreshold(threshold: String): String = {
    // ASCII-only check: Character.isDigit also accepts Unicode decimal digits
    // (fullwidth '５', Arabic-Indic '٥', …) which sort above 'f' and would
    // silently select ~100% of rows; Locale.ROOT avoids locale-sensitive
    // lowercasing (e.g. Turkish dotless-I)
    val thr = threshold.toLowerCase(java.util.Locale.ROOT)
    require(thr.nonEmpty && thr.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"hash-sample threshold must be non-empty ASCII hex, got '$threshold'")
    thr
  }

  /** Stratified deterministic sample: per-stratum hex thresholds (2 hex
    * digits → rate granularity 1/256). Strata absent from `rates` are
    * dropped. Still a pure filter — the CASE is codegen'd per row.
    * Thresholds are lowercased/validated like [[hashSampleFilter]]'s. */
  def stratifiedSampleFilter(key: Column, stratum: Column,
      rates: Seq[(String, String)]): Column = {
    val prefix = substring(sha2(key.cast("string"), 256), 1, 2)
    rates.foldLeft(lit(false)) { case (acc, (s, thr)) =>
      val t = normalizeHexThreshold(thr)
      // the compared prefix is exactly 2 chars, so a longer threshold like
      // "a00" would lexicographically include prefix "a0" itself and round
      // the effective rate up to 1/256 granularity — reject it loudly
      require(t.length <= 2,
        s"stratified-sample threshold for stratum '$s' must be at most 2 hex digits " +
          s"(prefix granularity 1/256), got '$thr'")
      acc || (stratum === lit(s) && prefix < lit(t))
    }
  }

  /** Deterministic n-way split assignment (train/val/test): each row maps
    * to the named band whose cumulative-weight interval contains its
    * sha256-hash fraction (first 4 hex digits → 1/65536 granularity, the
    * same quantization as [[temperatureMix]]'s thresholds, so both
    * engines derive identical edges from their own float math). Bands
    * are DISJOINT and EXHAUSTIVE by construction — the last band closes
    * at 65536 exactly, so no row is unassigned. No RNG: re-runs, other
    * engines, and other cluster layouts assign identically, and a NEW
    * row joining the corpus never flips an existing row's band (the
    * property %-based random splits lose). Pure codegen'd CASE — a
    * filter predicate, not a shuffle. */
  def splitAssign(key: Column, bands: Seq[(String, Double)]): Column = {
    require(bands.nonEmpty, "splitAssign needs at least one band")
    require(bands.forall(_._2 > 0.0), s"band weights must be positive: $bands")
    val total = bands.map(_._2).sum
    val edges = bands.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => math.min(65536L, math.round(f * 65536L)))
    val prefix = conv(substring(sha2(key.cast("string"), 256), 1, 4), 16, 10)
      .cast("long")
    // CASE chain, first matching edge wins; the last edge is exactly
    // 65536 > any 4-hex prefix, so the innermost otherwise(null) is
    // unreachable and every row lands in a band
    bands.map(_._1).zip(edges).reverse.foldLeft(lit(null).cast("string")) {
      case (els, (name, edge)) => when(prefix < edge, lit(name)).otherwise(els)
    }
  }

  /** Deterministic fractional UPSAMPLING — the data-recipe executor
    * ("source X at 2.3 epochs, source Y at 0.4"): a row with weight
    * `w > 0` emits copies `copy_idx ∈ [0, ⌈w⌉)` — every copy below
    * `⌊w⌋` unconditionally, plus the one fractional copy for the rows
    * whose salted-sha256 4-hex prefix falls below the
    * `round(frac·65536)` edge ([[splitAssign]]'s 1/65536 grid, so both
    * engines derive identical edges from their own float math). Weights
    * ≤ 0 or NULL drop the row; weights above `maxWeight` raise — a fat
    * finger ("23" for 2.3) would otherwise silently 10× the corpus.
    * Expected copy count is w to within quantization; no RNG, so
    * re-runs, other engines and other layouts emit the same multiset,
    * and the salt decouples the fractional draw from this id's
    * [[hashSampleFilter]]/[[splitAssign]] decisions.
    *
    * Scale shape: `explode(sequence(...))` is a map-side generate —
    * output rows = Σ⌈w⌉ with NO shuffle; compose with [[epochOrder]]
    * for the final training order. */
  def upsampleByWeight(df: DataFrame, idCol: String, weightCol: String,
      maxWeight: Double = 1000.0): DataFrame = {
    require(maxWeight > 0, s"maxWeight must be positive, got $maxWeight")
    val w0 = col(weightCol).cast("double")
    val w = when(w0 > maxWeight, raise_error(concat(
        lit(s"upsample weight exceeds maxWeight=$maxWeight: "),
        w0.cast("string")))).otherwise(w0)
    val full = floor(w).cast("int")
    val prefix = conv(substring(sha2(concat(col(idCol).cast("string"),
      lit(":upsample")), 256), 1, 4), 16, 10).cast("long")
    val edge = round((w - floor(w)) * 65536.0, 0).cast("long")
    df.filter(w0.isNotNull && w0 > 0)
      .select(col("*"),
        explode(sequence(lit(0), ceil(w).cast("int") - 1)).as("copy_idx"))
      .filter(col("copy_idx") < full || prefix < edge)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES): keep the k rows with the largest priority
    * u^(1/w) — equivalently the largest ln(u)/w — where w = `weightCol`
    * and u is a DETERMINISTIC uniform in (0, 1] derived from
    * md5(id) (first 12 hex digits + 1, scaled by 16⁻¹²). Inclusion
    * probability is proportional to weight (token-weighted corpus
    * sampling: a 10 k-token doc is 10× likelier than a 1 k one), yet
    * the draw has no RNG — it replays identically on any engine or
    * cluster layout, and DuckDB replays it exactly (hex-prefix cast +
    * ln + round). Rows with weight ≤ 0 or NULL are excluded.
    *
    * The sort key is rounded to 9 decimals with the md5 hex as a total
    * tiebreak, so cross-engine float noise in ln (≤ 1 ulp) cannot flip
    * an ordering except on an exact rounding boundary — which the
    * irrational ln values do not hit. Scale shape: key derivation is a
    * rowwise codegen'd projection; `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject (each partition forwards its local top-k,
    * never the corpus). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    val h = md5(col(idCol).cast("string"))
    val u = (conv(substring(h, 1, 12), 16, 10).cast("long").cast("double") +
      1.0) / math.pow(16.0, 12)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__h", h)
      .withColumn("__key", round(log(u) / col(weightCol).cast("double"), 9))
      .orderBy(col("__key").desc, col("__h").asc)
      .limit(k)
      .drop("__h", "__key")
  }

  /** PII redaction: mask email addresses, IPv4 addresses, 16-digit card
    * numbers (plain / space- / dash-grouped) and NNN-NNNN phone numbers.
    * Patterns are deliberately RE2-compatible (no backrefs/lookaround) so
    * the same regex means the same thing in Java (Spark) and RE2 (DuckDB —
    * whose oracle needs the 'g' flag to match Spark's replace-all).
    * ORDER MATTERS: cards redact before phones — the phone pattern would
    * otherwise eat NNN-NNNN chunks out of a dash-grouped card; digit runs
    * longer than 16 never match the card pattern (no interior `\b`). */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val CardPattern = "\\b[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}[ -]?[0-9]{4}\\b"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"),
        CardPattern, "<CARD>"),
      PhonePattern, "<PHONE>")

  /** Temperature-weighted corpus mixing (the multilingual-pretraining
    * sampler of XLM-R / mC4): stratum `l` with `cnt_l` rows is kept at rate
    * `min(1, target * w_l / cnt_l)` where `w_l = cnt_l^alpha / Σ_j cnt_j^alpha`
    * — `alpha < 1` up-samples low-resource strata relative to their
    * proportional share. Row selection is the deterministic sha256 hash
    * sample (no RNG, engine- and layout-independent).
    *
    * Scale shape: the stratum-count aggregate collapses map-side to one row
    * per stratum per partition; rates live in a strata-sized frame that
    * broadcast-joins back onto the corpus, so the 100 TB side is scanned
    * (twice — once for counts, once filtered; persist upstream or supply
    * `counts` to make it one) but never shuffled. The rate → threshold
    * conversion quantizes to a 4-hex-digit prefix (granularity 1/65536)
    * after round(rate, 6), so both engines derive bit-identical thresholds
    * from their own float math. A clamped rate ≥ 1 maps to threshold "g",
    * which sorts above every hex digest prefix — keep-all, not lpad-truncated. */
  def temperatureMix(docs: DataFrame, keyCol: String, stratumCol: String,
      alpha: Double, targetTotal: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(targetTotal > 0.0, s"targetTotal must be positive, got $targetTotal")
    val counts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__cnt"))
    temperatureMix(docs, keyCol, stratumCol, alpha, targetTotal, counts)
  }

  /** [[temperatureMix]] with caller-supplied per-stratum counts (schema:
    * stratumCol, `__cnt` long) — one corpus scan instead of two when counts
    * come from table metadata or a prior aggregation. */
  def temperatureMix(docs: DataFrame, keyCol: String, stratumCol: String,
      alpha: Double, targetTotal: Double, counts: DataFrame): DataFrame = {
    val w = pow(col("__cnt").cast("double"), lit(alpha))
    val wsum = counts.agg(sum(pow(col("__cnt").cast("double"), lit(alpha))).as("__wsum"))
    val rates = counts.crossJoin(broadcast(wsum))
      .withColumn("__rate",
        least(lit(1.0), lit(targetTotal) * (w / col("__wsum")) / col("__cnt")))
      .withColumn("__thr",
        when(col("__rate") >= 1.0, lit("g")) // above every hex prefix: keep all
          .otherwise(lpad(lower(hex(floor(round(col("__rate"), 6) * 65536))), 4, "0")))
      .select(col(stratumCol).as("__stratum"), col("__thr"))
    docs.join(broadcast(rates), docs(stratumCol) === col("__stratum"))
      .filter(substring(sha2(col(keyCol).cast("string"), 256), 1, 4) < col("__thr"))
      .drop("__stratum", "__thr")
  }

  /** Token-budget selection: within each group (source/domain/lang), rank
    * docs by (quality desc, id asc) and keep the PREFIX whose running token
    * total stays ≤ `budget` — the "fill each domain's token quota with its
    * best documents" step of corpus composition (the deterministic
    * complement of [[temperatureMix]]'s proportional draw). Prefix-stop
    * semantics (first overflowing doc ends the group), NOT best-fit
    * packing: the greedy skip-and-continue variant is a sequential
    * dependency no window can express, and prefix-stop is what makes the
    * cut reproducible from the ranking alone. One window over one
    * per-group sort; groups are independent, so the shuffle is the
    * groupCol hash partitioning and nothing else. Rank on a ROUNDED
    * quality column — raw double expression trees may differ across
    * engines in final ULPs, and the ranking (not just the display) must
    * agree. */
  def budgetSelect(docs: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, qualityCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): docs split into
    * head/middle/tail by their corpus-trained [[charTrigramNll]] score.
    * Thresholds are EXACT-RANK picks, not interpolated percentiles — the
    * k-th smallest (nll, id) pair, k = ⌈q·n⌉ — so the boundary is a value
    * the data contains and the lexicographic tuple compare reproduces
    * bit-for-bit in any engine (interpolated quantiles differ in final
    * ULPs across interpolation formulas exactly at the knots where ties
    * sit). Head gets exactly ⌈0.3n⌉ docs, middle the next ⌈0.6n⌉−⌈0.3n⌉.
    * Corpus cost: the charTrigramNll passes + one count + two
    * TakeOrdered threshold picks over a persisted doc-sized score frame
    * (k rows never leave the executors; the 1-row thresholds collect to
    * the driver). The cache lifecycle is one-shot: the returned frame
    * reads the SAME cached score pass, and a release listener
    * ([[graft.multimodal.Multimodal.unpersistAfterFirstUse]]) drops the
    * cache right after the caller's first completed action — no extra
    * score pass for the normal use-once caller, and no executor-cache
    * accumulation across repeated invocations (the round-11 advisory).
    * A caller that materializes the result twice recomputes the score
    * pass on the second action. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      headQ: Double = 0.3, midQ: Double = 0.6): DataFrame = {
    require(0 < headQ && headQ < midQ && midQ < 1, s"need 0 < headQ < midQ < 1")
    val scored = charTrigramNll(docs, idCol, textCol)
      .select(col(idCol), round(col("avg_nll"), 4).as("nll"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = scored.count()
    // the threshold frames stay LAZY (1-row broadcast subtrees inside the
    // caller's single final job — no separate pick jobs); the count above
    // is the only eager build action
    def kth(k: Int, prefix: String) = scored
      .orderBy(col("nll").asc, col(idCol).asc).limit(k)
      .orderBy(col("nll").desc, col(idCol).desc).limit(1)
      .select(col("nll").as(s"${prefix}_nll"), col(idCol).as(s"${prefix}_id"))
    val h = kth(math.ceil(headQ * n).toInt, "h")
    val m = kth(math.ceil(midQ * n).toInt, "m")
    graft.multimodal.Multimodal.unpersistAfterFirstUse(scored)
    scored.crossJoin(broadcast(h)).crossJoin(broadcast(m))
      .select(col(idCol), col("nll"),
        when(col("nll") < col("h_nll")
          || (col("nll") === col("h_nll") && col(idCol) <= col("h_id")), "head")
          .when(col("nll") < col("m_nll")
            || (col("nll") === col("m_nll") && col(idCol) <= col("m_id")), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Deterministic per-epoch training order: rank = position of
    * sha256("<epoch>:<id>") in ascending order — a different, uniformly
    * shuffled, REPRODUCIBLE permutation every epoch with no RNG and no
    * state (re-running epoch 3 on any cluster layout yields byte-identical
    * order; growing the corpus permutes only where new hashes land). Rank
    * materializes through [[assignGlobalIds]]'s two-pass bucketed
    * scan — no single-partition global sort; `shard = pmod(hash(id),
    * nShards)` gives loaders a deterministic parallel read axis. */
  def epochOrder(docs: DataFrame, idCol: String, epoch: Int,
      nShards: Int): DataFrame = {
    require(epoch >= 0, s"epoch must be non-negative, got $epoch")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val keyed = docs.withColumn("__ek",
      sha2(concat_ws(":", lit(epoch), col(idCol).cast("string")), 256))
    // shard is epoch-INDEPENDENT (a doc's shard never moves between
    // epochs, so loader shard assignment is stable); sha-hex-prefix mod
    // keeps it replayable in any engine with sha256 + hex cast
    assignGlobalIds(keyed, Seq("__ek"), out = "epoch_rank")
      .withColumn("shard",
        pmod(conv(substring(sha2(col(idCol).cast("string"), 256), 1, 4), 16, 10)
          .cast("long"), lit(nShards.toLong)))
      .drop("__ek")
  }

  /** Corpus-wide most-frequent word n-grams — the mining pass behind
    * boilerplate detection (feed the resulting n-grams to the span-dedup
    * rewrite, or alert on template explosions). Total order (count desc,
    * n-gram asc) makes the top-k cutoff deterministic; `orderBy.limit`
    * compiles to TakeOrdered — per-partition heaps, never a global sort.
    * The n-gram aggregate benefits from map-side partial combine; shuffle
    * volume is bounded by distinct n-grams × partitions, not corpus size
    * (hash the n-gram before shuffling at real scale if vocabulary width
    * dominates). */
  def frequentNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    require(k > 0, s"top-k size must be positive, got $k")
    ngramShingles(docs, idCol, textCol, n)
      .groupBy(col("shingle").as("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** Top word-n-gram repetition metrics (the Gopher repetition rules'
    * n-gram member, completing the family with E30's token TTR and E97's
    * duplicate lines): per doc, the most frequent word n-gram (ties to
    * the lexicographically smallest — deterministic), its count, and the
    * fraction of the doc's characters its occurrences cover
    * (count × n-gram chars / text chars, capped at 1.0 — overlapping
    * occurrences can over-count). Docs too short for an n-gram measure
    * ('' / 0 / 0.0).
    *
    * Scale shape: the in-row shingle explode feeds one (doc, n-gram)
    * hash aggregate with map-side partials, then a per-doc rank window —
    * shuffles carry n-grams and counts, never full texts, and nothing is
    * pairwise. */
  def topNgramMetrics(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = ngramShingles(docs, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle"))
      .agg(count(lit(1)).as("__c"))
    val top = counts
      .withColumn("__rn", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("__c").desc, col("shingle").asc)))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("shingle"), col("__c"))
    docs.select(col(idCol), length(col(textCol)).as("__chars"))
      .join(top, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("shingle"), lit("")).as("top_ngram"),
        coalesce(col("__c"), lit(0L)).as("top_ngram_count"),
        // NB least() IGNORES nulls in Spark and DuckDB alike — least(1.0,
        // NULL) is 1.0, so the no-shingle case must branch explicitly
        round(when(col("__c").isNull, lit(0.0))
          .otherwise(least(lit(1.0),
            col("__c") * length(col("shingle")) / col("__chars"))), 6)
          .as("top_ngram_char_frac"))
  }

  /** Per-slice dataset-card report — the composition summary a training
    * run publishes (docs, tokens, chars, exact-duplicate rate per
    * source/language slice). Duplicate rate is EXACT, not sketched, yet
    * never plans an Expand-based count-distinct: a two-level aggregate
    * first collapses (slice, sha256(text)) with map-side partials — the
    * 100 TB corpus arrives at the shuffle as one row per distinct text
    * per slice — then the slice-level aggregate derives everything
    * (token/char sums ride the digest rows as first(value) × copies,
    * exact because a digest group shares its text verbatim). NULL texts
    * count as docs with 0 tokens/chars, each its own "distinct" text
    * (the per-id sentinel convention of exact dedup E1). */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val perDigest = docs
      .groupBy(col(groupCol),
        coalesce(sha2(col(textCol), 256),
          concat(lit("__null__"), col(idCol))).as("__h"))
      .agg(count(lit(1)).as("__copies"),
        first(coalesce(TextFunctions.tokenCount(col(textCol)), lit(0L)))
          .as("__tok"),
        first(coalesce(length(col(textCol)), lit(0))).as("__len"))
    perDigest.groupBy(col(groupCol))
      .agg(
        sum(col("__copies")).as("n_docs"),
        count(lit(1)).as("n_distinct_texts"),
        round(lit(1.0) - count(lit(1)) / sum(col("__copies")), 6)
          .as("dup_rate"),
        sum(col("__tok") * col("__copies")).as("n_tokens"),
        sum(col("__len").cast("long") * col("__copies")).as("n_chars"),
        round(sum(col("__tok") * col("__copies")) / sum(col("__copies")), 2)
          .as("mean_doc_tokens"))
  }

  /** Character-trigram language-model scoring — the CCNet-style perplexity
    * quality filter, self-trained on the corpus itself: per document,
    * `avg_nll = -mean(ln((c3 + 1) / (c2 + V)))` over its trigram positions,
    * with `c3` the corpus count of the trigram, `c2` the count of its
    * leading bigram (derived exactly as Σ c3 over trigrams sharing the
    * prefix — no second corpus pass), and `V` the observed trigram
    * vocabulary (add-one smoothing). Lower = more like the corpus; rank and
    * cut at a percentile to drop gibberish.
    *
    * Scale shape: the trigram explode feeds a hash aggregate whose domain
    * is charset³-bounded, so map-side combine collapses it and the count
    * frame is tiny — it is persisted here because three downstream branches
    * read it (the 100 TB corpus itself is scanned twice: count pass + score
    * pass, the same budget as [[tfIdf]]'s lazy overload). Scoring
    * broadcast-joins the per-trigram log-prob and the per-doc average's
    * partial aggregation emits one row per doc per partition — explode
    * keeps a doc's trigrams in one partition, so it is exactly one row per
    * doc. Trigram arrays come from the one-pass codegen'd
    * [[graft.expressions.CharNgrams]] expression. The count-frame cache is
    * charset³-bounded and released after the caller's first completed
    * action; a caller that reads the result twice persists it (as
    * [[perplexityBuckets]] and `CorpusPrep` do) or pays the count pass
    * again. */
  def charTrigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one-pass codegen'd trigram array — the relational
    // `transform(sequence(...), i -> substr(text, i, 3))` re-scans the
    // string per position (codepoint-indexed substring is O(chars) each →
    // O(chars²) per doc) and evaluates its lambda interpreted; explode of
    // the NULL array a <3-codepoint doc produces drops the row, same as
    // the `when` guard the relational form needs
    val tri = docs.select(col(idCol),
      explode(org.apache.spark.sql.GraftBridge.column(
        graft.expressions.CharNgrams(
          org.apache.spark.sql.GraftBridge.expression(col(textCol)), 3))).as("tri"))
    val cnt = tri.groupBy("tri").agg(count(lit(1)).as("c3"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.multimodal.Multimodal.unpersistAfterFirstUse(cnt)
    val pre = cnt.groupBy(substring(col("tri"), 1, 2).as("big")).agg(sum("c3").as("c2"))
    val v = cnt.agg(count(lit(1)).as("__vsz"))
    val logProb = cnt.join(pre, substring(cnt("tri"), 1, 2) === pre("big"))
      .crossJoin(broadcast(v))
      .select(cnt("tri"),
        log((col("c3") + 1.0) / (col("c2") + col("__vsz"))).as("lp"))
    tri.join(broadcast(logProb), "tri")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), round(-avg("lp"), 4).as("avg_nll"))
  }

  /** DSIR-style target-domain data selection (Xie, Santurkar, Ma, Liang:
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): cheap bag-of-char-trigram LMs stand in for the
    * intractable target/raw densities. Each raw document scores the mean
    * per-trigram log importance ratio
    * `avg[ln p_target(tri) − ln p_raw(tri)]` under two add-one-smoothed
    * trigram models — one fit on a (small) target-domain sample, one on
    * the raw corpus itself — and the top-`k` by that ratio are selected.
    * Smoothing uses the SHARED trigram vocabulary (distinct trigrams of
    * raw ∪ target), so both models are normalized over the same support
    * and the ratio is well-defined for trigrams unseen on either side.
    * Deterministic: score rounded at 4, ties broken by id.
    *
    * Scale shape: both count frames are charset³-bounded hash aggregates
    * (map-side combine collapses the trigram stream), the per-trigram
    * log-ratio frame broadcasts, and the raw corpus is ONE trigram-explode
    * scan joined against that broadcast and hash-aggregated per doc — no
    * corpus-sized shuffle ever carries text, and the top-k plans as a
    * distributed TakeOrdered, not a global sort. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    def triCol(df: DataFrame) = org.apache.spark.sql.GraftBridge.column(
      graft.expressions.CharNgrams(
        org.apache.spark.sql.GraftBridge.expression(df(textCol)), 3))
    val rawTri = raw.select(col(idCol), explode(triCol(raw)).as("tri"))
    val tgtTri = target.select(explode(triCol(target)).as("tri"))
    val cr = rawTri.groupBy("tri").agg(count(lit(1)).as("cr"))
    val ct = tgtTri.groupBy("tri").agg(count(lit(1)).as("ct"))
    val voc = cr.select("tri").unionByName(ct.select("tri")).distinct()
    val v = voc.agg(count(lit(1)).as("__vsz"))
    val preR = cr.groupBy(substring(col("tri"), 1, 2).as("bigr"))
      .agg(sum("cr").as("c2r"))
    val preT = ct.groupBy(substring(col("tri"), 1, 2).as("bigt"))
      .agg(sum("ct").as("c2t"))
    val ratio = voc
      .join(cr, Seq("tri"), "left")
      .join(ct, Seq("tri"), "left")
      .join(preR, substring(col("tri"), 1, 2) === col("bigr"), "left")
      .join(preT, substring(col("tri"), 1, 2) === col("bigt"), "left")
      .crossJoin(broadcast(v))
      .select(col("tri"),
        (log((coalesce(col("ct"), lit(0L)) + 1.0)
            / (coalesce(col("c2t"), lit(0L)) + col("__vsz")))
          - log((coalesce(col("cr"), lit(0L)) + 1.0)
            / (coalesce(col("c2r"), lit(0L)) + col("__vsz")))).as("ratio"))
    rawTri.join(broadcast(ratio), "tri")
      .groupBy(col(idCol))
      .agg(round(avg("ratio"), 4).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col(idCol))
      .limit(k)
  }

  /** Contiguous global row ids 0..n-1 in `orderCols` order — shard/sample
    * indices for a training corpus — without the single-partition window a
    * naive `row_number() OVER (ORDER BY …)` plans. Thin wrapper over
    * [[TimeSeriesOps.scanCumSumLong]]: deterministic ordered buckets on
    * the order key, per-bucket local ranks, then one bucket-row offset
    * pass — the
    * same two-pass distributed scan [[packChunks]] uses, so a 100 TB corpus
    * gets ids with one bounded-size driver-free prefix stage. */
  def assignGlobalIds(docs: DataFrame, orderCols: Seq[String],
      out: String = "gid"): DataFrame =
    TimeSeriesOps.scanCumSumLong(
        docs.withColumn("__one", lit(1L)), orderCols, "__one", out)
      .withColumn(out, col(out) - 1L)
      .drop("__one")

  /** Snapshot delta between two corpus versions keyed by `idCol`:
    * returns (idCol, status) with status ∈ added | removed | changed |
    * unchanged — the incremental-ingest primitive (what must re-enter the
    * dedup/filter pipeline after a crawl refresh, what to tombstone).
    * Change detection is by sha256 content digest, so renames of
    * identical content across ids surface as add+remove, never a false
    * "changed".
    *
    * Scale shape: both sides project to (id, digest) — the 100 TB text
    * columns never shuffle, only 40-byte digests do — then one full
    * outer equi-join on id. At equal snapshot sizes this is the minimal
    * movement for an exact delta; AQE picks broadcast when one side is
    * a small incremental batch. */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def digests(df: DataFrame, side: String) =
      df.select(col(idCol).as(s"__id_$side"),
        sha2(col(textCol), 256).as(s"__d_$side"))
    digests(oldDocs, "old")
      .join(digests(newDocs, "new"),
        col("__id_old") === col("__id_new"), "full_outer")
      .select(
        coalesce(col("__id_old"), col("__id_new")).as(idCol),
        when(col("__id_old").isNull, lit("added"))
          .when(col("__id_new").isNull, lit("removed"))
          .when(col("__d_old") =!= col("__d_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Per-document word n-gram shingles: one row per (id, position), the
    * shingle as its space-joined token string. Kept as STRINGS here so the
    * operator is verifiable cross-engine; production pipelines hash the
    * shingle column (xxhash64) before shuffling. A doc with fewer than `n`
    * tokens emits nothing. Pure explode over a sequence — no UDF, and the
    * token array is built once per row. */
  def ngramShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"shingle size must be positive, got $n")
    // bind the token array to a column FIRST: ArrayTransform evaluates its
    // lambda body per element with no subexpression caching, so an inline
    // split() would re-scan the text once per shingle position — O(tokens²)
    // per document instead of O(tokens)
    val withToks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val toks = col("__toks")
    // Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty — docs
    // shorter than n tokens must be guarded to emit no shingles at all
    val nShingles = size(toks) - (n - 1)
    withToks.select(col(idCol),
        explode(when(nShingles > 0,
            transform(sequence(lit(1), nShingles),
              i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("shingle"))
  }

  /** Benchmark decontamination: training docs sharing at least one word
    * n-gram with an evaluation set (the GPT-3-style 13-gram overlap
    * check). Returns distinct (train id, benchmark id) contamination
    * pairs — route them to a drop list or an audit table.
    *
    * Scale shape: the benchmark side is eval-set-sized (thousands of
    * docs) — its distinct shingles broadcast; training shingles stream
    * out of the scan straight into the broadcast hash join, so the 100 TB
    * side is one pass, no shuffle of training text, and the output is
    * bounded by contaminated pairs. The shingle join key is the string
    * here (oracle-exact); hash it for narrower broadcasts at real eval
    * sizes. */
  def contaminationPairs(train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchId: String, benchText: String,
      n: Int): DataFrame = {
    val trainSh = ngramShingles(train, trainId, trainText, n)
      .select(col(trainId).as("train_id"), col("shingle"))
    val benchSh = ngramShingles(bench, benchId, benchText, n)
      .select(col(benchId).as("bench_id"), col("shingle"))
      .distinct()
    trainSh.join(broadcast(benchSh), "shingle")
      .select(col("train_id"), col("bench_id"))
      .distinct()
  }

  /** Per-document contamination FRACTION — the GPT-3-appendix-C-style
    * overlap REPORT that [[contaminationPairs]]'s binary verdict feeds:
    * for every training doc, its n-gram shingle count, how many DISTINCT
    * shingles also occur in the benchmark set, and the contaminated
    * fraction — the number release dataset-cards publish ("X% of docs
    * have >Y% 13-gram overlap with the eval set") and the dial for
    * partial-contamination policies (drop at frac ≥ t rather than on any
    * single shared shingle). Docs too short for one shingle report
    * (0, 0, 0.0) explicitly.
    *
    * Scale shape: the benchmark side is eval-set-sized — its distinct
    * shingles BROADCAST; training shingles stream map-side through the
    * broadcast join (distinct-per-doc first, one (doc) aggregate after),
    * so the shuffle carries one row per (doc, distinct-shingle) and the
    * 100 TB corpus is never re-keyed by shingle. */
  def contaminationFraction(train: DataFrame, trainId: String,
      trainText: String, bench: DataFrame, benchId: String,
      benchText: String, n: Int): DataFrame = {
    val trainSh = ngramShingles(train, trainId, trainText, n)
      .select(col(trainId), col("shingle")).distinct()
    val benchSh = ngramShingles(bench, benchId, benchText, n)
      .select(col("shingle")).distinct()
      .withColumn("__hit", lit(1L))
    val perDoc = trainSh
      .join(broadcast(benchSh), Seq("shingle"), "left")
      .groupBy(col(trainId))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_contaminated"))
    train.select(col(trainId)).join(perDoc, Seq(trainId), "left")
      .select(col(trainId),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated") / col("n_shingles"), lit(0.0)), 6)
          .as("contaminated_frac"))
  }

  /** Per-slice tokenizer VOCABULARY COVERAGE — the dataset-card number
    * for tokenizer fit (companion to per-doc fertility, E110): for each
    * corpus slice, total BPE tokens, <unk> tokens and the unk rate under
    * a closed vocabulary. A slice whose unk rate spikes is a domain the
    * merge table never saw — the signal to retrain or byte-fallback the
    * tokenizer before budgeting with its counts. Per-doc (token, unk)
    * counts are a codegen'd map over the scan; the only shuffle carries
    * slice-sized partials (map-side combined). */
  def vocabCoverage(docs: DataFrame, sliceCol: String, textCol: String,
      merges: graft.expressions.BpeMerges =
        graft.functions.Bpe.defaultMerges,
      byteFallback: Boolean = false): DataFrame = {
    // under byteFallback the encoder can never emit id 0, so n_unk is 0
    // by construction and unk_rate becomes a tokenizer HEALTH metric
    // (any nonzero value is a bug) instead of a loss report
    val ids = graft.functions.Bpe.tokenIds(col(textCol), merges, byteFallback)
    docs.select(col(sliceCol).as("slice"),
        size(ids).cast("long").as("__n"),
        size(filter(ids, i => i === 0)).cast("long").as("__u"))
      .groupBy("slice")
      .agg(count(lit(1)).as("n_docs"),
        sum("__n").as("n_tokens"), sum("__u").as("n_unk"),
        round(sum("__u") * lit(1.0) / greatest(sum("__n"), lit(1L)), 6)
          .as("unk_rate"))
  }

  /** Sequence-length histogram + padding-waste report — the batching-
    * efficiency numbers a training run checks before choosing packed vs
    * padded batching: docs bucketed by token length (power-of-two ladder
    * 16…8192, fixed literal buckets so every engine cuts identically),
    * with per-bucket doc/token sums, the UNPACKED sequence count at
    * `contextTokens` (each doc costs ceil(len/ctx) sequences) and the
    * padding tokens that batching shape wastes — the number that
    * justifies [[packChunks]]. `tokenCountFn` swaps in BPE counting
    * (E101). One map pass + one bucket-sized aggregate. */
  def seqLenHistogram(docs: DataFrame, idCol: String, textCol: String,
      contextTokens: Int,
      tokenCountFn: Column => Column =
        graft.functions.TextFunctions.tokenCount): DataFrame = {
    require(contextTokens > 0,
      s"contextTokens must be positive, got $contextTokens")
    val len = coalesce(tokenCountFn(col(textCol)), lit(0L))
    val ladder = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    val bucket = ladder.foldLeft(when(lit(false), lit(0L))) {
      (acc, b) => acc.when(len <= b, lit(b))
    }.otherwise(lit(8192L))
    // integer ceil via floor of an exact double division (lengths sit far
    // below 2^52, so the division is exact in both engines)
    val nSeq = floor((len + (contextTokens - 1)) / lit(contextTokens.toDouble))
      .cast("long")
    docs
      .select(len.as("__len"), bucket.as("len_bucket"), nSeq.as("__nseq"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__len")).as("sum_tokens"),
        sum(col("__nseq")).as("n_sequences"),
        sum(col("__nseq") * contextTokens - col("__len"))
          .as("pad_waste_tokens"))
  }

  /** Length-bucketed batch assembly — the padded-batching counterpart of
    * [[packChunks]]: when sequences must stay whole (SFT, reranking,
    * inference serving), batches of `batchSize` similar-length sequences
    * minimize the padding [[seqLenHistogram]] reports. Documents sort by
    * (token length, id) and cut into consecutive `batchSize` groups, so
    * each batch pads to its own max instead of the corpus max — the
    * standard length-bucketing trick. Returns (id, n_tok, batch_id);
    * feed [[batchPaddingReport]] for the per-batch waste numbers.
    *
    * Scale shape: the global sort position is [[assignGlobalIds]]'s
    * deterministic two-pass bucketed prefix scan — never a
    * single-partition window — and the token count is a zero-shuffle
    * map, so the whole assignment is one bounded scan + one
    * cluster-sized offset stage. Deterministic: the (length, id) order
    * is a total order, so batch membership is identical on every run
    * and layout. */
  def batchAssembly(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int,
      tokenCountFn: Column => Column = TextFunctions.tokenCount,
      orderByLength: Boolean = true): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val withLen = docs.select(col(idCol),
      coalesce(tokenCountFn(col(textCol)).cast("long"), lit(0L)).as("n_tok"))
    // orderByLength = false is the arrival-order (id-order) BASELINE the
    // padding comparison grades length bucketing against — one shared
    // cutting definition so the two strategies can never drift
    val order = if (orderByLength) Seq("n_tok", idCol) else Seq(idCol)
    assignGlobalIds(withLen, order, "__gid")
      .select(col(idCol), col("n_tok"),
        floor(col("__gid") / batchSize).cast("long").as("batch_id"))
  }

  /** Per-batch padding report over a [[batchAssembly]] assignment (or any
    * (n_tok, batch_id) frame): each batch pads every member to the batch
    * max, so waste = max·count − Σ len. One map-side-combined aggregate,
    * batch-count-sized output — the number that picks length-bucketed
    * over arrival-order batching (q_batch_assembly measures both). */
  def batchPaddingReport(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("batch_id")).agg(
      count(lit(1)).as("n_seqs"),
      max(col("n_tok")).as("max_tok"),
      sum(col("n_tok")).as("sum_tok"),
      (max(col("n_tok")) * count(lit(1)) - sum(col("n_tok"))).as("pad_tokens"))

  /** Hard-negative mining — the contrastive-training counterpart of the
    * retrieval metrics: per query, the `k` HIGHEST-scored candidates that
    * are NOT relevant (the negatives a dense-retriever trainer actually
    * wants — top random negatives teach nothing, top-scored wrong answers
    * teach the boundary). `runs` is a scored candidate frame
    * (query, doc, score); `qrels` marks relevance (grade > 0). Returns
    * (query, doc, score, neg_rank) with neg_rank 1..k per query.
    *
    * Scale shape: one judgment-sized left anti join (AQE broadcasts the
    * eval-set side) then per-query rank windows — parallel across
    * queries, nothing beyond the run frame ever shuffles; ties break by
    * doc id so the mined set is layout-independent. */
  def hardNegatives(runs: DataFrame, qrels: DataFrame, queryCol: String,
      docCol: String, scoreCol: String, gradeCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val rels = qrels.filter(col(gradeCol) > 0)
      .select(col(queryCol), col(docCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(docCol))
    runs.select(col(queryCol), col(docCol), col(scoreCol))
      .join(rels, Seq(queryCol, docCol), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
  }

  /** Bradley-Terry preference strengths — the reward-model-shaped fit
    * over pairwise judgments (Bradley & Terry 1952; the MM update of
    * Hunter 2004): item strengths w with
    * P(i beats j) = w_i / (w_i + w_j), iterated
    * w_i ← wins_i / Σ_j n_ij / (w_i + w_j) from a uniform start. Fixed
    * `iters` (the kmeansIters determinism contract — another engine
    * replays the exact schedule); each iteration's strengths round to
    * `roundTo` so cross-engine float-sum order cannot drift the replay.
    * Items that never win get strength 0 after one iteration (the MLE
    * boundary); items never paired don't appear.
    *
    * Scale shape: wins and unordered pair counts are two
    * map-side-combined aggregates of the pair stream (the pair-count
    * frame is persisted — each iteration re-reads IT, never the raw
    * pairs); per iteration the item-sized strengths broadcast onto the
    * pair counts, one pair-sized union + item-sized aggregate. State
    * never exceeds (distinct pairs + items). The item-sized result is
    * eagerly localCheckpoint'ed so the pair-count cache can be DROPPED
    * before returning — a lingering persist both grows the session cache
    * unboundedly across a long run and lets CacheManager plan-matching
    * silently serve a later measured pass from an earlier pass's cache
    * (the q_ppl_buckets lie-low trap, round 11). */
  def bradleyTerryStrengths(pairs: DataFrame, winnerCol: String,
      loserCol: String, iters: Int = 3, roundTo: Int = 6): DataFrame = {
    val (plan, pc) = bradleyTerryStrengthsPlan(pairs, winnerCol, loserCol,
      iters, roundTo)
    // materialize the item-sized strengths (eager) BEFORE unpersisting:
    // the iterations only built a plan referencing pc's InMemoryRelation,
    // so dropping the cache any earlier would make each of the 2·iters
    // occurrences recompute the pair aggregate from the raw stream
    val out = plan.localCheckpoint(true)
    pc.unpersist()
    out
  }

  /** The LAZY strengths plan + the persisted pair-count frame it rides —
    * the auditable internals of [[bradleyTerryStrengths]] (PlanAuditSpec
    * pins the per-iteration broadcast joins HERE; the public entry point
    * returns an eager item-sized checkpoint whose plan is just the
    * checkpoint scan). Callers of THIS variant own the unpersist. */
  private[graft] def bradleyTerryStrengthsPlan(pairs: DataFrame,
      winnerCol: String, loserCol: String, iters: Int = 3,
      roundTo: Int = 6): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val typed = pairs.select(col(winnerCol).cast("string").as("__w"),
      col(loserCol).cast("string").as("__l"))
    // ONE pass over the raw pair stream builds the persisted pair-count
    // frame; `wins` and `items` then DERIVE from that cache instead of
    // re-aggregating the stream. This matters because the unrolled
    // iterations reference `w` (hence `wins`/`items`) at every nesting
    // level — 2^iters plan occurrences — and before round 17 each
    // occurrence re-ran the caller's (possibly join-shaped) pair plan:
    // q_bradley_terry measured 18.9 CPU-s / 2.4 s wall for a
    // dimension-sized fit (30 Spark jobs). `__wa` (wins by the
    // lexicographically smaller item) makes per-item win totals exactly
    // recoverable from the undirected counts: wins(i) = Σ __wa over rows
    // with __a = i plus Σ (__n − __wa) over rows with __b = i; a
    // degenerate i-beats-i row lands once (1 + 0), matching the direct
    // group-by.
    val pc = typed
      .select(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"),
        when(col("__w") <= col("__l"), 1.0).otherwise(0.0).as("__w1"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__w1")).as("__wa"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wins = pc.select(col("__a").as("item"), col("__wa").as("__v"))
      .unionByName(pc.select(col("__b").as("item"),
        (col("__n") - col("__wa")).as("__v")))
      .groupBy(col("item")).agg(sum(col("__v")).as("__wins"))
      .filter(col("__wins") > 0)
    val items = pc.select(col("__a").as("item"))
      .union(pc.select(col("__b").as("item"))).distinct()
    // Each iteration's strengths frame is ITEM-SIZED by construction (the
    // fit is over dimension-scale entities: langs, models, sources), so
    // all but the LAST iteration materialize to a driver LocalRelation —
    // the same dimension-bounded collect the ANN codebook loop uses.
    // Leaving every level lazy instead nests the plan exponentially (w
    // appears twice per level as a broadcast side): round 17 measured the
    // all-lazy iters=2 fit at 30 Spark jobs / 18.9 CPU-s, and a
    // cache-derived wins/items variant at 109 jobs — the localization
    // collapses each iteration to a couple of jobs over the persisted
    // pair counts. Doubles round-trip the driver exactly, so results are
    // bit-identical to the lazy plan. The returned plan is the last
    // iteration UNmaterialized (callers and PlanAuditSpec audit the
    // per-iteration join shape there).
    def localize(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    // wins/items localize once up front for the same reason: left lazy,
    // each appears at every iteration level and re-runs its union+agg
    // over the cache (32 shuffle-partition stages of pure dispatch
    // overhead at dimension scale).
    val winsL = broadcast(localize(wins))
    var w = localize(items).withColumn("__s", lit(1.0))
    for (i <- 1 to iters) {
      val withA = pc
        .join(broadcast(w.select(col("item").as("__a"), col("__s").as("__sa"))),
          Seq("__a"))
        .join(broadcast(w.select(col("item").as("__b"), col("__s").as("__sb"))),
          Seq("__b"))
      val contrib = withA
        .select(col("__a").as("item"),
          (col("__n") / (col("__sa") + col("__sb"))).as("__c"))
        .unionByName(withA.select(col("__b").as("item"),
          (col("__n") / (col("__sa") + col("__sb"))).as("__c")))
      val denom = contrib.groupBy(col("item")).agg(sum(col("__c")).as("__d"))
      // a WINNING item's strength floors at one rounding ulp: round-6 can
      // snap a tiny-but-positive strength to exactly 0.0, and a pair of
      // two such items would divide by zero next iteration (Infinity
      // contributions silently zeroing the fit). Zero-win items stay at
      // the true 0.0 MLE boundary — they never sit on both sides of a
      // positive denominator.
      val raw = round(coalesce(col("__wins"), lit(0.0)) / col("__d"), roundTo)
      val next = denom.join(winsL, Seq("item"), "left")
        .select(col("item"),
          when(coalesce(col("__wins"), lit(0.0)) > 0,
            greatest(raw, lit(math.pow(10.0, -roundTo))))
            .otherwise(lit(0.0)).as("__s"))
      w = if (i < iters) localize(next) else next
    }
    (w.select(col("item"), col("__s").as("strength")), pc)
  }

  /** GPT-style packed TOKEN-ID sequences — the final training artifact:
    * documents tokenized to ids (E101/E112), laid end-to-end in id order,
    * and cut into fixed `contextTokens` sequences (docs span boundaries,
    * exactly like [[packChunks]] whose distributed prefix-sum this
    * reuses). Returns (seq_id, n_tokens, token_ids) with ids joined as a
    * comma string for cross-engine value compare; the last sequence may
    * be short.
    *
    * Scale shape: tokenize is a zero-shuffle map; the global offset is
    * the two-pass bucketed prefix sum (never a single-partition
    * window); the only fan-out is posexplode of ids the scan already
    * produced, and the final aggregate groups by sequence — shuffle rows
    * = token count, each row 3 small integers. */
  def packedTokenIds(docs: DataFrame, idCol: String, textCol: String,
      merges: graft.expressions.BpeMerges, contextTokens: Int): DataFrame = {
    require(contextTokens > 0,
      s"contextTokens must be positive, got $contextTokens")
    // NULL text contributes zero tokens (the packChunks convention) —
    // without the coalesce, size(NULL) under legacy sizeOfNull is -1 and
    // would shift every later document's global offset
    val withIds = docs.select(col(idCol),
        coalesce(graft.functions.Bpe.tokenIds(col(textCol), merges),
          array().cast("array<int>")).as("__ids"))
      .withColumn("__n", size(col("__ids")).cast("long"))
    val cum = graft.ops.TimeSeriesOps.scanCumSumLong(
      withIds, Seq(idCol), "__n", "__cum")
    cum.withColumn("__start", col("__cum") - col("__n"))
      .select(col(idCol), col("__start"),
        posexplode(col("__ids")).as(Seq("__p", "__tid")))
      .withColumn("__gpos", col("__start") + col("__p"))
      .withColumn("seq_id",
        floor(col("__gpos") / lit(contextTokens.toDouble)).cast("long"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("__gpos"), col("__tid")))),
          _.getField("__tid").cast("string")), ",").as("token_ids"))
  }

  /** Retrieval-style sliding-window chunking — the complement of
    * [[packChunks]]: each document is cut into overlapping windows of
    * `chunkTokens` tokens advancing by `strideTokens` (overlap =
    * chunk − stride tokens keeps context across cuts — the standard RAG
    * corpus shape), never crossing document boundaries. The final window
    * of a doc may be shorter; every token of every doc is covered.
    *
    * Scale shape: a pure per-row expression chain (split → sequence of
    * starts → one posexplode) — zero shuffle at any corpus size, and the
    * explode fan-out is len/stride rows per doc, bounded by the text the
    * scan already read. */
  def slidingChunks(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < stride <= chunk, got chunk=$chunkTokens stride=$strideTokens")
    val toks = split(col(textCol), " ")
    val starts = sequence(lit(0),
      greatest(size(toks) - 1, lit(0)), lit(strideTokens))
    // NULL-text docs emit no chunks (matching the SQL replay, where
    // generate_series over a NULL length yields no rows) — without the
    // filter they would emit one (id, 0, null, null) row
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        transform(starts, s => array_join(slice(toks, s + 1, lit(chunkTokens)), " ")))
        .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
  }

  /** Sentence-aware chunking: cut each document into ≈`maxTokens`-token
    * chunks at SENTENCE boundaries (never mid-sentence) — the RAG/eval
    * chunk shape where [[slidingChunks]]'s fixed windows would sever
    * clauses. Sentences come from
    * [[graft.functions.TextFunctions.sentences]]; a sentence lands in
    * chunk ⌊tokens-before-it / maxTokens⌋, so a chunk may overrun
    * `maxTokens` by at most one sentence − 1 token and underrun when a
    * long sentence follows — the PARTITION-BY-PREFIX-SUM form of greedy
    * filling, chosen because true greedy reset-on-overflow is a
    * sequential dependency no window expresses (same argument as
    * budgetSelect) while the prefix form is deterministic and
    * SQL-replayable. A sentence longer than `maxTokens` becomes its own
    * over-budget chunk (never split) — and because its token mass spans
    * more than one bucket, chunk indices are ORDERED BUT MAY SKIP values
    * after it (consumers needing dense ids re-rank per doc). Returns one
    * row per chunk: (idCol, chunk_idx, chunk_text, n_tokens, n_sentences).
    *
    * Scale shape: the sentence explode fans out to rows the scan already
    * read; the prefix sum and re-assembly are per-DOC windows/aggregates
    * (partitioned by id — never global), one shuffle end to end. */
  def sentenceChunks(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int,
      tokenCountFn: Column => Column =
        graft.functions.TextFunctions.tokenCount): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    import org.apache.spark.sql.expressions.Window
    val sent = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(
        graft.functions.TextFunctions.sentences(col(textCol)))
        .as(Seq("__pos", "__s")))
      .withColumn("__n", tokenCountFn(col("__s")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = sent.withColumn("__before",
        coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("chunk_idx", (col("__before") / maxTokens).cast("long"))
    chunked.groupBy(col(idCol), col("chunk_idx"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__s")))),
          _.getField("__s")), " ").as("chunk_text"),
        sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_sentences"))
  }

  /** Concat-then-chunk sequence packing: lay documents end-to-end in a
    * deterministic order and cut the token stream every `budgetTokens` —
    * exactly the packing GPT-style pretraining uses (documents may span a
    * chunk boundary; `chunk_id`/`chunk_end_id` name the chunks a doc
    * touches).
    *
    * The token-offset prefix sum is `TimeSeriesOps.scanCumSumLong` — the
    * distributed two-pass bucketed scan, NOT a single-partition
    * global window, so packing a 100 TB corpus parallelizes: pass 1 is
    * per-partition, pass 2 scans one row per partition. Token counts are
    * longs → integer addition re-associates exactly → offsets are
    * bit-identical to a sequential scan regardless of partitioning. */
  def packChunks(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long,
      tokenCountFn: Column => Column = TextFunctions.tokenCount): DataFrame = {
    // NULL text packs as a zero-token doc (tokenCount(NULL) is NULL, which
    // would otherwise null out the whole chunk assignment chain).
    // `tokenCountFn` swaps in a REAL tokenizer's count — e.g.
    // Bpe.tokenCount(_) budgets with merges-table BPE tokens (E101) while
    // the default stays the cheap whitespace counter.
    val withTok = docs.select(col(idCol),
      coalesce(tokenCountFn(col(textCol)), lit(0L)).as("n_tokens"))
    val cum = TimeSeriesOps.scanCumSumLong(withTok, Seq(idCol), "n_tokens", "cum_tokens")
    cum
      .withColumn("start_offset", col("cum_tokens") - col("n_tokens"))
      .withColumn("chunk_id", floor(col("start_offset") / budgetTokens))
      // a zero-token doc spans no tokens: its "last token" clamps to its
      // start offset so chunk_end_id == chunk_id (never -1 / never below
      // chunk_id when the offset sits exactly on a budget boundary)
      .withColumn("chunk_end_id",
        floor(greatest(col("cum_tokens") - 1, col("start_offset")) / budgetTokens))
      .select(idCol, "n_tokens", "start_offset", "chunk_id", "chunk_end_id")
  }

  /** NO-SPLIT sequence packing — [[packChunks]]' complement for samples
    * that must stay ATOMIC (SFT conversations, retrieval passages, eval
    * items: splitting one across sequences corrupts the sample). Two
    * greedy disciplines, both bit-deterministic (`orderBy`):
    * `"id"` folds in global-rank order with ONE open bin (streaming
    * next-fit — order-preserving, the default); `"lengthDesc"` is
    * classic FIRST-FIT-DECREASING — docs fold longest-first and each
    * takes the first open bin with room, so short docs backfill the
    * gaps and padding drops materially ([[graft.Scale]]'s `pack_ffd_scale`
    * section and the README table quote the delta). A document longer
    * than the context gets a bin of its own in either mode (flagged
    * `oversize` in the report — the caller decides truncate/drop via
    * e.g. [[SftExport]]'s --oversize; the packer never splits).
    *
    * Greedy packing is inherently SEQUENTIAL (each bin boundary depends
    * on the running remainder — not prefix-summable), so the scalable
    * form bounds the sequential scope: [[TimeSeriesOps.scanCumSumLong]]'s
    * deterministic global ranks cut the corpus into `groupSize`-doc
    * GROUPS, each group collects to one array row (bounded by
    * construction — the codebook/shortlist collect pattern, here per-row
    * instead of per-driver) and a higher-order `aggregate` folds the
    * greedy rule over it; bins never cross groups, so the only packing
    * loss vs a fully sequential pass is ≤ one underfull bin per group
    * (≤ contextTokens · corpus/groupSize tokens — at groupSize 4096 that
    * is noise), and the result is bit-deterministic on any cluster
    * layout. Returns one row per document: (idCol, n_tokens, grp,
    * bin_in_grp) — the bin id is LOCAL to its group and restarts at 0;
    * the globally unique sequence key is the PAIR (grp, bin_in_grp),
    * which is what [[packNoSplitReport]] and the oracle aggregate on. */
  def packNoSplit(docs: DataFrame, idCol: String, textCol: String,
      contextTokens: Long, groupSize: Int = 4096,
      tokenCountFn: Column => Column = TextFunctions.tokenCount,
      orderBy: String = "id"): DataFrame = {
    require(contextTokens > 0, s"contextTokens must be positive, got $contextTokens")
    require(groupSize > 0, s"groupSize must be positive, got $groupSize")
    require(Seq("id", "lengthDesc").contains(orderBy),
      s"orderBy must be 'id' or 'lengthDesc', got '$orderBy'")
    val withLen = docs.select(col(idCol).cast("long").as("__id"),
      coalesce(tokenCountFn(col(textCol)), lit(0L)).as("__len"))
    val ranked = assignGlobalIds(withLen, Seq("__id"), out = "__gid")
    // fold order within the group: "id" = global-rank order (stable,
    // stream-friendly); "lengthDesc" = first-fit-DECREASING (classic
    // FFD — long docs place first, short ones backfill the gaps, which
    // typically cuts padding materially; see packNoSplitReport). Both
    // keys are total orders (gid tiebreak), so both stay
    // bit-deterministic on any cluster layout, and the oracle replays
    // either by flipping one ORDER BY.
    val sortKey = if (orderBy == "id") col("__gid") else -col("__len")
    val grouped = ranked
      .withColumn("__grp", floor(col("__gid") / groupSize).cast("long"))
      .groupBy(col("__grp"))
      .agg(array_sort(collect_list(struct(sortKey.as("__k"),
        col("__gid"), col("__id"), col("__len")))).as("__docs"))
    // the greedy fold. orderBy = "id": streaming NEXT-FIT — state
    // (filled, bin, bins), ONE open bin, a doc that would overflow a
    // non-empty bin opens the next (an oversize doc into an empty bin
    // stays — atomic, never split). orderBy = "lengthDesc": classic
    // FIRST-FIT-DECREASING — the state carries every open bin's fill
    // level and each doc takes the FIRST bin with room (opening one
    // only when none fits), which is what lets short docs backfill the
    // gaps long docs leave; O(bins) per doc, bounded by groupSize. An
    // oversize doc fits no bin and opens its own, same atomicity.
    val lens = transform(col("__docs"), d => d.getField("__len"))
    val bins = if (orderBy == "lengthDesc") aggregate(lens,
      struct(array().cast("array<bigint>").as("fills"),
        array().cast("array<bigint>").as("bins")),
      (acc, len) => {
        val fills = acc.getField("fills")
        // first open bin with room, 1-based; NULL = open a new one.
        // sequence(1, 0) would DESCEND — guard the empty state
        val fit = when(size(fills) === 0, lit(null).cast("integer"))
          .otherwise(get(filter(sequence(lit(1), size(fills)),
            i => element_at(fills, i) + len <= contextTokens), lit(0)))
        struct(
          when(fit.isNull, concat(fills, array(len)))
            .otherwise(transform(sequence(lit(1), size(fills)),
              i => when(i === fit, element_at(fills, i) + len)
                .otherwise(element_at(fills, i)))).as("fills"),
          concat(acc.getField("bins"),
            array((coalesce(fit, size(fills) + 1) - 1).cast("bigint")))
            .as("bins"))
      },
      acc => acc.getField("bins"))
    else aggregate(lens,
      struct(lit(0L).as("filled"), lit(0L).as("bin"),
        array().cast("array<bigint>").as("bins")),
      (acc, len) => {
        val over = acc.getField("filled") > 0 &&
          acc.getField("filled") + len > contextTokens
        struct(
          when(over, len).otherwise(acc.getField("filled") + len).as("filled"),
          when(over, acc.getField("bin") + 1).otherwise(acc.getField("bin"))
            .as("bin"),
          concat(acc.getField("bins"),
            array(when(over, acc.getField("bin") + 1)
              .otherwise(acc.getField("bin")))).as("bins"))
      },
      acc => acc.getField("bins"))
    grouped
      .select(col("__grp"),
        explode(arrays_zip(col("__docs"), bins.as("__bin")))
          .as("__z"))
      .select(col("__z.__docs.__id").as(idCol),
        col("__z.__docs.__len").as("n_tokens"),
        col("__grp").as("grp"),
        col("__z.__bin").as("bin_in_grp"))
  }

  /** Padding-efficiency report over a [[packNoSplit]] assignment: one row
    * per (grp, bin) with doc count, token sum, padding at `contextTokens`
    * and the oversize flag (a single atomic doc longer than the context —
    * pad 0, the caller's truncate/drop decision). One bin-sized
    * aggregate. */
  def packNoSplitReport(packed: DataFrame, contextTokens: Long): DataFrame =
    packed.groupBy(col("grp"), col("bin_in_grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .select(col("grp"), col("bin_in_grp"), col("n_docs"), col("tokens"),
        greatest(lit(contextTokens) - col("tokens"), lit(0L)).as("pad"),
        (col("tokens") > contextTokens).as("oversize"))

  /** Per-document sequence OFFSETS for an atomic ([[packNoSplit]])
    * packing, with the OVERSIZE DECISION applied — the bridge between
    * the packer (which never splits and only FLAGS a too-long doc) and
    * an exporter that must ship fixed-context tensors:
    *
    *  - `oversize = "truncate"`: an oversize doc keeps exactly its first
    *    `contextTokens` BPE ids — token-exact truncation on the SAME ids
    *    path the export ships (`truncated ids == prefix of full ids` is
    *    spec-pinned), so the emitted sequence is still real model input;
    *  - `oversize = "drop"`: oversize docs leave the corpus (their lone
    *    bins vanish with them).
    *
    * Returns one row per surviving document: (idCol, grp, bin_in_grp,
    * n_tokens_doc (pre-policy), n_tokens (post-policy = shipped),
    * start_in_seq (token offset of this doc inside its (grp, bin)
    * sequence, in fold order), oversize flag, token_ids
    * (post-policy id array)). Scale shape: the packer's two-pass rank
    * scan + one id-keyed join of the ids map pass + ONE fine-grained
    * window (partitioned by (grp, bin) — thousands of tiny partitions,
    * never a global sort). */
  def packNoSplitOffsets(docs: DataFrame, idCol: String, textCol: String,
      merges: graft.expressions.BpeMerges, contextTokens: Int,
      groupSize: Int = 4096, orderBy: String = "id",
      oversize: String = "truncate"): DataFrame = {
    require(Seq("truncate", "drop").contains(oversize),
      s"oversize must be 'truncate' or 'drop', got '$oversize'")
    val cnt = graft.functions.Bpe.tokenCount(_: Column, merges)
    val packed = packNoSplit(docs, idCol, textCol, contextTokens.toLong,
      groupSize, cnt, orderBy)
    val ids = docs.select(col(idCol),
      coalesce(graft.functions.Bpe.tokenIds(col(textCol), merges),
        array().cast("array<int>")).as("__ids"))
    val joined = packed.join(ids, Seq(idCol))
      .withColumn("__over", col("n_tokens") > contextTokens)
    val surviving =
      if (oversize == "drop") joined.filter(!col("__over"))
      else joined.withColumn("__ids",
        when(col("__over"), slice(col("__ids"), 1, contextTokens))
          .otherwise(col("__ids")))
    // layout order inside a sequence = the packer's fold order
    val orderCols =
      if (orderBy == "id") Seq(col(idCol).cast("long"))
      else Seq((-col("n_tokens")).cast("long"), col(idCol).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("bin_in_grp"))
      .orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    surviving
      .withColumn("__np", size(col("__ids")).cast("long"))
      .select(col(idCol), col("grp"), col("bin_in_grp"),
        col("n_tokens").as("n_tokens_doc"),
        col("__np").as("n_tokens"),
        (sum(col("__np")).over(w) - col("__np")).as("start_in_seq"),
        col("__over").as("oversize"),
        col("__ids").as("token_ids"))
  }

  /** ATOMIC packed sequences — [[packNoSplitOffsets]] rolled up to one
    * row per (grp, bin_in_grp): (n_docs, n_tokens, token_ids) with
    * token_ids the comma-joined concatenation in layout order (the
    * [[packedTokenIds]] string convention). With the oversize policy
    * applied, `n_tokens <= contextTokens` holds for EVERY sequence —
    * the exporter's require. */
  def packNoSplitIds(docs: DataFrame, idCol: String, textCol: String,
      merges: graft.expressions.BpeMerges, contextTokens: Int,
      groupSize: Int = 4096, orderBy: String = "id",
      oversize: String = "truncate"): DataFrame =
    packNoSplitRollup(packNoSplitOffsets(docs, idCol, textCol, merges,
      contextTokens, groupSize, orderBy, oversize))

  /** The sequence roll-up alone, over an ALREADY-COMPUTED (typically
    * disk-backed) [[packNoSplitOffsets]] frame — an exporter that just
    * wrote the offsets must aggregate THAT frame rather than re-running
    * the whole tokenize/pack pipeline (review finding: the fused
    * [[packNoSplitIds]] convenience recomputed it from scratch). */
  def packNoSplitRollup(offsets: DataFrame): DataFrame =
    offsets
      .groupBy(col("grp"), col("bin_in_grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        array_join(transform(
          flatten(transform(
            array_sort(collect_list(struct(
              col("start_in_seq"), col("token_ids")))),
            _.getField("token_ids"))),
          i => i.cast("string")), ",").as("token_ids"))

  /** NEEDLE-IN-A-HAYSTACK synthesis — the long-context eval artifact
    * (Kamradt's NIAH and its descendants): plant a KNOWN needle sentence
    * at each of `depths` fractional positions inside a haystack built
    * from corpus text, emitting the exact word offset of the needle so
    * scoring is mechanical (did the model retrieve the code planted at
    * 75% depth of a long context?). The needle value derives from
    * (doc, depth) — `the secret code is k<doc·31+depth_idx>` — so every
    * sample's expected answer is reproducible on any engine with no
    * side table, and the digit suffix cannot collide with corpus words.
    * Pure map: words split once, `slice ⊕ needle ⊕ slice` per depth —
    * the only fan-out is the |depths|-element literal explode. Returns
    * (idCol, depth_idx, depth_frac, n_words, needle_start_word, needle,
    * haystack). */
  def needleHaystack(docs: DataFrame, idCol: String, textCol: String,
      depths: Seq[Double] = Seq(0.0, 0.25, 0.5, 0.75, 1.0)): DataFrame = {
    require(depths.nonEmpty && depths.forall(d => d >= 0.0 && d <= 1.0),
      s"depths must be fractions in [0, 1], got $depths")
    // NULL text = empty haystack host (size(NULL) is NULL and would null
    // the whole splice chain) — the packedTokenIds coalesce convention
    val words = coalesce(
      filter(split(col(textCol), " ", -1), w => length(w) > 0),
      array().cast("array<string>"))
    val exploded = docs
      .select(col(idCol), words.as("__ws"),
        posexplode(typedlit(depths)).as(Seq("depth_idx", "depth_frac")))
    val n = size(col("__ws"))
    val p = floor(col("depth_frac") * n).cast("int")
    val needle = concat(lit("the secret code is k"),
      (col(idCol).cast("long") * 31 + col("depth_idx")).cast("string"))
    exploded.select(col(idCol),
      col("depth_idx").cast("long").as("depth_idx"), col("depth_frac"),
      n.cast("long").as("n_words"),
      p.cast("long").as("needle_start_word"),
      needle.as("needle"),
      array_join(concat(
        slice(col("__ws"), lit(1), p),
        array(needle),
        slice(col("__ws"), p + 1, n - p)), " ").as("haystack"))
  }

  /** STRIDE-SCHEDULED source interleave — the deterministic data-loader
    * order a weighted mixture actually trains in (the runtime twin of
    * the [[mixTemperature]]-style weight PLANNERS, which only say how
    * much of each source; this says in WHICH ORDER the merged stream
    * yields them). Stride scheduling (Waldspurger & Weihl, OSDI '94):
    * item n of source s gets pass value (n + 0.5) / w_s and the merged
    * order sorts by pass — every length-k prefix holds ≈ k·w_s/Σw of
    * each source (low-discrepancy, no RNG), and the schedule is a pure
    * function of (data, weights): reproducible on any cluster layout,
    * resumable from any offset.
    *
    * Weights ride in a COLUMN (join a mixture dim or derive from the
    * source name) — enforced positive at execution time via the folded
    * `assert_true` (the rrfFuse guard pattern: no extra scan, column
    * pruning can't drop it). Fully parallel: per-source ranks and the
    * final merged rank are both [[assignGlobalIds]] two-pass scans (no
    * per-source single-partition windows — a source is usually HUGE),
    * plus one source-sized broadcast of per-source offsets. Returns
    * (idCol, sourceCol, rank_in_source, mix_rank). */
  def strideInterleave(docs: DataFrame, idCol: String, sourceCol: String,
      weightCol: String): DataFrame = {
    val gids = assignGlobalIds(
      docs.select(col(idCol), col(sourceCol), col(weightCol)),
      Seq(sourceCol, idCol), out = "__gid")
    val offsets = broadcast(gids.groupBy(col(sourceCol))
      .agg(min(col("__gid")).as("__off")))
    val guard = coalesce(assert_true(col(weightCol) > 0,
      lit(s"strideInterleave: $weightCol must be positive for every row")),
      lit(0.0))
    val passed = gids.join(offsets, Seq(sourceCol))
      .withColumn("rank_in_source", col("__gid") - col("__off"))
      .withColumn("__pass",
        (col("rank_in_source").cast("double") + 0.5)
          / col(weightCol).cast("double") + guard)
    assignGlobalIds(passed, Seq("__pass", sourceCol, idCol), out = "mix_rank")
      .select(col(idCol), col(sourceCol), col("rank_in_source"),
        col("mix_rank"))
  }
}
