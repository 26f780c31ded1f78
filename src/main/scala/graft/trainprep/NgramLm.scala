package graft.trainprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Word-level n-gram language model with STUPID BACKOFF — the CCNet-class
  * quality filter (Wenzek et al. 2020 score web text with a reference-
  * domain LM and keep the low-perplexity tail; Brants et al. 2007 showed
  * the unnormalized backoff score `S(w2|w1) = c12/c1, else α·c2/T` is all
  * a LARGE corpus needs — no discounting mass to tune, every quantity a
  * plain count ratio, which is also exactly what makes the score
  * replayable in any SQL engine). Complements [[TrainPrep]]'s
  * char-trigram NLL (`charTrigramNll` — robust to tokenization, blind to
  * word choice): the word-bigram score is the one that separates "fluent
  * but off-domain" from "in-domain" text, the CCNet head/tail axis.
  *
  * Scale shape: training is two hash aggregates over the token /
  * transition streams (map-side partial combine applies — the shuffle
  * carries (word, partial-count) records, vocabulary-sized per task, not
  * token-sized). Scoring explodes each doc into its transition stream
  * and resolves counts with TWO equi-joins (the [[bigramModel]] table —
  * bigram counts with their w1 denominator pre-attached at train time —
  * on (w1, w2), the unigram table on w2) — count tables are
  * vocabulary-sized, so at fixture scale they broadcast and at 100 TB
  * they shuffle-join on word keys exactly like the sharded LMs CCNet
  * runs; the per-doc roll-up is one aggregate. Nothing collects to the
  * driver.
  */
object NgramLm {

  /** Whitespace token stream (the engine-portable split used across the
    * text family — real tokenizers plug in upstream of the LM). */
  private def toks(textCol: Column): Column =
    filter(split(coalesce(textCol, lit("")), " ", -1), w => length(w) > 0)

  /** Unigram counts over the training slice: (w, c). */
  def unigramCounts(train: DataFrame, textCol: String): DataFrame =
    train.select(explode(toks(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Bigram (transition) counts over the training slice: (w1, w2, c12). */
  def bigramCounts(train: DataFrame, textCol: String): DataFrame =
    explodedTransitions(train, Seq.empty, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))

  /** The TRAINED bigram table with its denominator attached:
    * (w1, w2, c12, c1). c1 — the unigram count of w1 — is a property of
    * the trained model, not of the text being scored, so it joins onto
    * the bigram table HERE, at train time, on two vocabulary-sized
    * frames. Scoring then resolves the seen-bigram branch `c12/c1` from
    * ONE lookup instead of joining the token-sized transition stream a
    * third time against the unigram table (at 100 TB that third join is
    * a full extra shuffle of the corpus's transitions; this one is
    * vocabulary-sized). Inner join: every w1 in the bigram table was
    * counted by the unigram pass by construction. */
  def bigramModel(bi: DataFrame, uni: DataFrame): DataFrame =
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))

  /** One row per adjacent-word transition: (keep…, w1, w2). The token
    * array is BOUND to its own projection first — `transitions` references
    * it once per `element_at`, and a Column-level `toks(textCol)` inlined
    * there would re-run the whole split/filter subtree PER ARRAY ACCESS
    * (O(tokens²) per document — measured 80 s for 100 k docs vs ~8 s
    * bound; CollapseProject keeps the two projections apart because the
    * alias is non-cheap and multiply referenced). */
  private def explodedTransitions(df: DataFrame, keep: Seq[String],
      textCol: String): DataFrame =
    df.select(keep.map(col) :+ toks(col(textCol)).as("__ws"): _*)
      .select(keep.map(col) :+ explode(transitions(col("__ws"))).as("__t"): _*)
      .select(keep.map(col) :+ col("__t.w1") :+ col("__t.w2"): _*)

  /** Adjacent-word transition structs of a BOUND token-array column:
    * [(w1, w2), …] — sequence(1, n-1) guarded against the n<2
    * DESCENDING-sequence trap. `ws` must be a plain column reference
    * (see [[explodedTransitions]]), never an unbound expression. */
  private def transitions(ws: Column): Column = {
    val n = size(ws)
    when(n < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(transform(sequence(lit(1), n - 1), i =>
        struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
  }

  /** Per-document stupid-backoff score against a trained (uni, bi, T)
    * model: for each adjacent pair,
    *
    *   S(w2|w1) = c12/c1          when the bigram was seen in training,
    *            = α·c2/T          backoff to the unigram when not,
    *            = α·1/T           out-of-vocabulary w2 (pseudo-count 1),
    *
    * and the document score is the mean negative log over its
    * transitions (`avg_nll`, lower = more in-domain), plus the fraction
    * of transitions that needed backoff (`backoff_rate` — the
    * model-coverage diagnostic: a rate near 1 means the model never saw
    * this domain and the score is mostly the α floor). Documents with
    * fewer than two tokens have no transitions and emit no row (nothing
    * to score — matching the SQL replay, where the lateral unnest over
    * an empty range yields no rows). Returns
    * (idCol, n_trans, backoff_rate, avg_nll). */
  def stupidBackoffNll(docs: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame, totalTokens: Long,
      alpha: Double = 0.4, roundTo: Int = 6): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    // TWO token-stream-sized joins, not three: c1 rides the bigram table
    // ([[bigramModel]] — attached here when the caller hands a plain count
    // table, a vocabulary-sized join either way), and c1 is only CONSUMED
    // in the seen-bigram branch, where the bigram join matched and
    // therefore carried it. PlanAuditSpec pins the Exchange count under
    // shuffle joins, where a third join would re-shuffle the stream.
    val biM = if (bi.columns.contains("c1")) bi else bigramModel(bi, uni)
    val withC1 = explodedTransitions(docs, Seq(idCol), textCol)
      .join(biM.select(col("w1"), col("w2"), col("c12"), col("c1")), Seq("w1", "w2"), "left")
    val scored = withC1
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .withColumn("__s",
        when(col("c12").isNotNull,
          col("c12").cast("double") / col("c1").cast("double"))
          .otherwise(lit(alpha) * coalesce(col("c2"), lit(1L)).cast("double")
            / lit(totalTokens.toDouble)))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trans"),
        round(avg(when(col("c12").isNull, 1.0).otherwise(0.0)), roundTo)
          .as("backoff_rate"),
        round(avg(-log(col("__s"))), roundTo).as("avg_nll"))
  }

  /** DSIR target-domain selection over Xie et al.'s ACTUAL feature space —
    * word n-grams (NeurIPS 2023 §3.2 hashes word uni+bigrams; the
    * char-trigram variant in [[TrainPrep.dsirSelect]] is the
    * tokenization-robust stand-in). Each raw document scores the mean
    * per-TRANSITION log importance ratio
    * `avg[ln p_t(w2|w1) − ln p_r(w2|w1)]` under two add-one-smoothed
    * bigram models — one fit on the (small) target-domain sample, one on
    * the raw corpus itself — normalized per leading word
    * (`c1 = Σ_w2 c12`, the bigram-prefix count, exactly how dsirSelect
    * derives its bigram denominator) and smoothed over the SHARED bigram
    * vocabulary, so the ratio is well-defined for transitions unseen on
    * either side. Top-`k` by score, ties broken by id; docs with fewer
    * than two tokens have no transitions and are never selected (same
    * contract as dsirSelect's <3-char docs).
    *
    * Scale shape (the E55 posture): both count frames are
    * vocabulary²-bounded hash aggregates reusing [[bigramCounts]]'
    * transition machinery, the per-transition log-ratio frame broadcasts,
    * and the raw corpus pays one counting scan plus ONE scoring scan
    * joined against that broadcast — no corpus-sized shuffle ever
    * carries text, and the top-k plans as a distributed TakeOrdered,
    * never a global sort. */
  def dsirSelectWords(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val rawTr = explodedTransitions(raw, Seq(idCol), textCol)
    val cr = rawTr.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cr"))
    val ct = explodedTransitions(target, Seq.empty, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("ct"))
    val voc = cr.select(col("w1"), col("w2"))
      .unionByName(ct.select(col("w1"), col("w2"))).distinct()
    val v = voc.agg(count(lit(1)).as("__vsz"))
    val preR = cr.groupBy(col("w1")).agg(sum(col("cr")).as("c1r"))
    val preT = ct.groupBy(col("w1")).agg(sum(col("ct")).as("c1t"))
    val ratio = voc
      .join(cr, Seq("w1", "w2"), "left")
      .join(ct, Seq("w1", "w2"), "left")
      .join(preR, Seq("w1"), "left")
      .join(preT, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        (log((coalesce(col("ct"), lit(0L)) + 1.0)
            / (coalesce(col("c1t"), lit(0L)) + col("__vsz")))
          - log((coalesce(col("cr"), lit(0L)) + 1.0)
            / (coalesce(col("c1r"), lit(0L)) + col("__vsz")))).as("ratio"))
    rawTr.join(broadcast(ratio), Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(round(avg(col("ratio")), 4).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col(idCol))
      .limit(k)
  }

  /** Jensen–Shannon divergence between every source pair's unigram
    * distribution — the domain-SIMILARITY matrix mixture planning needs
    * (which slices are near-duplicates of a domain vs genuinely new
    * signal; 0 = identical distributions, ln 2 ≈ 0.693 = disjoint
    * vocabularies). Computed from the SHARED-word inner join plus a
    * closed-form tail: for m = (p+q)/2,
    *
    *   JSD = ½·Σ_shared [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
    *       + ½·ln2·[(1 − Σ_shared p) + (1 − Σ_shared q)]
    *
    * because a word on only one side contributes exactly p·ln2 — so the
    * full-outer join the textbook formula implies collapses to an inner
    * join on w plus two scalar tails, which is also what lets DuckDB
    * replay it verbatim. Shape: one (source, w) count aggregate, a
    * source-count-sized totals broadcast, and a self-join on w whose
    * fan-out is vocabulary × co-occurring source pairs (sources are
    * dimension-sized). Returns (source_a < source_b, shared_words,
    * js_div); a pair sharing NO words has no row — its divergence is
    * ln 2 by definition (fully disjoint), not a missing value. */
  def sourceJsDivergence(docs: DataFrame, sourceCol: String,
      textCol: String, roundTo: Int = 6, maxSources: Int = 4096): DataFrame = {
    // Lineage cut (round 18, guide §3.3): the (source, word) count frame is
    // referenced THREE times — the totals aggregate and both sides of the
    // shared-word self-join — and each reference re-ran the full
    // tokenize+explode+groupBy (q_mix_jsd: 13 sequential one-task jobs,
    // 14 Exchanges, the suite's worst floor-normalized query at 2.16×).
    // A LAZY local checkpoint (no extra job — the totals evaluation below
    // materializes it) makes every reference read the one copy. The frame
    // is (source, word, count) — the §8 lightweight proxy, never text.
    val counts = docs
      .select(col(sourceCol).as("__src"), explode(toks(col(textCol))).as("w"))
      .groupBy(col("__src"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // the shared-word self-join below fans out up to sources²/2 rows per
    // universally-shared word — sound only while sources stay
    // dimension-sized, so that contract is REQUIRED, not assumed
    // (r14 verdict watch-item). Zero extra corpus scans: `totals` was
    // already evaluated independently for its broadcast, so checkpointing
    // it here just makes that one evaluation explicit and the row count
    // free.
    val totals = counts.groupBy(col("__src")).agg(sum(col("c")).as("t"))
      .localCheckpoint(true)
    require(totals.count() <= maxSources,
      s"sourceJsDivergence fans out sources²/2 per shared word — got more " +
        s"than $maxSources distinct sources; aggregate upstream (e.g. to " +
        "source families) or raise maxSources deliberately")
    val p = counts.join(broadcast(totals), Seq("__src"))
      .select(col("__src"), col("w"),
        (col("c").cast("double") / col("t").cast("double")).as("p"))
    val a = p.select(col("__src").as("source_a"), col("w"), col("p").as("pa"))
    val b = p.select(col("__src").as("source_b"), col("w"), col("p").as("pb"))
    val ln2 = math.log(2.0)
    val shared = a.join(b, Seq("w"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_words"),
        sum(col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb")))
          + col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
          .as("__core"),
        sum(col("pa")).as("__sa"), sum(col("pb")).as("__sb"))
    shared.select(col("source_a"), col("source_b"), col("shared_words"),
      round(lit(0.5) * col("__core")
        + lit(0.5) * lit(ln2) * ((lit(1.0) - col("__sa"))
          + (lit(1.0) - col("__sb"))), roundTo).as("js_div"))
  }
}
