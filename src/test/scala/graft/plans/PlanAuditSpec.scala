package graft.plans

import org.apache.spark.sql.DataFrame

import graft.{Alone, SparkSpec}

/** README "Scale posture" claims as executable assertions: the plans the
  * engine promises are the plans Catalyst actually produces on the driver's
  * testdata. Each check runs the query (AQE finalizes plans at runtime) and
  * then inspects the executed plan.
  */
class PlanAuditSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, Sf)
    df.collect() // finalize AQE
    // the bridge prints AQE's finalPhysicalPlan directly — splitting
    // toString at "== Initial Plan ==" truncated every node below a
    // cached subtree, whose nested adaptive plan prints its own initial
    // section mid-tree
    org.apache.spark.sql.GraftBridge.finalPlanString(df)
  }

  test("q_s1_range_scan pushes the time-range predicate into the parquet scan") {
    val plan = executedPlan("q_s1_range_scan")
    assert(plan.contains("PushedFilters:"), plan.take(500))
    assert("PushedFilters: \\[[^\\]]*GreaterThan".r.findFirstIn(plan).nonEmpty
      || "PushedFilters: \\[[^\\]]*ThanOrEqual".r.findFirstIn(plan).nonEmpty,
      "range predicate must reach the scan:\n" + plan.take(800))
  }

  test("q3_shipping broadcasts its dimension tables") {
    val plan = executedPlan("q3_shipping")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q_topk plans as TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("GlobalSort"), plan.take(800))
  }

  test("q_knn_cosine reranks with TakeOrdered over the fused cosine (no global sort)") {
    val plan = executedPlan("q_knn_cosine")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("vec_cosine") || plan.contains("FloatVecCosine"),
      "fused cosine expression must appear in the plan:\n" + plan.take(800))
  }

  test("q_dedup_exact is a single digest shuffle with map-side partials") {
    val plan = executedPlan("q_dedup_exact")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "exact dedup must shuffle exactly once, on the digest:\n" + plan.take(1200))
    assert(plan.contains("HashAggregate"), "digest groupBy must hash-aggregate")
  }

  test("q_sample_hash scan reads only the projected columns") {
    val plan = executedPlan("q_sample_hash")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.nonEmpty, plan.take(800))
    assert(read.get.split(",").length == 2 && read.get.contains("doc_id")
      && read.get.contains("source"),
      s"expected 2-column ReadSchema, got ${read.get}")
  }

  test("q_a2_resample partially aggregates map-side before its one shuffle") {
    val plan = executedPlan("q_a2_resample")
    assert("partial_".r.findFirstIn(plan).nonEmpty
      || plan.contains("HashAggregate"), plan.take(800))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "resample must shuffle exactly once:\n" + plan.take(1200))
  }

  test("q_s7_hychan windows partition by a key - no single-partition sort") {
    assert(executedPlan("q_s7_hychan").nonEmpty)
    // the frame parse of q_s7_hychan, q_s7_discharge and q_s8_timdep orders
    // its lines with one exchange keyed by file, then sorts within it
    import org.apache.spark.sql.functions.{col, lit}
    val lines = spark.range(1000).select((col("id") % 3).cast("string").as("file"),
      col("id").as("line_no"), lit("   1.0   2.0").as("line"))
    val ordered = graft.extract.FloOutputParsers.byFile(lines)
    ordered.collect()
    val plan = org.apache.spark.sql.GraftBridge.finalPlanString(ordered)
    val keyed = plan.linesIterator.filter(ExchangeLine.findFirstIn(_).nonEmpty).toSeq
    assert(keyed.size == 1 && keyed.head.contains("hashpartitioning(file"),
      "the frame parse must shuffle once, keyed by file:\n" + plan.take(1500))
    assert(!plan.contains("SinglePartition") && !plan.contains("rangepartitioning"),
      "the frame parse must not funnel into one partition or range-sample:\n" +
        plan.take(1500))
  }

  test("q_deck_raincell computes seq arithmetically - no window at all") {
    val plan = executedPlan("q_deck_raincell")
    assert(!plan.contains("Window"),
      "the 15M-line deck must not funnel through WindowExec:\n" + plan.take(1200))
  }

  test("q14_promo broadcasts part and prunes the lineitem scan") {
    val plan = executedPlan("q14_promo")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the RANGE itself must push, not just IsNotNull(l_shipdate)
    assert("GreaterThanOrEqual\\(l_shipdate".r.findFirstIn(plan).nonEmpty
      && "LessThan\\(l_shipdate".r.findFirstIn(plan).nonEmpty,
      "shipdate range bounds must reach the scan:\n" + plan.take(1200))
  }

  test("tfIdf with supplied N scans the corpus exactly once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // descend through AQE stages but NOT into InMemoryRelation.cachedPlan:
    // a FileSourceScanExec in the consuming tree would mean a direct corpus
    // re-read; cache scans mean the text was materialized once
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val df = graft.trainprep.TrainPrep.tfIdf(docs, "doc_id", "text", nDocs = 1000L)
    try {
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val fileScans = nodes.count(_.isInstanceOf[FileSourceScanExec])
      val cacheScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec])
      assert(fileScans == 0,
        s"single-scan TF-IDF must not re-read the corpus, saw $fileScans file scans")
      assert(cacheScans == 2,
        s"both tf and df branches must read the cached intermediate, saw $cacheScans")
    } finally spark.catalog.clearCache()
  }

  test("q_ann_batch: one corpus scan, broadcast query block, bounded partial top-k") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val df = graft.SparkEntry.queries("q_ann_batch")(spark, Sf)
    df.collect()
    val plan = org.apache.spark.sql.GraftBridge.finalPlanString(df)
    val nodes = flatten(df.queryExecution.executedPlan)
    val fileScans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    // exactly two file scans: the corpus ONCE (not once per query) and
    // the broadcast query block — a per-query loop would plan 100 scans
    assert(fileScans == 2,
      s"batched retrieval must scan the corpus once, saw $fileScans scans:\n" +
        plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "the query block must broadcast:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "the score join must never be a shuffled cartesian:\n" + plan.take(1200))
    // the bounded top-k aggregate folds map-side BEFORE the exchange —
    // the shuffle carries k-entry buffers, not |corpus| × |queries| rows
    assert(plan.contains("partial_score_topk") ||
      "ObjectHashAggregate.*score_topk".r.findFirstIn(plan).nonEmpty,
      "partial top-k must appear below the exchange:\n" + plan.take(2000))
  }

  test("q_ann_batch_pq: query-count-independent scan count, broadcast LUT block, partial top-k") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val df = graft.SparkEntry.queries("q_ann_batch_pq")(spark, Sf)
    df.collect()
    val plan = org.apache.spark.sql.GraftBridge.finalPlanString(df)
    val nodes = flatten(df.queryExecution.executedPlan)
    val fileScans = nodes.count(_.isInstanceOf[FileSourceScanExec])
    // a FIXED scan count however many queries ride the block: the ADC
    // stage reads the codes once + the query block; the rerank stage
    // re-reads the corpus once for the union shortlist + the block for
    // the vector re-attach — 4 total, where a 20-query loop plans 20+
    assert(fileScans <= 4,
      s"batched PQ must plan a query-count-independent scan count, saw " +
        s"$fileScans scans:\n" + plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "the LUT query block must broadcast:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct"),
      "the ADC join must never be a shuffled cartesian:\n" + plan.take(1200))
    assert(plan.contains("partial_score_topk") ||
      "ObjectHashAggregate.*score_topk".r.findFirstIn(plan).nonEmpty,
      "partial top-k must appear below the exchange:\n" + plan.take(2000))
  }

  test("q_dedup_keepers_fast signs without shuffling (rowwise expression inside)") {
    val df = graft.SparkEntry.queries("q_dedup_keepers_fast")(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("minhash_sigs"),
      "zero-shuffle signature expression must appear:\n" + plan.take(1200))
  }

  test("q_mm_real_video synthesize→decode is one map chain — no shuffle at all") {
    // container synthesis and header parse are both mapPartitions over the
    // id scan; any Exchange here would mean blobs crossing the network
    val plan = executedPlan("q_mm_real_video")
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("q_mix_temperature joins the strata-sized rate frame broadcast — corpus unshuffled") {
    val plan = executedPlan("q_mix_temperature")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus side must never shuffle for the rate join:\n" + plan.take(1200))
  }

  test("q_lm_trigram scores via broadcast joins — the trigram stream never sort-merges") {
    val plan = executedPlan("q_lm_trigram")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "per-trigram log-probs must broadcast onto the exploded stream:\n" + plan.take(1200))
  }

  test("q_dedup_bloom re-checks maybe-positives with a broadcast anti-join") {
    val plan = executedPlan("q_dedup_bloom")
    assert(plan.contains("LeftAnti"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "only the fpp-bounded sliver may join, and broadcast at this ref size:\n" + plan.take(1200))
  }

  test("q_ann_pq encode+ADC is one map chain into TakeOrdered — no shuffle") {
    // codebooks collect nCodes seed rows driver-side; the ranking scan
    // itself is argmin-encode + LUT adds per row, then a TakeOrdered —
    // an Exchange here would mean the ADC scan shuffles the corpus
    val plan = executedPlan("q_ann_pq")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Exchange"),
      "PQ ADC ranking must not shuffle:\n" + plan.take(1200))
    assert(plan.contains("pq_encode"),
      "fused codegen PQ encoder must appear:\n" + plan.take(1200))
  }

  test("q_sketch_overlap pairs slices AFTER aggregation — the join input is slice-sized") {
    // the token explode feeds ONE hash aggregate; the pairwise stage joins
    // the per-slice signature rows (a handful), so no join may sit below
    // the aggregate
    val plan = executedPlan("q_sketch_overlap")
    // min(md5) over strings plans as SortAggregate; either aggregate works
    val aggFirst = "(Sort|Hash)Aggregate".r.findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    val joinAt = math.max(plan.indexOf("BroadcastNestedLoopJoin"),
      math.max(plan.indexOf("SortMergeJoin"), plan.indexOf("BroadcastHashJoin")))
    assert(aggFirst >= 0 && joinAt >= 0, plan.take(1200))
    assert(joinAt < aggFirst, // executed plans print top-down: join above agg
      "the pairwise join must consume aggregated slice rows:\n" + plan.take(1500))
    assert(plan.contains("partial_min"),
      "slice minima must partial-aggregate map-side:\n" + plan.take(1500))
  }

  test("q_quality_lr scores with one doc-level aggregate over bucketed weights") {
    val plan = executedPlan("q_quality_lr")
    // weight lookup is element_at on a literal array — codegen'd, no join
    // against a weight table and no UDF
    assert(!plan.contains("SortMergeJoin"),
      "weights are a broadcast literal, not a joined table:\n" + plan.take(1200))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "scoring path must stay codegen'd:\n" + plan.take(1200))
  }

  test("near-dup verification never explodes tokens into rows") {
    // the verify stage carries token sets as sorted-hash arrays and counts
    // the intersection in-row; the only Generate (explode) nodes allowed in
    // the pairs plan are the LSH bucket-id expansions — none may come from
    // tokenizing text. A token explode here recreates the candidate×token
    // fan-out this design removed.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") < 300).select("doc_id", "text")
    val sig = graft.dedup.Dedup.minhashSignatureRowwise(docs, "doc_id", "text", 4)
    val pairs = graft.dedup.Dedup.verifiedNearDupPairs(
      docs, sig, "doc_id", "text", 4, 2, 0.6)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("sorted_token_hashes"),
      "in-row token-set expression must appear:\n" + plan.take(1200))
    assert(plan.contains("sorted_long_intersect_count"),
      "in-row intersection expression must appear:\n" + plan.take(1200))
    val generateLines = plan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generateLines.forall(!_.contains("split(")),
      "no Generate may explode tokenized text:\n" + generateLines.mkString("\n"))
  }

  test("q_embed_decontaminate is one shuffle-free map pass (eval set rides as literals)") {
    val plan = executedPlan("q_embed_decontaminate")
    assert(!plan.contains("Exchange"),
      "the eval-similarity purge must not shuffle the corpus:\n" + plan.take(1200))
    assert(plan.contains("vec_cosine") || plan.contains("FloatVecCosine"),
      "fused cosine expressions must appear:\n" + plan.take(1200))
  }

  test("q_dsir_select scores via broadcast ratio frame into TakeOrdered — corpus never sort-merges") {
    // the charset³-bounded log-ratio frame must broadcast onto the raw
    // trigram stream, and the top-k must be a distributed TakeOrdered —
    // a SortMergeJoin or global sort here would shuffle the corpus
    val plan = executedPlan("q_dsir_select")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus-side score join must broadcast:\n" + plan.take(1200))
    // the word-bigram variant (E165) shares the posture: vocabulary-sized
    // ratio frame broadcast onto the transition stream, TakeOrdered top-k,
    // text never shuffles (the only exchanges carry (w1, w2, count) rows)
    val words = executedPlan("q_dsir_words")
    assert(words.contains("TakeOrderedAndProject"), words.take(1200))
    assert(words.contains("BroadcastHashJoin"), words.take(1200))
    assert(!words.contains("SortMergeJoin"),
      "the corpus-side score join must broadcast:\n" + words.take(1200))
    assert(!"Exchange hashpartitioning\\([^)\\n]*text".r
        .findFirstIn(words).nonEmpty,
      "text bodies must never shuffle in DSIR scoring:\n" + words.take(1500))
  }

  test("q_lake_changes: key-equi joins only, preimage side broadcasts the batch") {
    // E172's pure change feed: the corpus-side (preimage) semi-join must
    // build on the broadcast batch keys so the lake never shuffles; all
    // three splits are key-equi joins — a cartesian anywhere means the
    // key columns fell out of an equality
    val plan = executedPlan("q_lake_changes")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      "change-feed splits must stay key-equi joins:\n" + plan.take(1500))
  }

  test("q_lake_delete and q_agg_maintain: purge/feed sides broadcast, no cartesian") {
    // E174's pure delete semantics and E175's IVM fold: every join is a
    // key-equi broadcast of the dimension-sized purge set — the corpus
    // side never shuffles for a join — and the maintenance fold's only
    // exchanges are the groupBy hash partitionings (feed- and
    // groups-sized), with map-side partial sums
    for (q <- Seq("q_lake_delete", "q_agg_maintain")) {
      val plan = executedPlan(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q:\n" + plan.take(1200))
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("SortMergeJoin"),
        s"$q must keep the purge/update set broadcast:\n" + plan.take(1500))
    }
    val m = executedPlan("q_agg_maintain")
    assert(m.contains("partial_sum") || m.contains("partial_count"),
      "the IVM fold must combine map-side:\n" + m.take(1500))
  }

  test("q_text_gopher is one shuffle-free select over the scan") {
    // HOF lambdas are CodegenFallback, so the rule arithmetic evaluates
    // interpreted — but in ONE map-side Project with no Exchange: still a
    // single scan pass at any scale
    val plan = executedPlan("q_text_gopher")
    assert(!plan.contains("Exchange"),
      "the Gopher gate must be a pure map pass:\n" + plan.take(1200))
    assert(plan.linesIterator.count(_.trim.startsWith("Project")) == 1,
      "all rules must evaluate in one Project:\n" + plan.take(1200))
  }

  test("q_text_winnow is shuffle-free (fingerprints never leave the row)") {
    val plan = executedPlan("q_text_winnow")
    assert(!plan.contains("Exchange"),
      "winnowing must be a pure map pass:\n" + plan.take(1200))
  }

  test("containment verify intersects in-row; shuffles carry hashes, not text") {
    // production shape: shingle sets ride candidate rows as sorted hash
    // arrays; the only Exchanges are the df-count aggregate, the per-doc
    // prefix window and the candidate joins — none may repartition on the
    // text column, and no Generate may explode tokenized text
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text")
    val pairs = graft.dedup.Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("span_hashes"),
      "rowwise shingle expression must appear:\n" + plan.take(1200))
    assert(plan.contains("sorted_long_intersect_count"),
      "in-row intersection must appear:\n" + plan.take(1200))
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.forall(!_.contains("text")),
      "no shuffle may carry the text column:\n" + exchangeLines.mkString("\n"))
    val generateLines = plan.linesIterator.filter(_.contains("Generate")).toSeq
    assert(generateLines.forall(!_.contains("split(")),
      "no Generate may explode tokenized text:\n" + generateLines.mkString("\n"))
  }

  test("q_kmv_quantile samples via TakeOrdered and scans only (doc_id, n_chars)") {
    val plan = executedPlan("q_kmv_quantile")
    assert(plan.contains("TakeOrderedAndProject"),
      "bottom-k must forward per-partition top-k, not globally sort:\n" + plan.take(1200))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.exists(s => s.contains("doc_id") && s.contains("n_chars")
        && !s.contains("text")),
      "scan must prune to the id + metric columns:\n" + read.getOrElse(""))
  }

  test("q_sample_weighted draws via TakeOrdered — the corpus never globally sorts") {
    val plan = executedPlan("q_sample_weighted")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.exists(!_.contains("text")),
      "scan must not read the text column:\n" + read.getOrElse(""))
  }

  test("q_heavy_hitters estimates in-row: one exchange, no join in the count pass") {
    val plan = executedPlan("q_heavy_hitters")
    assert(!plan.contains("Join"),
      "the pruned count pass must not join — the sketch rides as a literal:\n" +
        plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "only candidate tokens may shuffle, once:\n" + plan.take(1200))
  }

  test("q_fuzzy_join: the declarative levenshtein join plans as the FastSS equi-join") {
    val plan = executedPlan("q_fuzzy_join")
    assert(plan.contains("__graft_h"),
      "FuzzyJoinRewrite must key the join on neighborhood buckets:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the fuzzy join must not nested-loop:\n" + plan.take(1200))
  }

  test("q_bm25 scores in one pass: broadcast 1-row stats, no token explode, TakeOrdered") {
    val plan = executedPlan("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrdered, not a global sort:\n" + plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 1-row stats frame must broadcast onto the scoring scan:\n" + plan.take(1200))
    assert(!plan.contains("Generate"),
      "BM25 must not explode tokens into rows:\n" + plan.take(1200))
    assert(!plan.contains("Exchange hashpartitioning"),
      "no hash shuffle anywhere — stats are a 1-row agg, tf is in-row:\n" + plan.take(1200))
  }

  test("q_semdedup pairs only within cells — hash equi-join, never a cartesian") {
    val plan = executedPlan("q_semdedup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "pairwise cosine must stay bounded by the cell equi-join:\n" + plan.take(1200))
    assert(plan.contains("vec_cosine") || plan.contains("FloatVecCosine"),
      "the fused cosine must verify candidate pairs in-plan:\n" + plan.take(1200))
  }

  test("q_interp_gaps and q_rolling_zscore window per user — one shuffle, no global sort") {
    Seq("q_interp_gaps", "q_rolling_zscore").foreach { q =>
      val plan = executedPlan(q)
      val windowLines = plan.split("\n").filter(_.contains("Window ["))
      assert(windowLines.nonEmpty, s"$q: expected Window operators")
      windowLines.foreach { l =>
        assert("\\], \\[".r.findAllIn(l).length >= 2,
          s"$q: unpartitioned (single-partition) window: ${l.trim.take(200)}")
      }
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"$q: both frames must reuse ONE per-user partitioning:\n" + plan.take(1200))
    }
  }

  test("q_ohlc is one map-side-combined aggregate — no window, no sort") {
    val plan = executedPlan("q_ohlc")
    assert(!plan.contains("Window"), "OHLC must not window:\n" + plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "one shuffle on (user, bucket):\n" + plan.take(1200))
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      "bars must hash-aggregate with partials:\n" + plan.take(1200))
  }

  test("q_twap and q_dim_history reuse ONE per-key exchange across window + aggregate") {
    Seq("q_twap", "q_dim_history").foreach { q =>
      val plan = executedPlan(q)
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"$q: the lead window's per-key partitioning must serve the " +
          s"aggregate too:\n" + plan.take(1200))
      val windowLines = plan.split("\n").filter(_.contains("Window ["))
      windowLines.foreach { l =>
        assert("\\], \\[".r.findAllIn(l).length >= 2,
          s"$q: unpartitioned window: ${l.trim.take(200)}")
      }
    }
  }

  test("q_epoch_order ranks via deterministic buckets — never a single-partition data sort") {
    val plan = executedPlan("q_epoch_order")
    assert(plan.contains("hashpartitioning(__pid"),
      "the global rank must be the two-pass bucketed scan:\n" + plan.take(1200))
    // scanCumSumLong's design has exactly ONE unpartitioned window — the
    // prefix scan over PER-PARTITION TOTALS (__ptot: one row per partition,
    // cluster-sized). Any other unpartitioned window would be a
    // data-volume single-partition sort, which is the failure this audit
    // exists to catch.
    val unpartitioned = plan.split("\n")
      .filter(_.contains("Window ["))
      .filter(l => "\\], \\[".r.findAllIn(l).length < 2)
    assert(unpartitioned.forall(_.contains("__ptot")),
      "unpartitioned window over data-sized input:\n" + unpartitioned.mkString("\n"))
    assert(unpartitioned.length == 1,
      "expected exactly the partition-totals prefix scan:\n" + plan.take(1200))
  }

  test("q_pr_sweep's threshold cumulatives run bucketed, both in ONE scan") {
    val plan = executedPlan("q_pr_sweep")
    assert(plan.contains("hashpartitioning(__pid"),
      "the TP/PP cumulatives must ride the bucketed prefix scan:\n" +
        plan.take(1200))
    // multi-column scanCumSumsLong: both running sums share one per-bucket
    // window (no second Window stage over the data) and one totals prefix
    val dataWindows = plan.split("\n")
      .filter(_.contains("Window ["))
      .filter(l => "\\], \\[".r.findAllIn(l).length >= 2) // partitioned
    assert(dataWindows.length == 1 && dataWindows.head.contains("__local0")
      && dataWindows.head.contains("__local1"),
      "both cumulatives must share the one per-bucket window:\n" +
        dataWindows.mkString("\n"))
  }

  test("q_retrieval_metrics windows partition by query — never the corpus") {
    val plan = executedPlan("q_retrieval_metrics")
    // every rank/ideal window is per-query (parallel across queries); an
    // unpartitioned window here would mean a corpus-sized global sort
    val unpartitioned = plan.split("\n")
      .filter(_.contains("Window ["))
      .filter(l => "\\], \\[".r.findAllIn(l).length < 2)
    assert(unpartitioned.isEmpty,
      "unpartitioned window in the metrics plan:\n" + unpartitioned.mkString("\n"))
    assert(plan.contains("windowspecdefinition(query_id"),
      "rank windows must partition by query:\n" + plan.take(1200))
  }

  test("q_rank_agreement and q_hard_negatives window per query, join on keys") {
    for (name <- Seq("q_rank_agreement", "q_hard_negatives")) {
      val plan = executedPlan(name)
      val unpartitioned = plan.split("\n")
        .filter(_.contains("Window ["))
        .filter(l => "\\], \\[".r.findAllIn(l).length < 2)
      assert(unpartitioned.isEmpty,
        s"$name has an unpartitioned window:\n" + unpartitioned.mkString("\n"))
      assert(plan.contains("windowspecdefinition(query_id"),
        s"$name rank windows must partition by query:\n" + plan.take(1200))
      assert(!plan.contains("CartesianProduct"),
        s"$name must never plan a cartesian over data:\n" + plan.take(1200))
    }
  }

  test("q_bradley_terry broadcasts the item-sized strengths every iteration", Alone) {
    // the public entry point now returns an eager item-sized checkpoint
    // (so the pair-count cache can be RELEASED — the q_ppl_buckets
    // lie-low trap), so the iteration joins are pinned on the LAZY plan
    // variant; the public result must be exactly the checkpoint scan
    // the EXACT q_bradley_terry fixture and iteration count (lang pairs,
    // iters = 2) on the suite-wide Sf — auditing a different dataset or
    // depth would miss a plan regression specific to the real wiring
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val pairs = d.join(
        d.select((col("doc_id") - 1).as("doc_id"), col("lang").as("__lang2")),
        "doc_id")
      .filter(col("lang") =!= col("__lang2"))
      .select(col("lang").as("w"), col("__lang2").as("l"))
    val (lazyPlan, pc) = graft.trainprep.TrainPrep
      .bradleyTerryStrengthsPlan(pairs, "w", "l", iters = 2)
    val plan = lazyPlan.queryExecution.executedPlan.toString
    // both per-iteration strength joins hit the pair-count frame as
    // broadcast hash joins (items are dimension-sized by construction);
    // a sort-merge join here would mean strengths got data-sized
    assert(plan.contains("BroadcastHashJoin"),
      "strengths must broadcast onto pair counts:\n" + plan.take(1200))
    assert(plan.contains("InMemoryTableScan"),
      "iterations must re-read the persisted pair-count frame, not the raw pairs:\n"
        + plan.take(1200))
    pc.unpersist()
    // the public entry point: item-sized checkpoint scan (the plan shows
    // NO join/aggregate — all work ran eagerly so the cache could drop),
    // and the pair-count InMemoryRelation is gone from the session cache
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val pub = graft.trainprep.TrainPrep
      .bradleyTerryStrengths(pairs, "w", "l", iters = 2)
    val pubPlan = pub.queryExecution.executedPlan.toString
    assert(pubPlan.contains("ExistingRDD") && !pubPlan.contains("Join"),
      "public strengths must be the eager checkpoint (cache-release " +
        "posture):\n" + pubPlan.take(600))
    // the only persistence the call may leave behind is its own
    // item-sized checkpoint RDD — the pair-count cache must be released
    // (CacheManager would otherwise serve a later measured bench pass
    // from the warmup's cache: the q_ppl_buckets lie-low trap)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assertIsolated(leaked.size <= 1,
      s"bradleyTerryStrengths leaked ${leaked.size} persisted RDDs")
  }

  test("q_dedup_editdist joins on md5 buckets — no cartesian, no title shuffle") {
    val plan = executedPlan("q_dedup_editdist")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay a bucketed equi-join:\n" + plan.take(1200))
    assert(plan.contains("levenshtein"),
      "the verify step must run in-plan:\n" + plan.take(1200))
    // candidate generation shuffles 32-hex bucket keys, never the variant
    // strings themselves (only the small id-keyed verify join carries keys)
    val exchangeLines = plan.linesIterator.filter(_.contains("hashpartitioning(__h")).toSeq
    assert(exchangeLines.nonEmpty,
      "bucket join must partition on the md5 bucket column:\n" + plan.take(1200))
  }

  test("q_deck_chan joins its three dimension sides broadcast — the pair spine never shuffles") {
    val plan = executedPlan("q_deck_chan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "conditions/observation joins must broadcast:\n" + plan.take(1200))
    assert(!plan.contains("SortMergeJoin"),
      "no deck input is large enough to justify a sort-merge join:\n" + plan.take(1200))
  }

  // The Exchanges (shuffle and broadcast; reuses not counted) each deck
  // query evaluates. Later changes may lower a count, never raise it.
  private val DeckExchanges = Seq("q_deck_raincell" -> 2, "q_deck_rain" -> 2,
    "q_deck_inflow" -> 1, "q_deck_outflow" -> 1, "q_deck_chan" -> 3)
  private val ExchangeLine = """^[\s:+-]*(Broadcast)?Exchange """.r
  private def exchanges(plan: String): Int =
    plan.linesIterator.count(ExchangeLine.findFirstIn(_).nonEmpty)
  private def singlePartitionExchanges(plan: String): Int =
    "Exchange SinglePartition".r.findAllIn(plan).length

  test("each q_deck_* query evaluates no more Exchanges than pinned") {
    DeckExchanges.foreach { case (name, pinned) =>
      val plan = executedPlan(name)
      assert(exchanges(plan) <= pinned,
        s"$name plans ${exchanges(plan)} Exchanges, pinned at $pinned:\n" + plan.take(3000))
    }
  }

  test("the single-file deck write adds one SinglePartition exchange and no range sample") {
    DeckExchanges.foreach { case (name, _) =>
      val deck = graft.SparkEntry.queries(name)(spark, Sf)
      val stream = graft.io.OrderedTextSink.singleStream(deck)
      stream.collect()
      val plan = org.apache.spark.sql.GraftBridge.finalPlanString(stream)
      assert(singlePartitionExchanges(plan) == singlePartitionExchanges(executedPlan(name)) + 1,
        s"$name: the write must add exactly one SinglePartition exchange:\n" + plan.take(3000))
      assert(!plan.contains("rangepartitioning"),
        s"$name: the write must not range-partition (its sample recomputes the deck):\n" +
          plan.take(3000))
    }
  }

  // The flood-plain series over one TIMDEP file shuffles once: the densify
  // groups each block's station readings. q_s8_timdep densifies through the
  // same code. Later changes may lower either count, never raise it.
  private val FloodPlainShuffles = 1
  private val TimdepQueryExchanges = 2
  private def shuffleExchanges(plan: String): Int =
    plan.linesIterator.count("""^[\s:+-]*Exchange """.r.findFirstIn(_).nonEmpty)

  test("the flood-plain series shuffles once and q_s8_timdep's Exchanges stay pinned") {
    import spark.implicits._
    val timdep = java.nio.file.Files.createTempDirectory("fpaudit").resolve("TIMDEP.OUT")
    java.nio.file.Files.writeString(timdep, (1 to 4).map { h =>
      s"   $h.00\n" + (1 to 30).map(c => s"    $c   0.1   0.2   0.3   0.4   $c.$h\n").mkString
    }.mkString)
    val plains = Seq("3", "17", "99").map(c => (c, s"st$c", "FLOOD_PLAIN"))
      .toDF("cell_no", "label", "kind")
    val series = graft.extract.ExtractPipeline.floodPlainSeries(spark, timdep.toString,
      "2024-01-01 00:00:00", plains)
    assert(series.count() === 4 * 3)
    series.collect()
    val plan = org.apache.spark.sql.GraftBridge.finalPlanString(series)
    assert(shuffleExchanges(plan) <= FloodPlainShuffles,
      s"the flood-plain series plans ${shuffleExchanges(plan)} shuffles, pinned at " +
        s"$FloodPlainShuffles:\n" + plan.take(3000))
    val q = executedPlan("q_s8_timdep")
    assert(exchanges(q) <= TimdepQueryExchanges,
      s"q_s8_timdep plans ${exchanges(q)} Exchanges, pinned at $TimdepQueryExchanges:\n" +
        q.take(3000))
  }

  test("q_mm_frames decodes in one map chain — no shuffle before the frame rows") {
    val plan = executedPlan("q_mm_frames")
    assert(!plan.contains("Exchange"),
      "synthesize→decode must be a single mapPartitions chain:\n" + plan.take(1200))
  }

  test("q_dedup_para_capped carries the oversize audit in-pass (CollectMetrics in the executed plan)") {
    val df: DataFrame = graft.SparkEntry.queries("q_dedup_para_capped")(spark, Sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("CollectMetrics"),
      "the capped run must observe drops in the same pass:\n" + plan.take(1200))
  }

  test("q_pit_join plans as an equi-join with the interval test residual — never a nested loop") {
    val plan = executedPlan("q_pit_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "interval membership must ride the keys equi-join as a residual:\n" + plan.take(1200))
    assert(plan.contains("Join"), plan.take(400))
  }

  test("q_embed_standardize stats ride back as literals — the vector scan itself never shuffles") {
    val plan = executedPlan("q_embed_standardize")
    // the stats pass has its dim-sized exchange at build time (driver
    // collect); the scoring scan must be exchange-free
    assert(!plan.contains("Exchange"),
      "standardization scan must be one map pass:\n" + plan.take(1200))
  }

  test("duplicatedSpans DEFAULT call signs via codegen'd span_hashes — no CodegenFallback HOF") {
    // the default hashFn must route through the one-pass span_hashes
    // expression; the relational transform(sequence(...)) form is
    // CodegenFallback and reserved for the explicit md5 oracle variant
    val docs = graft.queries.Tables.t(spark, Sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val df = graft.dedup.Dedup.duplicatedSpans(docs, "doc_id", "text",
      windowTokens = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("span_hashes"),
      "default path must use the codegen'd span_hashes expression:\n" + plan.take(1200))
    assert(!plan.contains("transform(sequence"),
      "default path must not fall back to the HOF window builder:\n" + plan.take(1200))
  }

  test("repetitionGate reads the corpus text exactly once (r11 fusion)") {
    // pre-fusion this operator composed duplicateLineMetrics + three
    // topNgramMetrics passes — four full text scans; the fused form is one
    // straight-line chain, so the parquet scan must appear once in the
    // executed plan. (A "shared" counts frame is NOT enough: pushed-down
    // kind-filters un-share the exchange — measured at 3 scans.)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = graft.functions.TextFunctions.repetitionGate(docs, "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      "repetition gate must scan the corpus text exactly once:\n" + plan.take(1500))
  }

  test("q_text_bpe tokenizes inside codegen — no fallback, no exchange on the scan") {
    val plan = executedPlan("q_text_bpe")
    assert(plan.contains("bpe_tokens"),
      "the codegen'd BPE expression must appear in the plan:\n" + plan.take(1000))
    assert(!plan.contains("CodegenFallback"), plan.take(1000))
    assert(!plan.contains("Exchange"),
      "BPE tokenization is a pure map over the scan:\n" + plan.take(1000))
  }

  test("C4 and encoding gates are single map passes — zero exchange") {
    for (q <- Seq("q_c4_gate", "q_encoding_quality")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"),
        s"$q must not shuffle — it is a per-row gate:\n" + plan.take(1000))
      assert(!plan.contains("ScalaUDF"), plan.take(600))
    }
  }

  test("q_contam_frac broadcasts the benchmark shingles — the corpus is never re-keyed by shingle") {
    val plan = executedPlan("q_contam_frac")
    assert(plan.contains("BroadcastHashJoin"),
      "the eval-set side must broadcast:\n" + plan.take(1000))
  }

  test("q_seq_len_hist is one map pass into one bucket-sized aggregate") {
    val plan = executedPlan("q_seq_len_hist")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "the histogram must shuffle once, on the bucket:\n" + plan.take(1000))
  }

  test("q_bpe_decode and q_upsample_weight are pure map passes over the scan") {
    for (q <- Seq("q_bpe_decode", "q_upsample_weight")) {
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange"),
        s"$q is map-side (decode literal map / generate+filter):\n" +
          plan.take(1000))
      assert(!plan.contains("CodegenFallback") && !plan.contains("ScalaUDF"),
        plan.take(800))
    }
  }

  test("q_sft_loss_spans shuffles once (the per-conversation window), counts in codegen") {
    val plan = executedPlan("q_sft_loss_spans")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "spans need exactly the prefix-sum window exchange:\n" + plan.take(1200))
    assert(plan.contains("bpe_tokens"),
      "segment counts must ride the codegen'd BPE expression:\n" +
        plan.take(1200))
    assert(!plan.contains("CodegenFallback"), plan.take(800))
  }

  test("quantized retrieval (q_ann_truncated, q_ann_binary) plans as TakeOrdered over a map pass") {
    for (q <- Seq("q_ann_truncated", "q_ann_binary")) {
      val plan = executedPlan(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q must forward per-partition top-k, not sort globally:\n" +
          plan.take(1000))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q must not re-key the corpus:\n" + plan.take(1000))
      assert(!plan.contains("ScalaUDF"), plan.take(600))
    }
  }

  test("q_dedup_bloom probes with codegen'd might_contain — zero UDFs remain in src/main") {
    val plan = executedPlan("q_dedup_bloom")
    assert(plan.contains("might_contain"),
      "the Bloom probe must be Spark's BloomFilterMightContain expression:\n" +
        plan.take(1200))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "the probe must stay inside whole-stage codegen:\n" + plan.take(1200))
  }

  test("q_bpe_bytes is a pure map over the scan — zero exchanges") {
    // byte-fallback tokenize + decode + per-row counts: everything is a
    // per-doc projection, so the plan must contain NO shuffle at all
    val plan = executedPlan("q_bpe_bytes")
    assert(!plan.contains("Exchange"),
      "byte-fallback BPE must stay a map pass:\n" + plan.take(1200))
    assert(plan.contains("bpe_tokens"),
      "the codegen'd tokenizer expression must appear:\n" + plan.take(800))
  }

  test("q_needle_haystack and q_text_fold are zero-exchange map passes") {
    // haystack splicing is slice⊕needle⊕slice per (doc, depth) — the
    // depth explode is a generate, never a shuffle; the fold key is a
    // codegen'd expression chain with no fallback
    for (name <- Seq("q_needle_haystack", "q_text_fold")) {
      val plan = executedPlan(name)
      assert(!plan.contains("Exchange"),
        s"$name must stay a map pass:\n" + plan.take(1200))
      assert(!plan.contains("CodegenFallback"),
        s"$name fell out of codegen:\n" + plan.take(1200))
    }
  }

  test("q_chat_gate is a stateless per-row gate after its fixture join") {
    // the gate itself adds no window, no aggregate and no extra shuffle
    // beyond the fixture's one broadcast self-join
    val plan = executedPlan("q_chat_gate")
    assert(!plan.contains("Window"),
      "the structure gate must not window:\n" + plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"),
      "the two doc arms must join broadcast:\n" + plan.take(1200))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(1200))
  }

  test("q_best_of_n is ONE hash aggregate — no window, no join") {
    val plan = executedPlan("q_best_of_n")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "best-of-n must not rank with windows or join sides:\n" + plan.take(1200))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      "one prompt-keyed shuffle only:\n" + plan.take(1200))
  }

  test("q_pack_nosplit and q_mix_interleave ride the bucketed scan — no single-partition data window") {
    // both rank through scanCumSum's deterministic __pid buckets; a
    // windowspecdefinition WITHOUT a partition key would be the
    // single-partition global sort these operators exist to avoid
    // q_pack_nosplit_ffd shares the posture: FFD only changes the
    // in-group fold, never the rank/bucket plan shape
    for (name <- Seq("q_pack_nosplit", "q_pack_nosplit_ffd",
        "q_mix_interleave")) {
      val plan = executedPlan(name)
      assert(plan.contains("hashpartitioning(__pid"),
        s"$name must bucket its prefix scan:\n" + plan.take(1200))
      assert(!"windowspecdefinition\\(aggregate".r.findFirstIn(plan).nonEmpty &&
        !plan.contains("windowspecdefinition()"),
        s"$name planned an unpartitioned window:\n" + plan.take(1200))
      assert(!plan.contains("CartesianProduct"), plan.take(1200))
    }
  }

  test("q_lm_backoff joins stay equi (no cartesian), counts combine map-side") {
    // the scoring path is TWO word-keyed equi-joins over the transition
    // stream (round 15: c1 rides the bigram table from train time — the
    // third, w1-keyed stream join was a full extra corpus shuffle at
    // scale); a cartesian (or a nest-loop from a mis-specified key) would
    // be vocab × transitions. Count training must partial-aggregate —
    // the shuffle carries (word, partial) records, never raw tokens.
    val lm = executedPlan("q_lm_backoff")
    assert(!lm.contains("CartesianProduct") &&
      !lm.contains("BroadcastNestedLoopJoin"),
      "LM scoring must stay equi-join:\n" + lm.take(1500))
    // the token-stream joins are exactly the LeftOuter ones (unmatched
    // transitions must survive into the backoff branch); the train-time
    // bigramModel join is Inner and vocabulary-sized. Three LeftOuters
    // would mean the w1 unigram join crept back onto the stream.
    assert("LeftOuter".r.findAllMatchIn(lm).size == 2,
      "LM scoring must join the transition stream exactly twice:\n" +
        lm.take(1500))
    assert(lm.contains("partial_count"),
      "count training must combine map-side:\n" + lm.take(1500))
    val jsd = executedPlan("q_mix_jsd")
    assert(!jsd.contains("CartesianProduct") &&
      !jsd.contains("BroadcastNestedLoopJoin"),
      "JSD pair join must be the w-keyed equi self-join:\n" + jsd.take(1500))
    assert(jsd.contains("partial_count"),
      "unigram counts must combine map-side:\n" + jsd.take(1500))
  }

  test("q_integrity_manifest is two stacked grouped aggregates — no window, no join") {
    // leaves shuffle once to their identity-hash (group, sub) bucket and
    // chain-fold there, then sub-chains fold per group (r15 two-level
    // Merkle — the second exchange carries only the groups·subGroups
    // sub-chain rows, never leaves); any
    // window (a global sort would be the classic wrong plan for 'sorted
    // chain') or join would mean the fingerprint stopped being a
    // single-pass aggregate stack
    val im = executedPlan("q_integrity_manifest")
    assert(!im.contains("Window") && !im.contains("Join") &&
      !im.contains("CartesianProduct"),
      "manifest must be an aggregate stack:\n" + im.take(1500))
    assert(im.contains("partial_count"),
      "group counts must combine map-side:\n" + im.take(1500))
  }

  test("q_mcnemar and q_brier are map-side-combined global aggregates") {
    // mcnemar's planted predictors are pure projections → no join at all;
    // brier rides the qualityScored FIXTURE whose scorer broadcast-joins
    // per-doc margins back onto ids — the metric itself adds only the
    // global aggregate, so no window and no sort-merge join anywhere
    val mc = executedPlan("q_mcnemar")
    assert(!mc.contains("Window") && !mc.contains("Join"),
      "mcnemar must be one aggregate over a projection:\n" + mc.take(1200))
    assert(mc.contains("partial_"),
      "mcnemar must combine map-side:\n" + mc.take(1200))
    val br = executedPlan("q_brier")
    assert(!br.contains("Window") && !br.contains("SortMergeJoin"),
      "brier must not window or data-join:\n" + br.take(1200))
    assert(br.contains("partial_"),
      "brier must combine map-side:\n" + br.take(1200))
  }

  test("stupid-backoff scoring joins the transition stream twice under shuffle joins") {
    // With broadcast joins off (the 100 TB regime, where count tables are
    // too big to broadcast) every count-table join is a shuffle join.
    // Scoring left-joins the transition stream twice, on (w1, w2) and on
    // w2; c1 reaches the bigram table by an inner join of the two count
    // tables. 7 Exchanges: 3 over the stream ((w1, w2), w2, the doc_id
    // roll-up) and 4 over the tables (the bigram count, the bigram table
    // re-keyed on w1, the unigram count, which both of its joins reuse,
    // and the model re-keyed on (w1, w2)). The three-join form this
    // replaced planned 3 left-outer stream joins and 6 Exchanges (4 over
    // the stream). The stream it scores at ingest plans the same.
    import org.apache.spark.sql.functions._
    val noBroadcast = org.apache.spark.sql.GraftBridge.sessionWithConf(spark,
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    def count(plan: String, node: String) = node.r.findAllIn(plan).length
    val exchange = "(?m)^[ :+|-]*Exchange "
    // the batch plan prints join keys; the stream's formatted plan does not
    val streamJoin = "SortMergeJoin( \\[[^\\]]*\\], \\[[^\\]]*\\],)? LeftOuter"
    val docs = noBroadcast.read.parquet(s"$Sf/documents.parquet")
    val train = docs.filter(col("doc_id") < 150)
    val uni = graft.trainprep.NgramLm.unigramCounts(train, "text")
    val total = uni.agg(sum(col("c"))).head().getLong(0)
    val scored = graft.trainprep.NgramLm.stupidBackoffNll(docs.filter(col("doc_id") < 300),
      "doc_id", "text", uni, graft.trainprep.NgramLm.bigramCounts(train, "text"), total)
    scored.collect()
    val (_, work) = graft.obs.SparkWork.measure(noBroadcast)(
      graft.streaming.StreamParity.lmBackoffStream(noBroadcast, Sf))
    val streamPlans = work.batchPlans.filter(_.contains("StateStoreSave"))
    assert(streamPlans.nonEmpty, work.report)
    for (plan <- org.apache.spark.sql.GraftBridge.finalPlanString(scored) +: streamPlans) {
      assert(count(plan, streamJoin) == 2, s"${count(plan, streamJoin)} stream joins:\n$plan")
      assert(count(plan, exchange) == 7, s"${count(plan, exchange)} exchanges:\n$plan")
    }
  }
}
