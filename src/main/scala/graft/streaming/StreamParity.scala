package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Batch-equivalent runs of the streaming operators (SURVEY.md §2.9).
  *
  * The reference converges on correctness by cron re-runs + keyed upsert
  * (reference: output/extract_water_level.py:206-217); our streaming layer
  * must therefore produce EXACTLY the batch answer once all input is
  * consumed. These helpers prove it: each runs a real Structured Streaming
  * job (file source → stateful operator → memory sink) with
  * `Trigger.AvailableNow()` over the same parquet the batch oracle reads,
  * and returns the sink table — which the driver then hash-compares against
  * the DuckDB oracle like any batch query. Streaming correctness becomes a
  * CORRECTNESS row, not just a spec assertion.
  *
  * Memory sink is the verification harness only (driver-collected); the
  * production path is `StreamOps.upsertSink` / a parquet sink. Complete
  * mode is used for the aggregations because a bounded backfill emits its
  * tail windows only in complete/update mode (append withholds them until
  * a later batch advances the watermark — which never comes).
  */
object StreamParity {

  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // The file-stream source requires a user-supplied schema AND a DIRECTORY
    // path (glob filter selects the events table). Fixtures have shipped
    // `ts` as both TIMESTAMP(NANOS)→LONG (under nanosAsLong) and
    // TIMESTAMP(MICROS)→TIMESTAMP_NTZ — a hardcoded `ts LONG` schema under
    // the micros fixture would silently reinterpret µs values as ns and
    // produce plausible-looking WRONG buckets. Read the native type off the
    // parquet footer (one batch schema probe) and normalize through the same
    // ns-domain conversion as the batch path (Tables.tsToNs).
    val native = graft.queries.Tables.eventsTsType(spark, dir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("ts", native).add("user_id", "long")
      .add("event_type", "string").add("value", "double").add("props", "string")
    tableStream(spark, dir, "events", schema)
      .withColumn("ts", graft.queries.Tables.tsToNs(native, col("ts")))
  }

  /** File-stream over one fixture table, robust to BOTH layouts a producer
    * can ship: a single `<table>.parquet` FILE (select it out of the
    * dataset dir with a leaf-name glob) or a `<table>.parquet/` DIRECTORY
    * of part files (stream the directory itself — the glob would match
    * nothing and silently stream ZERO rows, the round-9 failure class). */
  private def tableStream(spark: SparkSession, dir: String, table: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val path = new java.io.File(s"$dir/$table.parquet")
    // a missing table must DIAGNOSE, not stream zero rows through a glob
    // that matches nothing
    require(path.exists(),
      s"$dir/$table.parquet does not exist (renamed fixture? run graft.FixtureSanity)")
    if (path.isDirectory) spark.readStream.schema(schema).parquet(path.getPath)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Sink names must be unique among the session's ACTIVE queries — two
    * suites running the same parity helper concurrently (parallel test
    * execution) collided on the fixed name ("query with that name is
    * already active"); a per-call counter disambiguates while keeping
    * names recognizable in the UI/logs. */
  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** One cloned session per (parent session, conf signature) — see
    * [[org.apache.spark.sql.GraftBridge.sessionWithConf]]: per-start confs
    * must not mutate the shared session (set/start/restore raced with
    * concurrent starts), but cloning per CALL is also wrong — a fresh
    * SessionState's analyzer/optimizer caches are cold, and the
    * per-micro-batch incremental planning on a cold clone measured ~+1 s
    * per parity query. The clone is immutable after creation (nothing
    * mutates its conf), so sharing it across concurrent starts is safe.
    * Weak parent keys: a stopped test session must not be pinned. */
  private val confSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[Map[String, String], SparkSession]]())

  private def confSession(spark: SparkSession,
      confs: Map[String, String]): SparkSession = {
    val perParent = confSessions.synchronized {
      var m = confSessions.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[Map[String, String], SparkSession]()
        confSessions.put(spark, m)
      }
      m
    }
    perParent.computeIfAbsent(confs,
      c => org.apache.spark.sql.GraftBridge.sessionWithConf(spark, c))
  }

  /** Spread a micro-batch's heavy STATELESS projection across the session's
    * cores (round 18): the parity fixtures are one input split, so a
    * tokenize/md5-dense projection otherwise rides the single-task scan
    * stage of every micro-batch (q_stream_cms's scan stage measured 0.84 s
    * of CPU in ONE task on a 32-core session; q_stream_lsh_bands 1.4 s).
    * A deterministic keyed repartition right above the source moves that
    * projection into an N-task stage — the scan task only shuffle-writes
    * the raw (narrow, column-pruned) rows.
    *
    * Correctness contract, per call site: ONLY applied where the downstream
    * aggregate is partitioning-insensitive — integer merges (count/min/max),
    * sorted collect_list, or FP sums whose GROUP KEY is the spread key (all
    * of one group's rows stay in one partition, so per-group partials and
    * their merge order are unchanged). Scale-adaptive: N derives from the
    * session's parallelism, and at production volumes a stream arrives in
    * many source splits already — callers there drop the respread. */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** Run `stream` to completion through a memory sink and return the sink
    * table (callers consume the RETURN value — the generated sink name is
    * internal). */
  def runToTable(spark: SparkSession, stream: DataFrame, baseName: String,
      mode: OutputMode): DataFrame = {
    val name = s"${baseName}_${sinkSeq.incrementAndGet()}"
    spark.catalog.dropTempView(name) // no-op when absent
    // Offset/commit logs and state-store delta files are written to the
    // checkpoint location each microbatch. A parity run has no
    // crash-recovery contract, so the checkpoint goes to tmpfs when
    // available (fresh per-run UUID dir, removed after stop — no temp-dir
    // litter); production jobs keep durable checkpoints. Measured effect
    // at sf0.1 is small — the run's ~0.6 s fixed cost is microbatch
    // machinery (query start/plan/stop), not checkpoint I/O — but memory-
    // speed syncs keep the harness insensitive to slow scratch disks.
    val shm = new java.io.File("/dev/shm")
    val ckptBase = if (shm.isDirectory && shm.canWrite) shm else
      new java.io.File(System.getProperty("java.io.tmpdir"))
    val ckpt = new java.io.File(ckptBase,
      s"graft-stream-$name-${java.util.UUID.randomUUID()}")
    // The post-data empty microbatch only exists to advance watermarks.
    // For an UNWATERMARKED plan it is a pure extra plan+execute cycle, so
    // it is disabled — but only after checking the plan: a watermarked
    // append-mode query routed through this shared helper NEEDS that
    // empty batch to flush its final windows under Trigger.AvailableNow,
    // and silently suppressing it would withhold them forever.
    val hasWatermark = stream.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => true
      case _ => false
    }
    // Per-start confs ride a PRIVATE cloned session (shared context/
    // catalog, isolated conf) instead of a set/start/restore window on the
    // shared session — that window was a race: a watermarked query started
    // concurrently (parallel suites) could capture noDataMicroBatches=false
    // meant for an unwatermarked sibling and never flush its final windows
    // (round 17: three watermark specs failed under testOnly graft.streaming.*).
    //
    // A streaming query instantiates one state store per shuffle partition
    // at EVERY stateful operator — for these single-file parity runs 32
    // stores are pure setup cost. But ONE partition serializes the whole
    // stateful stage (round 17: q_stream_sessionize's single micro-batch
    // job ran 1.26 s single-threaded); 4 spreads the keyed state work
    // (measured best of {1, 4, 8} across the stream family) while keeping
    // store setup negligible. Results are partitioning-independent: state
    // is keyed, every key's rows arrive in one partition's order either
    // way (the parity fixtures are one input split), so per-key merge
    // order — hence every FP sum — is unchanged.
    val ss = confSession(spark,
      Map("spark.sql.shuffle.partitions" ->
        math.min(4, spark.sparkContext.defaultParallelism).toString) ++
        (if (hasWatermark) Map.empty[String, String]
         else Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")))
    // re-root the stream's UNanalyzed plan on the private session so the
    // start() below captures ss's confs (the memory-sink view also lands
    // in ss's catalog — read it back from ss)
    val streamOnSs = org.apache.spark.sql.GraftBridge.dataset(ss,
      stream.queryExecution.logical)
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete()
    }
    // the checkpoint cleanup scope covers start() too: a query that fails
    // analysis AFTER the engine created the checkpoint dir must not leave
    // litter behind
    try {
      val q = streamOnSs.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop()
    } finally rm(ckpt)
    drainSink(spark, ss, name)
  }

  /** Materialize memory sink `name` of session `ss` as a local frame on
    * `spark` and DROP its view: with per-call unique names the memory
    * sinks would otherwise accumulate driver heap for the whole suite run;
    * the returned frame is a self-contained local relation (parity
    * fixtures are small by construction). */
  private def drainSink(spark: SparkSession, ss: SparkSession,
      name: String): DataFrame = {
    val out = ss.table(name)
    val rows = out.collect()
    val schema = out.schema
    ss.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** APPEND-mode windowed count/sum under a REAL event-time watermark
    * (round 16, q_stream_late_window) — the one production stream shape
    * the complete/AvailableNow parity rows above cannot exercise: late
    * data genuinely DROPPED by the watermark. Delivery is deterministic
    * three-batch: the on-time slice first (fixing the watermark at
    * max(on-time) − 15 days — sized against the fixture's ~30-day span so
    * both fates occur: roughly half the planted rows drop, half land in
    * still-open windows), then the PLANTED late slice
    * (event_id % 13 == 0, delivered a full micro-batch behind), then one
    * far-future flush row that advances the watermark past every real
    * window so append mode emits them (its own window stays withheld and
    * is filtered out). A late row survives iff its WINDOW's end is above
    * the watermark the on-time batch established — Spark keys the
    * late-data filter on the aggregation window, and the DuckDB oracle
    * applies exactly that rule explicitly (watermark ms-truncated the
    * way EventTimeStats tracks it). Driver-side delivery is the
    * HARNESS's batching control, bounded by the filtered fixture slice;
    * production consumers read a source with real arrival order. */
  def lateWindowAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.queries.Tables.events(spark, dir)
      .filter(!isnan(col("value")) && col("user_id") < 6)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val (late, onTime) = ev.partition(_._1 % 13 == 0)
    val flushTs = ev.map(_._2).max + 30L * 24 * 3600 * 1000000000L
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Double)]
    val stream = mem.toDF.toDF("event_id", "ts", "user_id", "value")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    val agg = stream
      .withWatermark("event_time", "1296000 seconds")
      .groupBy(window(col("event_time"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("v_sum"))
      .select(col("w.start").cast("long").as("w_start"), col("user_id"),
        col("n_events"), col("v_sum"))
    val name = s"stream_late_window_${sinkSeq.incrementAndGet()}"
    // the 1-partition conf rides a PRIVATE cloned session (see runToTable:
    // a set/start/restore window on the shared session races concurrent
    // starts); this stream's per-user volumes are tiny, so one state
    // store stays the right size
    val ss = confSession(spark, Map("spark.sql.shuffle.partitions" -> "1"))
    val aggOnSs = org.apache.spark.sql.GraftBridge.dataset(ss,
      agg.queryExecution.logical)
    val q = aggOnSs.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(onTime.toSeq: _*); q.processAllAvailable()
      mem.addData(late.toSeq: _*); q.processAllAvailable()
      mem.addData((-1L, flushTs, -1L, 0.0)); q.processAllAvailable()
    } finally q.stop()
    drainSink(spark, ss, name).filter(col("user_id") >= 0)
  }

  /** Streaming form of q_a2_resample: right-closed 15-min tumbling sum over
    * the event stream, complete mode. Identical bucket arithmetic to the
    * batch path (ns-domain longs — no timestamp round-trip). */
  def resampleComplete(spark: SparkSession, dir: String, stepSeconds: Long): DataFrame =
    runToTable(spark, resampleAgg(eventsStream(spark, dir), stepSeconds),
      "stream_resample", OutputMode.Complete())

  /** The resample aggregate alone (ts-ns + value → right-closed bucket
    * count/sum) — source-agnostic for the out-of-order spec; count and
    * sum are commutative merges. */
  def resampleAgg(src: DataFrame, stepSeconds: Long): DataFrame = src
    .select(graft.ops.TimeSeriesOps.bucketRightClosedNs(col("ts"), stepSeconds)
      .as("bucket_ns"), col("value"))
    .groupBy("bucket_ns")
    .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** Streaming distinct (stateful dropDuplicates): the set of (user_id,
    * event_type) pairs ever seen. Append mode — each first-seen key emits
    * exactly once, so the sink table IS the distinct set. */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, distinctAgg(eventsStream(spark, dir)), "stream_distinct",
      OutputMode.Append())

  /** The stateful-dropDuplicates stage alone — source-agnostic for the
    * out-of-order spec; first-seen-wins on a keyed state store, so the
    * emitted SET is arrival-order-insensitive even though emission order
    * is not. */
  def distinctAgg(src: DataFrame): DataFrame = src
    .select("user_id", "event_type")
    .dropDuplicates("user_id", "event_type")

  /** documents.parquet as a file stream (same glob mechanism as events). */
  private val DocsSchema =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  private def docsStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "documents",
      org.apache.spark.sql.types.StructType.fromDDL(DocsSchema))

  /** Streaming exact dedup at ingest: running (min doc_id, copy count)
    * per content digest — the canonical-keeper form of E1 as documents
    * arrive. Complete-mode running aggregate rather than streaming
    * dropDuplicates because the winner must be DETERMINISTIC (min id,
    * not first arrival — microbatch partition order is not a contract);
    * the digest groupBy keys state by 64-hex strings, never text bodies.
    * The stream is unioned with an id-shifted copy of its own first 100
    * docs so real duplicate groups exist in the fixture. */
  def dedupKeepers(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir)
    val dups = src.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 100000L)
    runToTable(spark, dedupKeepersAgg(src.unionByName(dups)), "stream_dedup",
      OutputMode.Complete())
  }

  /** The dedup-keeper aggregate alone (docs with doc_id + text → running
    * (min doc_id, copy count) per digest) — source-agnostic so the
    * out-of-order spec can drive it over shuffled multi-file backfills.
    * min/count are order-insensitive: stream state == batch answer. */
  def dedupKeepersAgg(docs: DataFrame): DataFrame = docs
    .select(sha2(col("text"), 256).as("digest"), col("doc_id"))
    .groupBy("digest")
    .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Streaming benchmark decontamination at ingest: each arriving train doc
    * is flagged against a STATIC eval-set digest table — the stream-static
    * broadcast join pattern (Spark keeps the static side a batch relation
    * inside the streaming plan; the join is STATELESS, so the query stays
    * append-mode with zero state store). The eval side is digest-distinct
    * (duplicate eval texts must not multiply stream rows) and
    * dimension-sized, so it broadcasts; at 100 TB of stream the moving side
    * never shuffles — each microbatch is one map pass over arriving files.
    * Fixture: docs < 50 act as the eval set; the "train" stream is docs
    * ≥ 50 plus an id-shifted copy of the eval docs, so real contamination
    * exists and must flag. */
  def decontaminateStream(spark: SparkSession, dir: String): DataFrame = {
    val evalDigests = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 50)
      .select(sha2(col("text"), 256).as("digest"))
      .distinct()
      .withColumn("contaminated", lit(true))
    val src = docsStream(spark, dir)
    val train = src.filter(col("doc_id") >= 50)
      .unionByName(src.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 200000L))
    val flagged = train
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .join(broadcast(evalDigests), Seq("digest"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
    runToTable(spark, flagged, "stream_decontam", OutputMode.Append())
  }

  /** Streaming confusion-matrix monitor: the E134 report's contingency
    * cells as a live dashboard over arriving (actual, predicted) labels —
    * the online form of classifier QA (is the deployed gate drifting?).
    * ONE complete-mode aggregate keyed by label pairs (category²-sized
    * state, never documents); counts are arrival-order-insensitive, so
    * the drained stream equals the batch cells by construction. The
    * stream stops at the CELLS on purpose: the per-class report chains a
    * second aggregate (marginals), which streaming complete mode cannot
    * plan — derive the report from the drained cells in batch
    * ([[graft.eval.EvalMetrics.classificationReport]]). Fixture: the
    * q_class_report planted predictor over the documents' lang label. */
  def confusionStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, confusionAgg(docsStream(spark, dir)),
      "stream_confusion", OutputMode.Complete())

  /** The confusion-cell aggregate alone (docs with doc_id + lang →
    * planted predictor → (actual, pred, n)) — source-agnostic so the
    * out-of-order spec can drive it over shuffled backfills. */
  def confusionAgg(docs: DataFrame): DataFrame = docs
    .select(col("lang").as("actual"),
      graft.PipelineQueries.plantedLangPred(col("lang"), col("doc_id"))
        .as("pred"))
    .groupBy(col("actual"), col("pred"))
    .agg(count(lit(1)).as("n"))

  /** The classifier-eval fixture as a STATELESS map — the streaming form
    * of PipelineQueries' qualityScored (scoreLinear + planted doc_id % 3
    * label). scoreLinear's per-doc groupBy cannot chain under another
    * streaming aggregate (complete mode plans ONE stateful aggregate), so
    * the per-doc margin is computed as a higher-order `aggregate` over
    * the token array instead — the identical bucket→weight function
    * (w[b] = ((b·96769) % 2000)/1000 − 1, the same literal the batch
    * fixture tabulates) summed per row inside codegen, zero state. The
    * score rounds to 5 decimals exactly like the batch path, which is
    * what absorbs the token-order-vs-bucket-order FP difference (both
    * engines' replays already sum in their own orders today). */
  private def qualityScoredMap(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " ", -1), t => length(t) > 0)
    val z = aggregate(toks, lit(0.0), (acc, t) => {
      val b = graft.trainprep.QualityClassifier.tokenBucket(t, 256)
      acc + ((b * 96769 % 2000).cast("double") / 1000.0 - 1.0)
    })
    docs.filter(col("doc_id") < 300).select(
      round(lit(1.0) / (lit(1.0) + exp(-z)), 5).as("quality_score"),
      (pmod(col("doc_id"), lit(3)) === 0).as("label"))
  }

  /** Streaming CALIBRATION monitor — the online QA number for a deployed
    * quality gate (is the classifier drifting out of calibration while
    * it filters live traffic?): the E132 reliability-diagram aggregate
    * as complete-mode state over arriving scored documents. State is one
    * row per bin (nBins-sized, never documents); per-bin n / Σscore /
    * Σlabel are arrival-order-insensitive, so the drained stream equals
    * the batch report by construction. Shares q_calibration's oracle. */
  def calibrationStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      graft.eval.EvalMetrics.calibrationReport(
        qualityScoredMap(docsStream(spark, dir)),
        "label", "quality_score", nBins = 10),
      "stream_calibration", OutputMode.Complete())

  /** Streaming BRIER monitor — the proper-scoring-rule twin of
    * [[calibrationStream]]: one global complete-mode aggregate
    * (count + mean squared error — single-row state), punishing
    * miscalibration live where AUC would only see misordering. Shares
    * q_brier's oracle. */
  def brierStream(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      graft.eval.EvalMetrics.brierScore(
        qualityScoredMap(docsStream(spark, dir)), "label", "quality_score"),
      "stream_brier", OutputMode.Complete())

  /** The calibration aggregate over a batch frame — source-agnostic so
    * the out-of-order spec can drive it over shuffled backfills. */
  def calibrationAgg(docs: DataFrame): DataFrame =
    graft.eval.EvalMetrics.calibrationReport(
      qualityScoredMap(docs), "label", "quality_score", nBins = 10)

  /** Streaming per-slice vocabulary coverage: the E119 tokenizer-fit
    * report as a complete-mode running aggregate over arriving
    * documents — per-doc (token, unk) counts are a stateless codegen'd
    * map; the state is one row of sums per corpus slice, and counts/
    * sums are arrival-order-insensitive, so the drained stream equals
    * the batch answer by construction. Shares q_vocab_coverage's
    * oracle. */
  def vocabCoverageStream(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir).filter(col("doc_id") < 300)
    runToTable(spark,
      graft.trainprep.TrainPrep.vocabCoverage(src, "source", "text",
        graft.expressions.BpeMerges(graft.PipelineQueries.oracleBpePairs)),
      "stream_vocab", OutputMode.Complete())
  }

  /** Streaming SFT assembly at ingest: arriving user documents pair with
    * a STATIC completion table (the [[decontaminateStream]] stream-static
    * broadcast-join shape — stateless, append mode, no state store) and
    * render through the E116 chat template. The online form of SFT data
    * assembly: prompts arrive, completions/system prompts live in a
    * dimension table; each microbatch is one broadcast-probe + map pass,
    * so at any stream volume nothing shuffles or accumulates. Shares
    * q_sft_render's batch oracle over the identical doc-pair fixture. */
  def sftRenderStream(spark: SparkSession, dir: String): DataFrame = {
    val completions = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") - 100).as("conv_id"), col("text").as("atext"))
    val prompts = docsStream(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id").as("conv_id"), col("text").as("utext"))
    val convs = prompts.join(broadcast(completions), "conv_id")
      .select(col("conv_id"), array(
        struct(lit("system").as("role"),
          lit(graft.PipelineQueries.SftSystemPrompt).as("content")),
        struct(lit("user").as("role"), col("utext").as("content")),
        struct(lit("assistant").as("role"), col("atext").as("content")))
        .as("turns"))
    runToTable(spark,
      graft.trainprep.SftPrep.renderChat(convs, "conv_id", "turns"),
      "stream_sft", OutputMode.Append())
  }

  /** Streaming conversation-structure gate at ingest — SFT schema QA as
    * arriving prompts join the static completion table (the
    * [[sftRenderStream]] stream-static broadcast shape) and pass through
    * the E152 gate: STATELESS (the gate is a pure map over the turns
    * array — append mode, no state store), so stream == batch by
    * construction; the fixture plants the same %7/%11/%13 violations as
    * q_chat_gate and shares its oracle. */
  def chatGateStream(spark: SparkSession, dir: String): DataFrame = {
    val completions = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") - 100).as("conv_id"), col("text").as("atext"))
    val prompts = docsStream(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id").as("conv_id"), col("text").as("utext"))
    // the SHARED planted-violation builder — one fixture definition for
    // the batch query, this stream and their common oracle
    val convs = graft.PipelineQueries.chatGateFixture(
      prompts.join(broadcast(completions), "conv_id"))
    runToTable(spark,
      graft.trainprep.SftPrep.chatGate(convs, "conv_id", "turns"),
      "stream_chat_gate", OutputMode.Append())
  }

  /** Streaming fuzzy-match fold at ingest — the E154 canonical key
    * computed as station/title rows arrive (a degraded feed's accented
    * names must fold BEFORE they hit the dimension join): STATELESS pure
    * map (append mode, no state store), the same planted composed/
    * decomposed fixture as q_text_fold, whose oracle it shares. */
  def textFoldStream(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir).filter(col("doc_id") < 200)
    runToTable(spark,
      graft.PipelineQueries.textFoldFixture(src),
      "stream_text_fold", OutputMode.Append())
  }

  /** Streaming LM quality scoring at ingest — the E162 stupid-backoff
    * score computed as documents arrive, against STATIC count tables
    * trained offline (the CCNet deployment shape: the reference-domain
    * LM is a fixed artifact; web text streams through it). Stream-static
    * equi-joins resolve the counts per micro-batch; the per-doc roll-up
    * is a complete-mode aggregate whose per-key sums are
    * arrival-order-insensitive, so the drained stream equals the batch
    * answer by construction. Shares q_lm_backoff's oracle. */
  def lmBackoffStream(spark: SparkSession, dir: String): DataFrame = {
    val train = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 150)
    val uni = graft.trainprep.NgramLm.unigramCounts(train, "text")
    val bi = graft.trainprep.NgramLm.bigramCounts(train, "text")
    val total = uni.agg(sum(col("c"))).head().getLong(0)
    val src = docsStream(spark, dir).filter(col("doc_id") < 300)
    runToTable(spark,
      graft.trainprep.NgramLm.stupidBackoffNll(
        src, "doc_id", "text", uni, bi, total),
      "stream_lm_backoff", OutputMode.Complete())
  }

  /** Streaming IVM delta over a live change feed — E175's fold as the
    * arrival-time half: each arriving doc's change rows derive
    * STATELESSLY (an explode of the same pure merge+purge feeds
    * q_agg_maintain replays), the sign-weighted per-source roll-up runs
    * as ONE complete-mode aggregate (±1-weighted sums are
    * arrival-order-insensitive, state is groups-sized — never text),
    * and the PUBLISH step — merging the drained delta onto the static
    * snapshot-0 base — is a batch combine on the sink table, exactly
    * where [[graft.io.FeedMaintain.foldInto]] publishes a batch fold.
    * Shares q_agg_maintain's oracle. */
  def aggMaintainStream(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir)
    val inCur = col("doc_id") % 7 =!= 0
    val inUpd = col("doc_id") % 3 === 0
    val v2 = concat(lit("v2:"), substring(col("text"), 1, 40))
    val mergedText = when(inUpd, v2).otherwise(col("text"))
    val inDel = (inCur || inUpd) && (col("doc_id") % 5 === 0)
    val candidates = array(
      struct(lit("update_preimage").as("ct"), col("text").as("t"),
        (inUpd && inCur).as("keep")),
      struct(lit("update_postimage").as("ct"), v2.as("t"),
        (inUpd && inCur).as("keep")),
      struct(lit("insert").as("ct"), v2.as("t"),
        (inUpd && !inCur).as("keep")),
      struct(lit("delete").as("ct"), mergedText.as("t"),
        inDel.as("keep")))
    val changes = src.select(col("source"),
      explode(filter(candidates, s => s.getField("keep"))).as("ch"))
    val sign = when(col("ch.ct").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltas = changes.groupBy(col("source"))
      .agg(sum(sign).as("n_rows"),
        sum(sign * length(col("ch.t")).cast("long")).as("chars"))
    val sink = runToTable(spark, deltas, "stream_agg_maintain",
      OutputMode.Complete())
    val agg0 = graft.io.FeedMaintain.snapshotAgg(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 7 =!= 0),
      Seq("source"), Seq("chars" -> length(col("text"))))
    val cols = Seq(col("source"), col("n_rows"), col("chars"))
    agg0.select(cols: _*).unionByName(sink.select(cols: _*))
      .groupBy(col("source"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("chars")).as("chars"))
      .filter(col("n_rows") > 0)
  }

  /** Streaming C4 page cleanup at ingest — STATELESS (the E103 gate is a
    * pure per-row select, append mode, no state store), so stream == batch
    * by construction; the run certifies the streaming PLUMBING (file
    * source, microbatch projection, append sink) against the shared batch
    * oracle. Pages come from the same constructed fixture as q_c4_gate. */
  def c4GateStream(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir).filter(col("doc_id") < 200)
    val gated = graft.functions.TextFunctions.c4Gate(
      src.select(col("doc_id"),
        graft.PipelineQueries.c4FixturePage.as("text")),
      "doc_id", "text")
    runToTable(spark, gated, "stream_c4", OutputMode.Append())
  }

  /** Streaming encoding-damage triage at ingest — stateless like
    * [[c4GateStream]] (three regexp_counts per row, append mode); shares
    * q_encoding_quality's oracle over the same planted-damage fixture. */
  def encodingQualityStream(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir).filter(col("doc_id") < 400)
    val out = graft.functions.TextFunctions.encodingQualityMetrics(
      src.select(col("doc_id"),
        graft.PipelineQueries.encodingFixtureText.as("text")),
      "doc_id", "text")
    runToTable(spark, out, "stream_encoding", OutputMode.Append())
  }

  /** Streaming NEAR-dup candidate discovery at ingest — the LSH banding
    * stage of the MinHash pipeline run as a stream (the stateful layer
    * above [[dedupKeepers]]'s exact-digest dedup): each arriving doc's
    * 4-hash MinHash signature is computed as a PURE PROJECTION
    * (`array_min(transform(tokens, md5(tok#k)))` — the SQL-replayable md5
    * twin of the production `minhash_sigs` codegen expression; no
    * pre-aggregation, so the plan stays a legal single-stateful-agg
    * streaming query), banded two rows per doc, and a complete-mode
    * groupBy per (band, band_hash) accumulates the sorted member list.
    * Buckets with >1 member are the candidate queue a downstream verifier
    * consumes. State is keyed by 64-hex band hashes and holds doc ids —
    * never text. Same duplicate-slice fixture as [[dedupKeepers]], and the
    * batch q_dedup_lsh_bands oracle shape certifies the output. */
  def lshCandidateBuckets(spark: SparkSession, dir: String): DataFrame = {
    val src = docsStream(spark, dir)
    val dups = src.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 100000L)
    // spread: the 4×md5-per-token signature projection is the micro-batch's
    // whole cost (round 18: 1.4 s of CPU in the single-split scan stage);
    // sorted collect_list + count state is partitioning-insensitive
    runToTable(spark, lshBucketAgg(bandedDocs(spread(src.unionByName(dups), "doc_id"))),
      "stream_lsh_bands", OutputMode.Complete())
  }

  /** The stateless signature+banding projection of [[lshCandidateBuckets]]:
    * (doc_id, text) → (doc_id, band, band_hash), batch or stream. The
    * signature is a rowwise projection (array_min over the md5 family —
    * min over token multiplicity equals min over the distinct set), and
    * the band composition itself is `Dedup.bandedByHash` — the SAME code
    * the batch pipeline uses, including its NULL-signature guard (a
    * NULL-text doc must get NO bucket, not the shared sha2('') bucket). */
  def bandedDocs(docs: DataFrame): DataFrame = {
    def mh(k: Int) = array_min(transform(
      graft.functions.TextFunctions.tokens(col("text")),
      tok => md5(concat(tok, lit(s"#$k")))))
    graft.dedup.Dedup.bandedByHash(
      docs.select(col("doc_id"), mh(0).as("mh0"), mh(1).as("mh1"),
        mh(2).as("mh2"), mh(3).as("mh3")),
      "doc_id", numHashes = 4, rowsPerBand = 2)
  }

  /** The single stateful stage of [[lshCandidateBuckets]]: candidate
    * buckets (>1 member) with deterministically sorted member lists. */
  def lshBucketAgg(banded: DataFrame): DataFrame =
    banded.groupBy("band", "band_hash")
      .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("ids_csv"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Streaming gap-based sessionization — Spark's NATIVE `session_window`
    * run to completion over the event stream (the oracle-gated form of
    * `StreamOps.sessionizeStream`). Sessions merge while consecutive
    * events per user are < gap apart; a session's end is last event +
    * gap, so the batch replay is the lag-island SQL with a `>= gap`
    * break (session_window does NOT merge an event landing exactly at
    * the previous window's end). Complete mode: the state store holds
    * per-user open sessions and a bounded backfill must emit them all
    * without waiting for a watermark advance that never comes. Output
    * is in the ns domain (exact under both fixture encodings). */
  def sessionizePerUser(spark: SparkSession, dir: String,
      gapSeconds: Long): DataFrame = {
    val ev = eventsStream(spark, dir).filter(!isnan(col("value")))
    runToTable(spark, sessionizeAgg(ev, gapSeconds), "stream_sessionize",
      OutputMode.Complete())
  }

  /** The sessionize aggregate alone (events with ts-ns + user_id + value →
    * gap-bounded session windows) — source-agnostic for the out-of-order
    * spec. Complete-mode session_window state MERGES adjacent windows as
    * late members arrive, so a session split across micro-batches (even in
    * reverse time order) converges to the batch answer. */
  def sessionizeAgg(ev: DataFrame, gapSeconds: Long): DataFrame = ev
    .withColumn("t", timestamp_micros(expr("ts div 1000")))
    .groupBy(col("user_id"), session_window(col("t"), s"$gapSeconds seconds"))
    .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
    .select(col("user_id"),
      (unix_micros(col("session_window.start")) * 1000).as("start_ns"),
      (unix_micros(col("session_window.end")) * 1000).as("end_ns"),
      col("n_events"), col("sum_value"))

  /** Streaming HLL distinct-token estimate per lang: the register
    * aggregate (per-(lang, bucket) max rank — the MERGEABLE sketch
    * itself) is the stream's single stateful stage in complete mode, so
    * state is ≤ groups×256 tiny rows no matter how much text streams
    * through; the estimator arithmetic then runs BATCH over the drained
    * sink (a groups-sized frame). Equals the batch q_hll_distinct —
    * register max is order-insensitive, so backfill order cannot change
    * the answer. */
  def hllDistinctStream(spark: SparkSession, dir: String): DataFrame = {
    // spread: per-token register hashing dominates the micro-batch; register
    // state is max-rank (order-insensitive integer merge)
    val regs = graft.trainprep.CorpusOverlap.hllRegisters(
      spread(docsStream(spark, dir), "doc_id"), "lang", "text")
    val sink = runToTable(spark, regs, "stream_hll_regs", OutputMode.Complete())
    graft.trainprep.CorpusOverlap.hllEstimate(sink, "lang")
  }

  /** Streaming count-min sketch: the depth×256 counter aggregate (the
    * E59 sketch) as the stream's single stateful stage — counter state
    * is bounded at depth×256 rows at any text volume, and count is
    * backfill-order-insensitive, so the drained sketch equals the batch
    * one. Estimation then runs BATCH: the same query-token set as the
    * batch q_cms_counts joins the drained counter sink. */
  def cmsStream(spark: SparkSession, dir: String): DataFrame = {
    // spread: depth×md5-per-token counter hashing dominates the micro-batch
    // (0.84 s CPU single-task, round 18); counter state is integer counts
    val counters = graft.trainprep.CorpusOverlap.cmsTokenCounts(
      spread(docsStream(spark, dir), "doc_id"), "text")
    val sink = runToTable(spark, counters, "stream_cms", OutputMode.Complete())
    val queryToks = graft.queries.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") < 5)
      .select(explode(split(col("text"), " ", -1)).as("token")).distinct()
    graft.trainprep.CorpusOverlap.cmsEstimate(sink, queryToks, "token")
  }

  /** Streaming form of S2 (max-time lookup): running per-user max event
    * time + event count, complete mode. */
  def maxTimePerUser(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, maxTimeAgg(eventsStream(spark, dir)), "stream_maxtime",
      OutputMode.Complete())

  /** The max-time aggregate alone — source-agnostic for the out-of-order
    * spec; max and count are commutative merges. */
  def maxTimeAgg(src: DataFrame): DataFrame = src
    .groupBy("user_id")
    .agg(max("ts").as("max_ts_ns"), count(lit(1)).as("n_events"))

  /** Streaming OHLC bar compaction at ingest — E88's aggregate as stream
    * state: min_by/max_by/min/max/count are all MERGEABLE, so per-(user,
    * right-closed bucket) bars accumulate in the state store in complete
    * mode and are backfill-order-insensitive — stream answers equal batch
    * bit for bit, certified by sharing q_ohlc's DuckDB oracle. State is
    * one slim bar row per (user, bucket), bounded by the bucket calendar
    * × key cardinality at any event volume (never by event count). */
  def ohlcBars(spark: SparkSession, dir: String, stepSeconds: Long,
      maxUser: Long = 6L): DataFrame = {
    val src = eventsStream(spark, dir)
      .filter(col("user_id") < maxUser && !isnan(col("value")))
    runToTable(spark, ohlcAgg(src, stepSeconds), "stream_ohlc",
      OutputMode.Complete())
  }

  /** The OHLC bar aggregate alone (events with ts-ns + user_id + event_id +
    * value → per-(user, right-closed bucket) bars) — source-agnostic for
    * the out-of-order spec. min_by/max_by on the (ts, event_id) struct key
    * are order-insensitive merges, so a bucket whose OPENING observation
    * arrives in the LAST micro-batch still reports it as `open`. */
  def ohlcAgg(src: DataFrame, stepSeconds: Long): DataFrame = {
    val orderKey = struct(col("ts"), col("event_id"))
    src
      .groupBy(col("user_id"),
        graft.ops.TimeSeriesOps.bucketRightClosedNs(col("ts"), stepSeconds)
          .as("bucket_ns"))
      .agg(
        min_by(col("value"), orderKey).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), orderKey).as("close"),
        count(lit(1)).as("n_obs"))
  }
}
