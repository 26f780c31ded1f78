package graft.cli

import java.nio.file.Files

import graft.{Alone, SparkSpec}

/** End-to-end corpus-prep CLI over the driver's real documents table:
  * filter → sample → redact → near-dedup → pack, then the stats contract. */
class CorpusPrepSpec extends SparkSpec {

  test("full pipeline runs end-to-end and reports consistent stats") {
    val out = Files.createTempDirectory("corpus_prep").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> "/root/testdata/sf0.001/documents.parquet",
      "out" -> out,
      "lang" -> "en",
      "min-quality" -> "0.4",
      "gopher-gate" -> "true",
      "gopher-min-stopwords" -> "1",
      "redact" -> "true",
      "paragraph-dedup" -> "true",
      "span-dedup" -> "8",
      "dedup" -> "near",
      "containment-dedup" -> "0.9",
      "budget" -> "512"))
    assert(stats("docs_in") > 0)
    assert(stats("docs_out") > 0 && stats("docs_out") <= stats("docs_in"))
    assert(stats("chunks") > 0)
    val chunks = spark.read.parquet(s"$out/chunks")
    assert(chunks.count() == stats("docs_out"))
    assert(chunks.columns.toSet ==
      Set("doc_id", "n_tokens", "start_offset", "chunk_id", "chunk_end_id"))
  }

  test("--c4-gate rewrites pages to kept lines and drops failing pages") {
    import spark.implicits._
    val in = Files.createTempDirectory("c4_in").toString
    val five = "one two three. four five six. seven eight nine. " +
      "ten eleven twelve. final sentence here."
    Seq(
      (1L, five + "\nno punctuation line here\nshort a."),
      (2L, five + "\nwith lorem ipsum inside."),
      (3L, "too few. sentences here."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("c4_out").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> out, "c4-gate" -> "true", "budget" -> "64"))
    assert(stats("docs_out") == 1L) // doc 1 passes; 2 lorem, 3 few sentences
    // the surviving doc packed its CLEANED text: the unpunctuated line and
    // the short line are gone, so the token count is the five-sentence core
    val chunks = spark.read.parquet(s"$out/chunks")
    assert(chunks.select("n_tokens").head().getLong(0) == 15L)
  }

  test("--encoding-max-bad-ratio drops mojibake docs as a map-side predicate") {
    import spark.implicits._
    val in = Files.createTempDirectory("enc_in").toString
    Seq(
      (1L, "a perfectly clean document of text"),
      (2L, "broken ��� document"),
      (3L, "another clean one"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("enc_out").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> out, "encoding-max-bad-ratio" -> "0.01"))
    assert(stats("docs_out") == 2L)
  }

  test("--token-counter bpe budgets chunks with real BPE counts") {
    import spark.implicits._
    val in = Files.createTempDirectory("bpe_in").toString
    // fixture-vocabulary words fully merge under the committed table;
    // an OOV word splits into subwords, inflating its BPE count
    Seq((1L, "batch part spark line"), (2L, "zzqq zzqq"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val outWs = Files.createTempDirectory("bpe_out1").toString
    val outBpe = Files.createTempDirectory("bpe_out2").toString
    CorpusPrep.run(spark, Map("in" -> in, "out" -> outWs, "budget" -> "64"))
    CorpusPrep.run(spark, Map("in" -> in, "out" -> outBpe, "budget" -> "64",
      "token-counter" -> "bpe"))
    def tok(dir: String) = spark.read.parquet(s"$dir/chunks")
      .orderBy("doc_id").collect().map(_.getAs[Long]("n_tokens")).toSeq
    assert(tok(outWs) == Seq(4L, 2L))
    val bpe = tok(outBpe)
    assert(bpe.head >= 4L && bpe(1) > 2L,
      s"OOV words must split into subwords under BPE counting: $bpe")
    // loud on a bad counter name
    intercept[RuntimeException] {
      CorpusPrep.run(spark, Map("in" -> in,
        "out" -> Files.createTempDirectory("bpe_out3").toString,
        "token-counter" -> "wordpiece"))
    }
  }

  test("--incremental-ref drops re-crawls exactly; --incremental-fuzzy catches drifted ones") {
    import spark.implicits._
    val refDir = Files.createTempDirectory("incr_ref").toString
    val inDir = Files.createTempDirectory("incr_in").toString
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq((1L, core), (2L, "an old corpus document kept around for reference"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(refDir)
    Seq(
      (10L, core),                          // byte-identical re-crawl
      (11L, core + " phi"),                 // drifted re-crawl (J = 20/21)
      (12L, "a genuinely new document with fresh words entirely"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val out1 = Files.createTempDirectory("incr_out1").toString
    val s1 = CorpusPrep.run(spark, Map(
      "in" -> inDir, "out" -> out1, "incremental-ref" -> refDir,
      "budget" -> "64"))
    assert(s1("incremental_dropped") == 1L, s1) // exact layer only
    assert(s1("docs_out") == 2L)
    val out2 = Files.createTempDirectory("incr_out2").toString
    val s2 = CorpusPrep.run(spark, Map(
      "in" -> inDir, "out" -> out2, "incremental-ref" -> refDir,
      "incremental-fuzzy" -> "0.9", "budget" -> "64"))
    assert(s2("incremental_dropped") == 2L, s2) // + the drifted re-crawl
    val kept = spark.read.parquet(s"$out2/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L))
  }

  test("--incremental-keepers ingests against the FEED-MAINTAINED digest state") {
    import spark.implicits._
    import graft.io.LakeMerge
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // the trained corpus lives in a lake whose keeper state is maintained
    // from the change feed — the crawl never re-reads or re-hashes it
    val lakeDir = Files.createTempDirectory("incrk_lake").toString + "/lake"
    LakeMerge.writeLake(LakeMerge.withPartDate(Seq(
      (1L, "2024-01-01 00:00:00", core),
      (2L, "2024-01-01 01:00:00", "an old corpus document kept for reference"))
      .toDF("doc_id", "time", "text")), lakeDir, seriesCol = "doc_id")
    val stateDir = Files.createTempDirectory("incrk_state").toString + "/st"
    graft.dedup.Dedup.seedKeeperState(LakeMerge.readLake(spark, lakeDir),
      stateDir, "doc_id", "text")
    // a later commit adds a doc; the state folds current BEFORE the crawl
    LakeMerge.merge(spark, lakeDir, LakeMerge.withPartDate(Seq(
      (3L, "2024-01-02 00:00:00", "freshly merged trained document"))
      .toDF("doc_id", "time", "text")), Seq("doc_id"),
      seriesCol = "doc_id", captureChanges = true)
    graft.dedup.Dedup.foldKeeperStateInto(
      LakeMerge.readChanges(spark, lakeDir), stateDir, "doc_id", "text")

    val inDir = Files.createTempDirectory("incrk_in").toString
    Seq(
      (10L, core),                                    // dup of seed doc 1
      (11L, "freshly merged trained document"),       // dup of FOLDED doc 3
      (12L, "a genuinely new document with fresh words"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(inDir)
    val out = Files.createTempDirectory("incrk_out").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> inDir, "out" -> out, "incremental-keepers" -> stateDir,
      "budget" -> "64"))
    assert(stats("incremental_dropped") == 2L, stats.toString)
    val kept = spark.read.parquet(s"$out/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L),
      "only the genuinely new doc survives — including vs the folded commit")
  }

  test("--gopher-gate filters as a predicate and composes with the pipeline") {
    val out = Files.createTempDirectory("corpus_prep_gopher").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> "/root/testdata/sf0.001/documents.parquet",
      "out" -> out,
      "gopher-gate" -> "true",
      "gopher-min-stopwords" -> "1", // synthetic vocab carries only "the"
      "budget" -> "512"))
    // the word-count floor must actually bite on this corpus (short docs
    // exist at sf0.001) without draining it
    assert(stats("docs_out") > 0 && stats("docs_out") < stats("docs_in"),
      s"gate must drop some but not all docs: $stats")
    // parity with the frame-form gate: same survivor count
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val wantSurvivors = graft.functions.TextFunctions
      .gopherGate(docs, "doc_id", "text", minStopwordHits = 1L)
      .filter(org.apache.spark.sql.functions.col("pass")).count()
    assert(stats("docs_out") == wantSurvivors,
      "gopherPass predicate and gopherGate frame must agree")
  }

  test("--repetition-gate keeps clean docs and drops line/n-gram spam") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_repgate").toString
    val clean = (1 to 40).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, clean),
      (2L, Seq.fill(4)("dup line").mkString("\n") + "\nunique one\nunique two"),
      (3L, (1 to 16).map(_ => "x y").mkString(" ") + " " + clean))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "repetition-gate" -> "true", "budget" -> "512"))
    assert(stats("docs_out") == 1L,
      s"only the clean doc survives the repetition thresholds: $stats")
  }

  test("--containment-dedup drops quoted subsets resemblance dedup missed") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val in = Files.createTempDirectory("contain_in").toString
    Seq(
      (1L, core, "en", "web", core.length.toLong),
      (2L, "long preamble sits here " + core +
        " followed by a very different much longer commentary tail section",
        "en", "web", 120L),
      (3L, "a separate unrelated document with its own words", "en", "web", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("contain_out").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> out,
      "dedup" -> "near",              // Jaccard(1,2) is low → near keeps both
      "containment-dedup" -> "0.9",   // containment(1→2) = 1.0 → 1 drops
      "budget" -> "512"))
    val kept = spark.read.parquet(s"$out/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L),
      s"the quoted doc must drop, its superset and the bystander stay: $kept")
    assert(stats("docs_out") == 2)
  }

  test("--paragraph-dedup rewrites texts before packing: shared boilerplate packs once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_para").toString
    // 20 docs, each "unique <i> ... " + the same 40-token boilerplate tail
    val boiler = (1 to 40).map(j => s"boiler$j").mkString(" ")
    (1 to 20).map(i => (i.toLong, s"unique$i alpha beta\n\n$boiler"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val plain = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out1", "budget" -> "64"))
    val para = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out2", "budget" -> "64",
      "paragraph-dedup" -> "true"))
    assert(plain("docs_out") === 20L && para("docs_out") === 20L,
      "paragraph dedup rewrites texts, it never drops docs")
    // without: 20 × ~43 tokens ≈ 860 → ~14 chunks at 64; with: one
    // boilerplate copy survives, so ~3+40 tokens once + 19 × ~3
    assert(para("chunks") < plain("chunks"),
      s"boilerplate must pack once (got ${para("chunks")} vs ${plain("chunks")})")
    val toks = spark.read.parquet(s"$dir/out2/chunks")
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    // 20 × 3 unique tokens + ONE 40-token boilerplate copy, minus 1: the
    // packer's tokenCount splits on SPACES, so the "\n\n" seam in the one
    // doc that kept its boilerplate glues two tokens into one
    assert(toks === 20L * 3 + 40 - 1,
      s"token mass after paragraph dedup must be unique + one boilerplate (got $toks)")
  }

  test("--boilerplate-max-docfreq removes chrome everywhere, keeps rare repetition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_boiler").toString
    // the same footer in every doc (chrome), one quote shared by two docs
    (1 to 10).map { i =>
      val quote = if (i <= 2) "\n\nshared quote once" else ""
      (i.toLong, s"unique$i alpha$quote\n\nGLOBAL FOOTER CHROME")
    }.toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out", "budget" -> "64",
      "boilerplate-max-docfreq" -> "2"))
    assert(stats("docs_out") === 10L, "boilerplate removal rewrites, never drops docs")
    def tokenMass(out: String): Long =
      spark.read.parquet(s"$out/chunks")
        .agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    // footer (df=10) drops everywhere; the quote (df=2) survives in BOTH
    // docs 1-2. Space-splitting token mass: docs 1-2 "uniqueN alpha\n\n
    // shared quote once" = 4 tokens (the \n\n seam glues two), docs 3-10
    // "uniqueN alpha" = 2 tokens
    assert(tokenMass(s"$dir/out") === 2L * 4 + 8L * 2,
      "footer must drop everywhere while the 2-doc quote survives twice")
    // tightening to df <= 1 also strips the quote from both docs
    CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out1", "budget" -> "64",
      "boilerplate-max-docfreq" -> "1"))
    assert(tokenMass(s"$dir/out1") === 10L * 2)
  }

  test("--span-dedup cuts inline boilerplate that has no paragraph boundary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_span").toString
    // the 40-token boilerplate tail sits INLINE (no blank line), so only
    // the substring layer can catch it
    val boiler = (1 to 40).map(j => s"boiler$j").mkString(" ")
    (1 to 20).map(i => (i.toLong, s"unique$i alpha beta $boiler"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out", "budget" -> "64",
      "span-dedup" -> "8"))
    assert(stats("docs_out") === 20L)
    val toks = spark.read.parquet(s"$dir/out/chunks")
      .agg(org.apache.spark.sql.functions.sum("n_tokens")).head().getLong(0)
    // doc 1 keeps all 43 tokens; every later doc keeps ONLY its distinct
    // first token — "alpha beta" is shared too, so windows from pos 1
    // onward all recur cross-doc and the cut islands cover tokens 1..42
    assert(toks === 43L + 19 * 1,
      s"span rewrite must cut boilerplate plus shared prefix (got $toks)")
  }

  test("transitive dedup keeps no more docs than one-hop near dedup") {
    // chains collapse further under the CC closure, never less
    val outNear = Files.createTempDirectory("corpus_near").toString
    val outTrans = Files.createTempDirectory("corpus_trans").toString
    val in = "/root/testdata/sf0.001/documents.parquet"
    val near = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> outNear, "dedup" -> "near"))
    val trans = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> outTrans, "dedup" -> "transitive"))
    assert(trans("docs_in") == near("docs_in"))
    assert(trans("docs_out") <= near("docs_out"))
    assert(trans("docs_out") > 0)
  }

  test("decontamination drops exactly the docs sharing an n-gram with the bench set") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // benchmark = 5 docs lifted straight from the corpus: those docs (and
    // any near-identical template siblings) must be dropped, others kept
    val benchDir = Files.createTempDirectory("bench").toString + "/bench.parquet"
    base.filter(col("doc_id") < 5).write.parquet(benchDir)
    val out = Files.createTempDirectory("corpus_decon").toString
    val stats = CorpusPrep.run(spark, Map(
      "in" -> "/root/testdata/sf0.001/documents.parquet",
      "out" -> out, "decontaminate" -> benchDir, "ngram" -> "8"))
    assert(stats("contaminated_dropped") >= 5,
      "the benchmark's own source docs must be flagged")
    assert(stats("docs_out") == stats("docs_in") - stats("contaminated_dropped"))
    // surviving docs contain none of the flagged ids
    val survivors = spark.read.parquet(s"$out/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((0L until 5L).forall(!survivors.contains(_)))
  }

  test("capped dedup audits dropped buckets in the signing pass itself, not a second pass") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // spam block: 30 DISTINCT texts over one token set (multiset varies) —
    // they survive exact collapse and land in one Jaccard-1 LSH bucket per
    // band, which a --max-bucket 10 run must drop and count
    val toks = (0 until 8).map(j => s"spamtok$j")
    val spam = (0 until 30).map { i =>
      (5000L + i, toks.zipWithIndex
        .flatMap { case (t, j) => Seq.fill(((i >> j) & 1) + 1)(t) }
        .mkString(" "))
    }.toDF("doc_id", "text")
    val in = Files.createTempDirectory("corpus_spam").toString + "/docs.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").unionByName(spam).write.parquet(in)

    // every query that signs (minhash_sigs in the plan) must carry the
    // oversize CollectMetrics audit — the round-6 shape was a SEPARATE
    // banding query for the audit count, i.e. a signing plan with no metric
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Boolean)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val s = qe.optimizedPlan.toString
        plans.synchronized {
          plans += ((s.contains("minhash_sigs"), s.contains("graft_oversize")))
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Files.createTempDirectory("corpus_spam_out").toString
      val stats = CorpusPrep.run(spark, Map(
        "in" -> in, "out" -> out, "dedup" -> "near", "max-bucket" -> "10"))
      assert(stats("oversize_buckets_dropped") >= 4L,
        "8 hashes / 2 rows-per-band = 4 bands of oversize spam bucket, " +
          "plus whatever organic template buckets exceed 10 members")
      // dropped buckets under-merge: all 30 spam docs survive
      val survivors = spark.read.parquet(s"$out/chunks")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((0 until 30).forall(i => survivors.contains(5000L + i)))
      // QueryExecutionListener events post asynchronously; wait for the
      // signing queries to land before asserting on them
      val deadline = System.nanoTime() + 10_000_000_000L
      while (plans.synchronized(!plans.exists(_._1)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val signing = plans.synchronized(plans.filter(_._1).toList)
      assert(signing.nonEmpty)
      assert(signing.forall(_._2),
        s"a signing query without the in-pass audit means a second audit pass: $signing")
    } finally spark.listenerManager.unregister(listener)
  }

  test("exact dedup stage removes the duplicates a shifted copy introduces") {
    val out = Files.createTempDirectory("corpus_prep2").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import org.apache.spark.sql.functions._
    val dup = base.unionByName(base.withColumn("doc_id", col("doc_id") + 1000000L))
    val in = Files.createTempDirectory("corpus_in").toString + "/docs.parquet"
    dup.write.parquet(in)
    val stats = CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> out, "dedup" -> "exact"))
    assert(stats("docs_in") == 2 * base.count())
    assert(stats("docs_out") == base.count())
  }

  test("--lm-percentile drops the gibberish tail but keeps unscorable short docs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_lm").toString
    // 30 docs from a tiny shared vocabulary (high-count trigrams) + 3
    // gibberish docs (unique trigrams → high avg-NLL) + 1 doc too short
    // to emit any trigram
    val normal = (1 to 30).map(i =>
      (i.toLong, s"the cat sat on the mat and the dog ran fast $i"))
    val gibberish = Seq(
      (101L, "qzxjv wkqpf zzkwx vqjzp xkwvz"),
      (102L, "pfkqw zjxvk wqzpx kvjwz qxzfp"),
      (103L, "vwxqz kpjfw zqkxv pwzjq fkxwq"))
    val short = Seq((200L, "ab"))
    (normal ++ gibberish ++ short).toDF("doc_id", "text")
      .write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "lm-percentile" -> "0.85", "budget" -> "64"))
    val survivors = spark.read.parquet(s"$dir/out/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Seq(101L, 102L, 103L).forall(!survivors.contains(_)),
      s"gibberish must score in the dropped tail, survivors: $survivors")
    assert(survivors.contains(200L), "a <3-char doc is unscorable and must pass")
    assert(stats("lm_dropped") == stats("docs_in") - stats("docs_out"),
      s"lm_dropped must reconcile with the doc counts: $stats")
    assert(stats("lm_dropped") >= 3L)
  }

  test("--word-lm-ref drops the off-domain tail under a reference-trained bigram LM") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_wordlm").toString
    // reference domain: weather-report prose with strong bigram structure
    (1 to 40).map(i =>
      (i.toLong, s"the river level rose above the gauge at station $i"))
      .toDF("doc_id", "text").write.parquet(s"$dir/ref")
    // corpus: 20 in-domain docs (reference bigrams throughout) + 4
    // off-domain docs (valid words, alien bigrams → backoff floor) + 1
    // single-token doc (no transitions, unscorable → kept)
    val inDomain = (1 to 20).map(i =>
      (i.toLong, "the river level rose above the gauge at station alpha"))
    val offDomain = Seq(
      (101L, "purple elephants juggle quantum spreadsheets on tuesday"),
      (102L, "spreadsheet tuesday elephant quantum juggles purple on"),
      (103L, "gauge station the at above rose level river the"), // words in-vocab, bigrams reversed
      (104L, "zz qq vv ww pp kk"))
    val short = Seq((200L, "the"))
    (inDomain ++ offDomain ++ short).toDF("doc_id", "text")
      .write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "word-lm-ref" -> s"$dir/ref", "word-lm-percentile" -> "0.8",
      "budget" -> "64"))
    val survivors = spark.read.parquet(s"$dir/out/chunks")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Seq(101L, 102L, 104L).forall(!survivors.contains(_)),
      s"off-domain docs must drop, survivors: $survivors")
    assert((1L to 20L).forall(survivors.contains),
      "in-domain docs must all survive")
    assert(survivors.contains(200L),
      "a transition-less doc is unscorable and must pass")
    assert(stats("word_lm_dropped") == stats("docs_in") - stats("docs_out")
      && stats("word_lm_dropped") >= 3L, stats.toString)
    // an empty reference is refused before any scoring
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$dir/empty")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map("in" -> s"$dir/in", "out" -> s"$dir/o2",
        "word-lm-ref" -> s"$dir/empty", "budget" -> "64"))
    }
    assert(e.getMessage.contains("no tokens"), e.getMessage)
  }

  test("--mix-target flattens strata over the survivors and validates --mix-col") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_mix").toString
    (0 until 100).map { i =>
      val lang = if (i < 80) "en" else if (i < 96) "de" else "zh"
      (i.toLong, s"token$i alpha beta gamma", lang)
    }.toDF("doc_id", "text", "lang").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "mix-target" -> "30", "budget" -> "64"))
    assert(stats("docs_out") < stats("docs_in"))
    val kept = spark.read.parquet(s"$dir/out/chunks").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // zh's rate clamps to keep-all; de's keep fraction must beat en's
    assert((96L until 100L).forall(kept.contains), s"zh stratum must keep all 4: $kept")
    val enFrac = kept.count(_ < 80L) / 80.0
    val deFrac = kept.count(id => id >= 80L && id < 96L) / 16.0
    assert(deFrac > enFrac, s"alpha=0.5 must up-sample de ($deFrac) over en ($enFrac)")
    intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map(
        "in" -> s"$dir/in", "out" -> s"$dir/out2", "mix-target" -> "30",
        "mix-col" -> "nope"))
    }
  }

  test("--budget-select caps each stratum's tokens with its best-quality prefix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_budget").toString
    // 2 sources x 10 docs x ~8 tokens; budget 40 keeps roughly half each
    (0 until 20).map { i =>
      val src = if (i < 10) "a" else "b"
      (i.toLong, "the data of and to is in row " + i, src)
    }.toDF("doc_id", "text", "source").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "budget-select" -> "40", "budget" -> "64"))
    assert(stats("docs_out") < stats("docs_in"))
    val kept = spark.read.parquet(s"$dir/out/chunks").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // both strata survive the cap — neither source is wiped out
    assert(kept.exists(_ < 10L) && kept.exists(_ >= 10L), kept.toString)
    // per-source token budget: 9-token docs, 40-token budget -> 4 docs max
    assert(kept.count(_ < 10L) <= 4 && kept.count(_ >= 10L) <= 4, kept.toString)
    intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map(
        "in" -> s"$dir/in", "out" -> s"$dir/out2",
        "budget-select" -> "40", "budget-col" -> "nope"))
    }
  }

  test("--upsample multiplies strata by epoch weight with qualified copy ids") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_upsample").toString
    (0 until 30).map { i =>
      val src = if (i < 10) "heavy" else if (i < 20) "light" else "other"
      (i.toLong, "the data of and to is in row " + i, src)
    }.toDF("doc_id", "text", "source").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "upsample" -> "heavy=3.0,light=0.0", "budget" -> "64"))
    val kept = spark.read.parquet(s"$dir/out/chunks").select("doc_id")
      .collect().map(_.getString(0))
    // heavy: exactly 3 copies each with #0/#1/#2 ids; light: dropped;
    // other: the 1.0 default keeps exactly one copy
    val byBase = kept.groupBy(_.split("#")(0).toLong)
    assert((0L until 10L).forall(i => byBase(i).toSet ==
      Set(s"$i#0", s"$i#1", s"$i#2")), byBase.toString)
    assert((10L until 20L).forall(i => !byBase.contains(i)))
    assert((20L until 30L).forall(i => byBase(i).toSeq == Seq(s"$i#0")))
    assert(stats("upsample_extra") == 10L) // +20 heavy copies, -10 light
    intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map("in" -> s"$dir/in", "out" -> s"$dir/out2",
        "upsample" -> "heavy=oops"))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map("in" -> s"$dir/in", "out" -> s"$dir/out3",
        "upsample" -> "a=1.0", "upsample-col" -> "nope"))
    }
  }

  test("--dsir-target keeps the docs most like the target domain") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_dsir").toString
    // 20 prose docs + 20 digit docs; target is prose-like
    ((0 until 20).map(i => (i.toLong, s"the quick brown fox number $i jumps"))
      ++ (20 until 40).map(i => (i.toLong, s"0101 2323 4545 6767 $i 8989")))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    // a target sample with real mass on the prose character distribution
    (100 until 110).map(i =>
        (i.toLong, s"the quick lazy dog number $i jumps over the brown fox"))
      .toDF("doc_id", "text").write.parquet(s"$dir/target")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "dsir-target" -> s"$dir/target", "dsir-keep" -> "20", "budget" -> "64"))
    assert(stats("dsir_dropped") == 20L, s"must drop the 20 off-domain docs: $stats")
    val kept = spark.read.parquet(s"$dir/out/chunks").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 20L).toSet,
      s"the prose docs must be the survivors under a prose target: $kept")

    // word-bigram feature space (r15): same fixture, same survivors —
    // the prose/digit split is visible to both feature spaces
    val statsW = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/outw",
      "dsir-target" -> s"$dir/target", "dsir-keep" -> "20",
      "dsir-features" -> "words", "budget" -> "64"))
    assert(statsW("dsir_dropped") == 20L, statsW.toString)
    val keptW = spark.read.parquet(s"$dir/outw/chunks").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptW == (0L until 20L).toSet, keptW.toString)
    // unknown feature space refuses loudly
    intercept[RuntimeException] {
      CorpusPrep.run(spark, Map("in" -> s"$dir/in", "out" -> s"$dir/outx",
        "dsir-target" -> s"$dir/target", "dsir-features" -> "emoji"))
    }
  }

  test("--chunk-mode sliding emits overlapping windows instead of packed assignments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_sliding").toString
    Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "chunk-mode" -> "sliding", "chunk-tokens" -> "4", "chunk-stride" -> "3"))
    assert(stats("docs_out") == 1L)
    assert(stats("chunks") == 4L) // starts 0,3,6,9 over 10 tokens
    val chunks = spark.read.parquet(s"$dir/out/chunks")
    assert(chunks.columns.toSet == Set("doc_id", "chunk_idx", "chunk_text", "n_tokens"))
    intercept[RuntimeException] {
      CorpusPrep.run(spark, Map(
        "in" -> s"$dir/in", "out" -> s"$dir/out2", "chunk-mode" -> "nope"))
    }
  }

  test("--chunk-mode sentence cuts at sentence boundaries") {
    import spark.implicits._
    val dir = Files.createTempDirectory("corpus_sentence").toString
    Seq((1L, "One two three. Four five! Six seven eight nine? Ten."))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stats = CorpusPrep.run(spark, Map(
      "in" -> s"$dir/in", "out" -> s"$dir/out",
      "chunk-mode" -> "sentence", "chunk-tokens" -> "4"))
    assert(stats("docs_out") == 1L)
    assert(stats("chunks") == 3L)
    val chunks = spark.read.parquet(s"$dir/out/chunks")
      .orderBy("chunk_idx").collect()
    assert(chunks.map(_.getAs[String]("chunk_text")).toSeq === Seq(
      "One two three. Four five!", "Six seven eight nine?", "Ten."))
  }

  test("--export-jsonl writes gzip JSON-lines shards that round-trip the chunks") {
    val out = Files.createTempDirectory("corpus_export").toString
    CorpusPrep.run(spark, Map(
      "in" -> "/root/testdata/sf0.001/documents.parquet",
      "out" -> out,
      "export-jsonl" -> "gzip",
      "export-shards" -> "2"))
    val parts = new java.io.File(s"$out/export").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(parts.length == 2, s"expected 2 gzip shards, got ${parts.map(_.getName).toSeq}")
    val chunks = spark.read.parquet(s"$out/chunks")
    val exported = spark.read.json(s"$out/export")
    assert(exported.count() == chunks.count())
    assert(exported.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      chunks.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // codec validation is loud
    intercept[IllegalArgumentException] {
      CorpusPrep.run(spark, Map(
        "in" -> "/root/testdata/sf0.001/documents.parquet",
        "out" -> Files.createTempDirectory("corpus_export2").toString,
        "export-jsonl" -> "zip"))
    }
  }

  // the capped spam corpus of the in-pass audit test above: 30 distinct
  // texts over one token set, one oversize bucket per band at cap 10
  private def spamCorpus(): String = {
    import spark.implicits._
    val toks = (0 until 8).map(j => s"spamtok$j")
    val spam = (0 until 30).map { i =>
      (5000L + i, toks.zipWithIndex
        .flatMap { case (t, j) => Seq.fill(((i >> j) & 1) + 1)(t) }
        .mkString(" "))
    }.toDF("doc_id", "text")
    val in = Files.createTempDirectory("corpus_spam").toString + "/docs.parquet"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").unionByName(spam).write.parquet(in)
    in
  }

  test("capped near dedup before containment completes its audit at the stage cut") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the audit node lies below the containment cut; a cut that is not a
    // tracked SQL action never completes the observation, and the stats
    // would wait on it forever
    val in = spamCorpus()
    val out = Files.createTempDirectory("corpus_spam_cut").toString
    val stats = Await.result(Future(CorpusPrep.run(spark, Map(
      "in" -> in, "out" -> out, "dedup" -> "near", "max-bucket" -> "10",
      "containment-dedup" -> "0.9"))), 5.minutes)
    assert(stats("oversize_buckets_dropped") >= 4L, s"$stats")
    assert(stats("docs_out") > 0L && stats("docs_out") < stats("docs_in"), s"$stats")
  }

  test("the composed run shuffles within 1.1x of its stages run one by one") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.dedup.Dedup
    import graft.functions.TextFunctions
    import graft.obs.SparkWork
    import graft.trainprep.TrainPrep
    // 120 docs of 40 random tokens, a 30-token prefix of every fourth
    // (dropped by containment), and 3 clusters of 20 one-token variants
    // (each closes to one keeper under transitive dedup)
    val rnd = new scala.util.Random(13)
    def doc() = Seq.fill(40)(s"w${rnd.nextInt(5000)}")
    val sups = Seq.fill(120)(doc())
    val bases = Seq.fill(3)(doc())
    val texts = sups.map(_.mkString(" ")) ++
      sups.indices.filter(_ % 4 == 0).map(i => sups(i).take(30).mkString(" ")) ++
      bases.zipWithIndex.flatMap { case (b, c) =>
        (0 until 20).map(v => b.updated(v % 40, s"v${c}_$v").mkString(" ")) }
    val dir = Files.createTempDirectory("corpus_composed").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$dir/s0")

    // stage by stage with parquet hand-offs, as `corpus_prep_e2e_1m` does:
    // the sum is the pipeline's shuffle floor
    def stage(n: Int)(f: DataFrame => DataFrame): Long =
      SparkWork.measure(spark) {
        f(spark.read.parquet(s"$dir/s${n - 1}")).write.parquet(s"$dir/s$n")
        spark.read.parquet(s"$dir/s$n").count()
      }._2.shuffleWriteRecords
    val stageSum = Seq(
      stage(1)(d => d.join(TextFunctions.repetitionGate(d, "doc_id", "text")
        .filter(col("pass")).select(col("doc_id")), Seq("doc_id"), "left_semi")),
      stage(2)(_.withColumn("text", TrainPrep.redactPii(col("text")))),
      stage(3)(d => d.join(Dedup.nearDupKeepersTransitiveRowwise(d, "doc_id", "text",
          numHashes = 16, rowsPerBand = 4, threshold = 0.8,
          maxBucketSize = Dedup.DefaultMaxBucketSize,
          oversizeObs = Some(org.apache.spark.sql.Observation("stage_audit")))
        .filter(col("doc_id") === col("keeper_id")).select(col("doc_id")), "doc_id")),
      stage(4)(Dedup.containmentDrop(_, "doc_id", "text", 0.9)),
      stage(5)(TrainPrep.packChunks(_, "doc_id", "text", 4096L))).sum
    assert(spark.read.parquet(s"$dir/s5").count() == 123L)

    val (stats, composed) = SparkWork.measure(spark)(CorpusPrep.run(spark, Map(
      "in" -> s"$dir/s0", "out" -> s"$dir/cli",
      "repetition-gate" -> "true", "redact" -> "true", "dedup" -> "transitive",
      "dedup-hashes" -> "16", "dedup-rows-per-band" -> "4",
      "containment-dedup" -> "0.9", "chunk-mode" -> "pack", "budget" -> "4096")))
    assert(stats("docs_out") == 123L, s"$stats")
    assert(composed.shuffleWriteRecords <= 1.1 * stageSum,
      s"the composed run shuffled ${composed.shuffleWriteRecords} records against " +
        s"a stage sum of $stageSum: a stage re-derives its upstream per read")
  }

  test("a run that fails after dedup leaves no kept frame behind", Alone) {
    import org.apache.spark.sql.functions._
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val dir = Files.createTempDirectory("corpus_fail").toString
    val base = spark.read.parquet(docs)
    base.filter(col("doc_id") < 5).write.parquet(s"$dir/bench")
    base.filter(col("doc_id") < 40).write.parquet(s"$dir/target")
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = org.apache.spark.sql.CacheProbe.entries(spark)
    // every kept frame is live when the chunking fails: the LM, word-LM,
    // DSIR and contamination frames and the containment cut
    val e = intercept[RuntimeException](CorpusPrep.run(spark, Map(
      "in" -> docs, "out" -> s"$dir/out", "redact" -> "true",
      "lm-percentile" -> "0.9", "word-lm-ref" -> docs,
      "dsir-target" -> s"$dir/target", "dsir-keep" -> "200",
      "dedup" -> "near", "containment-dedup" -> "0.9",
      "decontaminate" -> s"$dir/bench", "ngram" -> "8",
      "chunk-mode" -> "bogus")))
    assert(e.getMessage.contains("--chunk-mode"), e.getMessage)
    // frames released after their first use go on the listener bus
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    assertIsolated(leaked.isEmpty,
      s"persisted RDDs left behind: ${leaked.map(id => sc.getPersistentRDDs(id))}")
    val cachedAfter = org.apache.spark.sql.CacheProbe.entries(spark)
    assertIsolated(cachedAfter == cachedBefore,
      s"the session cache went from $cachedBefore to $cachedAfter entries")
  }
}
