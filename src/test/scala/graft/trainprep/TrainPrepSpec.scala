package graft.trainprep

import org.apache.spark.sql.functions._

import graft.{Alone, SparkSpec}

class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the cat sat"),
    (2L, "the dog sat"),
    (3L, "a bird")
  ).toDF("doc_id", "text")

  test("tfIdf computes smoothed idf and per-doc tf") {
    val out = TrainPrep.tfIdf(docs, "doc_id", "text")
      .select("doc_id", "token", "tf", "df", "idf").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // 'the' appears in 2 of 3 docs: idf = ln(4/3)
    val (tf, df, idf) = out((1L, "the"))
    assert(tf == 1L && df == 2L)
    assert(math.abs(idf - math.log(4.0 / 3.0)) < 1e-12)
    // 'bird' is unique to doc 3: idf = ln(4/2)
    assert(math.abs(out((3L, "bird"))._3 - math.log(2.0)) < 1e-12)
  }

  test("tfIdf with supplied N matches the counting overload exactly") {
    val counted = TrainPrep.tfIdf(docs, "doc_id", "text")
      .select("doc_id", "token", "tfidf").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val supplied = TrainPrep.tfIdf(docs, "doc_id", "text", nDocs = 3L)
      .select("doc_id", "token", "tfidf").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(supplied == counted)
    intercept[IllegalArgumentException] {
      TrainPrep.tfIdf(docs, "doc_id", "text", nDocs = 0L)
    }
  }

  test("hashSampleFilter is deterministic and rate-accurate") {
    val ids = spark.range(10000).toDF("id")
    val kept = ids.filter(TrainPrep.hashSampleFilter(col("id"), "15")).count()
    val kept2 = ids.filter(TrainPrep.hashSampleFilter(col("id"), "15")).count()
    assert(kept == kept2) // no RNG, no partition sensitivity
    // expected rate 0x15/256 ~ 8.2%; binomial 3-sigma on n=10000 is ~0.8%
    assert(math.abs(kept / 10000.0 - 0x15 / 256.0) < 0.01)
  }

  test("hashSampleFilter normalizes uppercase hex and rejects non-hex") {
    val ids = spark.range(2000).toDF("id")
    val lower = ids.filter(TrainPrep.hashSampleFilter(col("id"), "a0")).count()
    val upper = ids.filter(TrainPrep.hashSampleFilter(col("id"), "A0")).count()
    assert(lower == upper && lower > 0) // "A0" must not silently select ~0 rows
    intercept[IllegalArgumentException] {
      TrainPrep.hashSampleFilter(col("id"), "0x15")
    }
    intercept[IllegalArgumentException] {
      TrainPrep.stratifiedSampleFilter(col("id"), lit("en"), Seq("en" -> "GG"))
    }
  }

  test("hash thresholds reject Unicode digits that would silently select ~100%") {
    // fullwidth '５' (U+FF15) and Arabic-Indic '٥' (U+0665) satisfy
    // Character.isDigit but sort above 'f', making the filter a no-op
    intercept[IllegalArgumentException] {
      TrainPrep.hashSampleFilter(col("id"), "５")
    }
    intercept[IllegalArgumentException] {
      TrainPrep.hashSampleFilter(col("id"), "٥" + "0")
    }
  }

  test("stratifiedSampleFilter rejects thresholds longer than the 2-char prefix") {
    // "a00" > prefix "a0" lexicographically, so a 3-digit threshold would
    // silently round the rate up to 1/256 granularity — must fail loudly
    intercept[IllegalArgumentException] {
      TrainPrep.stratifiedSampleFilter(col("id"), lit("en"), Seq("en" -> "a00"))
    }
  }

  test("stratifiedSampleFilter drops unlisted strata") {
    val d = Seq((1L, "en"), (2L, "de"), (3L, "fr")).toDF("id", "lang")
    val kept = d.filter(TrainPrep.stratifiedSampleFilter(col("id"), col("lang"),
      Seq("en" -> "ff", "de" -> "ff"))) // threshold ff ~ keep (almost) all
      .select("lang").as[String].collect().toSet
    assert(!kept.contains("fr"))
  }

  test("redactPii masks emails and phone numbers, leaves the rest") {
    val d = Seq("mail a.b-c%d@sub.example.org and call 555-1234 today").toDF("t")
    val out = d.select(TrainPrep.redactPii(col("t"))).head().getString(0)
    assert(out == "mail <EMAIL> and call <PHONE> today")
  }

  test("packChunks lays docs end-to-end and cuts at the budget") {
    val d = Seq(
      (1L, Seq.fill(5)("w").mkString(" ")), // 5 tokens, offsets [0,5)
      (2L, Seq.fill(4)("w").mkString(" ")), // [5,9) - spans the 8-boundary
      (3L, Seq.fill(2)("w").mkString(" ")) // [9,11)
    ).toDF("doc_id", "text")
    val rows = TrainPrep.packChunks(d, "doc_id", "text", 8L)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_offset", "chunk_id", "chunk_end_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows(0) == ((1L, 5L, 0L, 0L, 0L)))
    assert(rows(1) == ((2L, 4L, 5L, 0L, 1L))) // spans chunks 0 and 1
    assert(rows(2) == ((3L, 2L, 9L, 1L, 1L)))
  }

  test("packChunks clamps zero-token docs to their own chunk (never -1)") {
    val d = Seq(
      (1L, ""), // 0 tokens at offset 0: end id must clamp to chunk 0
      (2L, Seq.fill(8)("w").mkString(" ")), // fills chunk 0 exactly
      (3L, ""), // 0 tokens exactly ON the budget boundary (offset 8)
      (4L, "w")
    ).toDF("doc_id", "text")
    val rows = TrainPrep.packChunks(d, "doc_id", "text", 8L)
      .orderBy("doc_id").select("doc_id", "chunk_id", "chunk_end_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows(0) == ((1L, 0L, 0L)))
    assert(rows(2) == ((3L, 1L, 1L))) // not (1, 0)
    rows.foreach { case (_, cid, cend) => assert(cend >= cid) }
  }

  test("ngramShingles: sliding windows, short docs emit nothing") {
    val d = Seq((1L, "a b c d"), (2L, "a b"), (3L, ""), (4L, "x y z"))
      .toDF("doc_id", "text")
    val sh = TrainPrep.ngramShingles(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(sh.filter(_._1 == 1L).map(_._2).toSet === Set("a b c", "b c d"))
    assert(sh.forall(_._1 != 2L), "doc shorter than n emits no shingles")
    assert(sh.forall(_._1 != 3L), "empty doc emits no shingles")
    assert(sh.filter(_._1 == 4L).map(_._2).toSeq === Seq("x y z"))
  }

  test("contaminationPairs flags only docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // contains bench 1
      (101L, "completely unrelated text about spark plans"),
      (102L, "prefix words then the quick brown fox appears here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "the quick brown fox"),
      (2L, "no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = TrainPrep.contaminationPairs(
        train, "doc_id", "text", bench, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 1L), (102L, 1L)))
    // the benchmark side must broadcast: the training scan is one pass
    val plan = TrainPrep.contaminationPairs(
        train, "doc_id", "text", bench, "doc_id", "text", n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan.take(800))
  }

  // strata: 80 "en", 16 "de", 4 "zh" rows
  private def mixDocs = spark.range(100).toDF("id")
    .withColumn("lang",
      when(col("id") < 80, "en").when(col("id") < 96, "de").otherwise("zh"))

  test("bm25TopK matches a local Okapi model and ranks tf-heavy docs first") {
    val corpus = Seq(
      (1L, "cat cat cat dog"),
      (2L, "cat dog bird fish mouse horse goat sheep"),
      (3L, "bird fish"),
      (4L, "cat")
    ).toDF("doc_id", "text")
    val got = TrainPrep.bm25TopK(corpus, "doc_id", "text", Seq("cat", "bird"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // local model, same arithmetic
    val texts = Map(1L -> "cat cat cat dog", 2L -> "cat dog bird fish mouse horse goat sheep",
      3L -> "bird fish", 4L -> "cat")
    val n = texts.size.toDouble
    val avgdl = texts.values.map(_.split(" ").length).sum.toDouble / n
    def score(id: Long): Double = Seq("cat", "bird").map { t =>
      val toks = texts(id).split(" ")
      val tf = toks.count(_ == t).toDouble
      val df = texts.values.count(_.split(" ").contains(t)).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val dl = toks.length.toDouble
      idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    }.sum
    got.foreach { case (id, s) =>
      assert(math.abs(s - score(id)) < 1e-5, s"doc $id: got $s want ${score(id)}")
    }
    // idf dominance: the rare term ('bird', df=2) in a short doc outranks
    // the common term ('cat', df=3) even at tf=3 — doc 3 heads the ranking
    assert(got.head._1 == 3L)
    // results come back sorted by (score desc, id)
    assert(got.sortBy { case (id, s) => (-s, id) }.toSeq == got.toSeq)
  }

  test("bm25TopK: a term absent from the corpus contributes zero, not NaN") {
    val corpus = Seq((1L, "cat dog"), (2L, "dog")).toDF("doc_id", "text")
    val got = TrainPrep.bm25TopK(corpus, "doc_id", "text", Seq("unicorn", "cat"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) == 0.0)  // no query term present
    assert(got(1L) > 0.0)   // 'cat' scores; 'unicorn' adds 0 (tf=0 numerator)
  }

  test("epochOrder: reproducible, epoch-distinct permutations; shard is epoch-stable") {
    val d = (0L until 50L).map(i => Tuple1(i)).toDF("doc_id")
    def run(epoch: Int) = TrainPrep.epochOrder(d, "doc_id", epoch, nShards = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e1 = run(1); val e1b = run(1); val e2 = run(2)
    assert(e1 == e1b, "same epoch must reproduce byte-identically")
    assert(e1.map(kv => kv._1 -> kv._2._1) != e2.map(kv => kv._1 -> kv._2._1),
      "different epochs must permute differently")
    assert(e1.forall { case (id, (_, shard)) => shard == e2(id)._2 },
      "a doc's shard never moves between epochs")
    assert(e1.values.map(_._1).toSeq.sorted == (0L until 50L),
      "ranks are a contiguous 0..n-1 permutation")
  }

  test("budgetSelect keeps each group's best-quality prefix within the token budget") {
    val d = Seq(
      // group a: qualities 0.9, 0.8, 0.7 with 40, 50, 30 tokens; budget 90
      // keeps 0.9 (40) + 0.8 (cum 90), stops at 0.7 (would be 120)
      (1L, "a", 40L, 0.9), (2L, "a", 50L, 0.8), (3L, "a", 30L, 0.7),
      // group b independent: one doc over budget on its own drops everything
      (4L, "b", 100L, 0.99), (5L, "b", 10L, 0.5)
    ).toDF("doc_id", "src", "n_tok", "quality")
    val got = TrainPrep.budgetSelect(d, "src", "doc_id", "n_tok", "quality", 90L)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 40L, 2L -> 90L),
      "prefix-stop: group b's 100-token head overflows and ends the group immediately")
  }

  test("budgetSelect ties on quality break by id — the cut is deterministic") {
    val d = Seq((1L, "a", 60L, 0.5), (2L, "a", 60L, 0.5), (3L, "a", 60L, 0.5))
      .toDF("doc_id", "src", "n_tok", "quality")
    val got = TrainPrep.budgetSelect(d, "src", "doc_id", "n_tok", "quality", 120L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("perplexityBuckets: exact-rank split sizes and gibberish lands in the tail") {
    // 18 similar docs + 2 gibberish outliers (trigrams unlike the corpus)
    val docs = ((1L to 18L).map(i => (i, s"the cat sat on the mat number $i")) ++
      Seq((19L, "zzqx qxzz xqzq zqxq"), (20L, "wvvw vwwv wvwv vvww")))
      .toDF("doc_id", "text")
    val got = TrainPrep.perplexityBuckets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes("head") == 6, s"head = ceil(0.3*20): $sizes")   // exactly k docs
    assert(sizes("middle") == 6, s"middle = ceil(0.6*20) - 6: $sizes")
    assert(sizes("tail") == 8, sizes.toString)
    assert(got(19L) == "tail" && got(20L) == "tail", "gibberish must score worst")
  }

  test("sentenceChunks: cuts only at sentence boundaries, covers every sentence, bounds overrun") {
    val docs = Seq(
      // sentences of 3/2/4/1 tokens; maxTokens=4 → chunks by prefix sum
      // (before: 0,3,5,9) // 4 → chunk 0: s0+s1 (5 tokens), 1: s2, 2: s3
      (1L, "One two three. Four five! Six seven eight nine? Ten."),
      // a single long sentence over budget stays WHOLE as its own chunk
      (2L, "never split this very long sentence apart"),
      (3L, null.asInstanceOf[String]))
    val out = graft.trainprep.TrainPrep.sentenceChunks(
        docs.toDF("doc_id", "text"), "doc_id", "text", maxTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out((1L, 0L)) === (("One two three. Four five!", 5L, 2L)),
      "chunk may overrun maxTokens by less than one sentence")
    assert(out((1L, 1L)) === (("Six seven eight nine?", 4L, 1L)))
    assert(out((1L, 2L)) === (("Ten.", 1L, 1L)))
    assert(out((2L, 0L)) === (("never split this very long sentence apart", 7L, 1L)))
    assert(!out.keySet.exists(_._1 == 3L), "NULL text emits no chunks")
    // every token of every non-null doc is covered exactly once
    assert(out.filter(_._1._1 == 1L).values.map(_._2).sum == 10L)
  }

  test("topNgramMetrics: deterministic winner, char fraction, short-doc zeros") {
    val docs = Seq(
      // "a b" occurs twice (count 2, 3 chars each over 11 chars → 6/11)
      (1L, "a b c a b x"),
      // count tie between "x y" and "p q": lexicographically smaller wins
      (2L, "p q x y"),
      (3L, "single"), // too short for a bigram
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.trainprep.TrainPrep.topNgramMetrics(docs, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === (("a b", 2L, math.rint(6.0 / 11 * 1e6) / 1e6)))
    assert(got(2L) === (("p q", 1L, math.rint(3.0 / 7 * 1e6) / 1e6)))
    assert(got(3L) === (("", 0L, 0.0)))
    assert(got(4L) === (("", 0L, 0.0)))
  }

  test("corpusReport: exact per-slice dup rate, token/char sums, NULL-text convention") {
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "one two three"), // dup pair
      (3L, "a", "four"),
      (4L, "b", "x y"), (5L, "b", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val got = graft.trainprep.TrainPrep.corpusReport(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getDouble(6)))).toMap
    // a: 3 docs, 2 distinct → dup_rate 1/3; tokens 3+3+1=7; chars 13+13+4=30
    assert(got("a") === ((3L, 2L, math.rint(1.0 / 3 * 1e6) / 1e6, 7L, 30L, 2.33)))
    // b: NULL text is its own distinct with 0 tokens/chars
    assert(got("b") === ((2L, 2L, 0.0, 2L, 3L, 1.0)))
  }

  test("leakageSafeSplit: near-dup cluster members always land on the same side") {
    val passage = (1 to 30).map(i => s"tok$i").mkString(" ")
    // three planted clusters (verbatim + one-token-edit members) + unique docs
    val docs = (
      Seq((1L, passage), (2L, passage), (3L, passage + " extra"),
        (10L, passage.replace("tok5", "EDIT")), // still >= 0.6 jaccard vs 1
        (20L, "a completely different document about nothing shared"),
        (21L, "another unrelated text with its own words entirely")) ++
      (100L to 140L).map(i =>
        (i, s"unique doc $i " + (1 to 20).map(j => s"w${i}_$j").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = graft.trainprep.TrainPrep.leakageSafeSplit(
        docs, "doc_id", "text", testThreshold = "80",
        numHashes = 4, rowsPerBand = 2, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // the planted cluster shares one keeper and therefore ONE split
    val cluster = Seq(1L, 2L, 3L, 10L).map(out)
    assert(cluster.map(_._1).distinct.size == 1, s"one component: $cluster")
    assert(cluster.map(_._2).distinct.size == 1, s"one split side: $cluster")
    // split is the keeper-hash rule exactly, for every doc
    out.foreach { case (id, (keeper, split)) =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(keeper.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
      assert(split == (if (hex < "80") "test" else "train"), s"doc $id")
    }
    // with threshold 0x80 (~50%) and 40+ singleton clusters, both sides occur
    assert(out.values.map(_._2).toSet === Set("train", "test"))
  }

  test("perplexityBuckets releases its doc-sized score cache after the first use", Alone) {
    val docs = (1L to 30L).map(i => (i, s"some plain text body $i"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = TrainPrep.perplexityBuckets(docs, "doc_id", "text")
    assert(out.count() == 30L) // the first caller action reads the cache...
    // ...then the one-shot listener releases the DOC-SIZED score frame
    // (asynchronously — poll). What may remain is charTrigramNll's
    // charset³-BOUNDED count-frame cache (documented tfIdf-style
    // contract). Pre-fix this left BOTH frames cached (growth 2).
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 10000000000L
    while (leaked.size > 1 && System.nanoTime() < deadline) Thread.sleep(50)
    assertIsolated(leaked.size <= 1,
      s"perplexityBuckets leaked beyond the bounded count cache: $leaked")
    spark.catalog.clearCache()
  }

  test("temperatureMix up-samples low-resource strata and clamps tiny ones") {
    val kept = TrainPrep.temperatureMix(mixDocs, "id", "lang",
        alpha = 0.5, targetTotal = 30.0)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // zh: rate = 30 * (2/14.944) / 4 = 1.0035 -> clamped to keep-all
    // (threshold "g", NOT lpad-truncated "1000" which would keep ~6%)
    assert(kept("zh") === 4L)
    // alpha=0.5 flattens: de's keep fraction must exceed en's
    assert(kept("de").toDouble / 16 > kept("en").toDouble / 80)
    // deterministic: an identical run keeps identical rows
    val ids1 = TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.5, 30.0)
      .select("id").collect().map(_.getLong(0)).toSet
    val ids2 = TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.5, 30.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 === ids2 && ids1.nonEmpty)
  }

  test("temperatureMix counts overload matches the self-counting one") {
    val counts = mixDocs.groupBy(col("lang")).agg(count(lit(1)).as("__cnt"))
    val a = TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.5, 30.0)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.5, 30.0, counts)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    intercept[IllegalArgumentException] {
      TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.0, 30.0)
    }
    intercept[IllegalArgumentException] {
      TrainPrep.temperatureMix(mixDocs, "id", "lang", 0.5, -1.0)
    }
  }

  test("frequentNgrams ranks by count with deterministic tie-break") {
    val d = Seq(
      (1L, "a b c d"),   // "a b c", "b c d"
      (2L, "a b c"),     // "a b c"
      (3L, "b c d")      // "b c d"
    ).toDF("doc_id", "text")
    val top = TrainPrep.frequentNgrams(d, "doc_id", "text", n = 3, k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // both 3-grams occur twice; "a b c" < "b c d" wins the tie
    assert(top.toSeq === Seq(("a b c", 2L)))
    intercept[IllegalArgumentException] {
      TrainPrep.frequentNgrams(d, "doc_id", "text", 3, 0)
    }
  }

  test("charTrigramNll matches a local add-one-smoothed trigram model") {
    val d = Seq((1L, "abcd"), (2L, "abce"), (3L, "ab")).toDF("doc_id", "text")
    // corpus trigrams: abc(x2), bcd, bce; V=3; prefix counts ab:2, bc:2
    val out = TrainPrep.charTrigramNll(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def lp(c3: Long, c2: Long) = math.log((c3 + 1.0) / (c2 + 3.0))
    val exp1 = -(lp(2, 2) + lp(1, 2)) / 2 // abc, bcd
    assert(out(1L)._1 === 2L)
    // mirror Spark round(): BigDecimal HALF_UP, not rint's half-even
    val expRounded = BigDecimal(exp1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(1L)._2 - expRounded) < 1e-9)
    // docs shorter than 3 chars emit no trigrams and are absent, not NaN
    assert(!out.contains(3L))
  }

  test("assignGlobalIds yields the contiguous global rank without a global sort") {
    val d = spark.range(1000).toDF("k")
      .withColumn("k", col("k") * 7 % 1000) // permuted order column
      .repartition(8)
    val got = TrainPrep.assignGlobalIds(d, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 1000)
    // gid must equal the rank of k in sorted order == k itself here
    assert(got.forall { case (k, gid) => gid == k })
    // the data-sized pass hash-clusters on the DETERMINISTIC ordered
    // bucket id with a per-bucket window; the only single-partition stage
    // is the nPartitions-row offset scan
    val plan = TrainPrep.assignGlobalIds(d, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__pid"), plan.take(800))
    assert(plan.contains("windowspecdefinition(__pid"), plan.take(800))
  }

  test("corpusDelta: four statuses; identical content under a new id is add+remove") {
    import spark.implicits._
    val v1 = Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma", 4L -> "delta")
      .toDF("doc_id", "text")
    val v2 = Seq(1L -> "alpha",        // unchanged
        2L -> "beta v2",               // changed
        5L -> "epsilon",               // added
        6L -> "delta")                 // 4's content under a new id
      .toDF("doc_id", "text")          // 3 and 4 removed
    val got = TrainPrep.corpusDelta(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "removed", 5L -> "added", 6L -> "added"),
      s"rename of identical content must be add+remove, got $got")
  }

  test("slidingChunks covers every token with the stated overlap, never crossing docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c")                                   // shorter than one chunk
    ).toDF("doc_id", "text")
    val got = TrainPrep.slidingChunks(docs, "doc_id", "text",
        chunkTokens = 4, strideTokens = 3)
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, "t1 t2 t3 t4", 4L),   // starts 0,3,6,9 — 1-token overlap
      (1L, 1, "t4 t5 t6 t7", 4L),
      (1L, 2, "t7 t8 t9 t10", 4L),
      (1L, 3, "t10", 1L),           // short tail, still covered
      (2L, 0, "a b c", 3L)))        // short doc = one chunk, no padding
  }

  test("dsirSelect ranks target-like docs above off-domain docs") {
    import spark.implicits._
    // two clearly separated character distributions: latin-ish vs digit-ish
    val raw = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "0123 4567 8901 2345 6789 0123 4567 8901"),
      (4L, "9876 5432 1098 7654 3210 9876 5432 1098"),
      (5L, "sphinx of black quartz judge my vow")
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "the wizard quickly jinxed the gnomes before they vaporized"),
      (101L, "bright vixens jump while my dozy fowl quack")
    ).toDF("doc_id", "text")
    val got = TrainPrep.dsirSelect(raw, target, "doc_id", "text", k = 5)
      .select("doc_id", "dsir_score").as[(Long, Double)].collect()
    // descending by score, ties by id — and every prose doc outranks every
    // digit doc under the target's character distribution
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val rank = got.map(_._1).toSeq
    assert(rank.indexOf(3L) > rank.indexOf(1L) && rank.indexOf(4L) > rank.indexOf(5L),
      s"digit docs must rank below prose docs for a prose target, got $rank")
    // k truncates deterministically
    val top2 = TrainPrep.dsirSelect(raw, target, "doc_id", "text", k = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(top2 == rank.take(2))
  }

  test("splitAssign: disjoint exhaustive bands, stable under corpus growth") {
    val ids = (0L until 2000L).toDF("id")
    val bands = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = ids.select(col("id"),
        TrainPrep.splitAssign(col("id"), bands).as("band"))
      .as[(Long, String)].collect().toMap
    assert(got.size === 2000 && got.values.forall(Set("train", "val", "test")))
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.8) < 0.05, frac.toString)
    assert(math.abs(frac("val") - 0.1) < 0.03 && math.abs(frac("test") - 0.1) < 0.03)
    // growth stability: the first 500 ids keep their bands inside a
    // larger corpus (hash bands, not positional percentages)
    val small = (0L until 500L).toDF("id").select(col("id"),
        TrainPrep.splitAssign(col("id"), bands).as("band"))
      .as[(Long, String)].collect().toMap
    assert(small.forall { case (id, b) => got(id) == b })
    // unnormalized weights mean the same thing
    val w2 = ids.select(col("id"),
        TrainPrep.splitAssign(col("id"), Seq("train" -> 8.0, "val" -> 1.0,
          "test" -> 1.0)).as("band"))
      .as[(Long, String)].collect().toMap
    assert(w2 === got)
    intercept[IllegalArgumentException] {
      TrainPrep.splitAssign(col("id"), Seq("a" -> 0.5, "b" -> -0.1))
    }
  }

  test("weightedSample: deterministic A-ES top-k, nonpositive weights excluded") {
    val rows = (0L until 400L).map(i => (i, (i % 7) * 10L)) // w=0 every 7th
    val df = rows.toDF("id", "w")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def key(id: Long, w: Long): (java.math.BigDecimal, String) = {
      val h = md5hex(id.toString)
      val u = (java.lang.Long.parseLong(h.take(12), 16) + 1.0) / math.pow(16.0, 12)
      (new java.math.BigDecimal(math.log(u) / w.toDouble)
        .setScale(9, java.math.RoundingMode.HALF_UP), h)
    }
    val want = rows.filter(_._2 > 0)
      .sortBy { case (id, w) => val (k, h) = key(id, w); (-k.doubleValue, h) }
      .take(25).map(_._1).toSet
    val got = TrainPrep.weightedSample(df, "id", "w", 25)
      .select("id").as[Long].collect().toSet
    assert(got === want)
    assert(!got.exists(_ % 7 == 0), "zero-weight rows must never be drawn")
    // identical on re-run (no RNG), and a superset-k run nests the draw
    val got2 = TrainPrep.weightedSample(df, "id", "w", 25)
      .select("id").as[Long].collect().toSet
    assert(got2 === got)
  }

  test("vocabCoverage: per-slice unk rates under a closed vocabulary") {
    import spark.implicits._
    val tiny = graft.expressions.BpeMerges(IndexedSeq(
      ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")))
    val df = Seq(
      ("clean", "the and the"),  // all tokens in vocab → unk 0
      ("clean", "than"),          // th + an, both vocab symbols
      ("mixed", "the zoo"),       // z/o/o are outside the table → 3 unks
      ("empty", "   ")            // zero tokens — rate guard, not NaN
    ).toDF("source", "text")
    val out = TrainPrep.vocabCoverage(df, "source", "text", tiny)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("clean") == ((2L, 5L, 0L, 0.0))) // the,and,the + th,an
    // "the zoo": the=1 token + z,o,o=3 unk tokens
    assert(out("mixed") == ((1L, 4L, 3L, 0.75)))
    assert(out("empty") == ((1L, 0L, 0L, 0.0)))
  }

  test("upsampleByWeight: exact full copies, quantized fractional share, loud guard") {
    import spark.implicits._
    val df = (1L to 2000L).map { i =>
      (i, i % 5 match {
        case 0 => 0.0; case 1 => 2.0; case 2 => 0.25; case 3 => 1.6
        case _ => -1.0
      })
    }.toDF("id", "w")
    val out = TrainPrep.upsampleByWeight(df, "id", "w")
    val byId = out.groupBy("id", "w").agg(count(lit(1)).as("n"),
        max("copy_idx").as("maxc"), min("copy_idx").as("minc"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    // zero / negative weights emit nothing
    assert(byId.keys.forall(i => i % 5 == 1 || i % 5 == 2 || i % 5 == 3))
    // integer weight: exactly w copies for EVERY row
    assert((1L to 2000L).filter(_ % 5 == 1)
      .forall(i => byId(i) == ((2.0, 2L))))
    // fractional-only weight: 0 or 1 copies, share ≈ 0.25 of the 400 rows
    val fracKept = byId.count { case (i, (w, n)) => i % 5 == 2 && n == 1L }
    assert((1L to 2000L).filter(_ % 5 == 2)
      .forall(i => byId.get(i).forall(_._2 == 1L)))
    assert(fracKept > 60 && fracKept < 140, s"0.25-share drifted: $fracKept/400")
    // mixed weight 1.6: one guaranteed copy, second for ≈ 0.6 of rows
    val w16 = (1L to 2000L).filter(_ % 5 == 3)
    assert(w16.forall(i => byId(i)._2 >= 1L && byId(i)._2 <= 2L))
    val second = w16.count(i => byId(i)._2 == 2L)
    assert(second > 190 && second < 290, s"0.6-share drifted: $second/400")
    // deterministic: a second run emits the identical multiset
    val again = TrainPrep.upsampleByWeight(df, "id", "w")
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === byId.map { case (k, (_, n)) => k -> n })
    // no shuffle: generate + filter is map-side
    val exchanges = out.queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0, "upsampling must not shuffle")
    // fat-finger guard: weight 23 where 2.3 was meant raises loudly
    val boom = intercept[Exception] {
      TrainPrep.upsampleByWeight(Seq((1L, 2300.0)).toDF("id", "w"), "id", "w")
        .count()
    }
    assert(boom.getMessage != null)
  }

  test("hardNegatives: relevant docs excluded, top wrong answers ranked") {
    val runs = Seq(
      (1L, "rel1", 0.9), (1L, "hard1", 0.8), (1L, "rel2", 0.7),
      (1L, "hard2", 0.6), (1L, "easy", 0.1),
      (2L, "only_rel", 0.5)) // query 2: everything relevant -> no rows
      .toDF("q", "d", "s")
    val qrels = Seq((1L, "rel1", 1), (1L, "rel2", 2), (2L, "only_rel", 1),
      (1L, "hard1", 0)) // grade 0 is NOT relevant -> stays minable
      .toDF("q", "d", "g")
    val got = TrainPrep.hardNegatives(runs, qrels, "q", "d", "s", "g", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    assert(got.toSet === Set((1L, "hard1", 1), (1L, "hard2", 2)),
      "top NON-relevant by score, k-truncated, all-relevant query empty")
  }

  test("bradleyTerryStrengths: 2-item MLE fixed point and win ordering") {
    // A beats B 3:1 -> stationary strengths ratio 3:1 from iteration 1
    val ab = (Seq.fill(3)(("A", "B")) ++ Seq.fill(1)(("B", "A")))
      .toDF("w", "l")
    val got = TrainPrep.bradleyTerryStrengths(ab, "w", "l", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("A" -> 1.5, "B" -> 0.5),
      "wins/(n/(wA+wB)) is stationary at the 3:1 MLE")
    // transitive tournament: strengths must order with dominance, and a
    // never-winning item hits the MLE boundary at 0
    val abc = (Seq.fill(4)(("A", "B")) ++ Seq.fill(4)(("B", "C"))
      ++ Seq.fill(1)(("A", "C"))).toDF("w", "l")
    val s = TrainPrep.bradleyTerryStrengths(abc, "w", "l", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("A") > s("B") && s("B") > s("C"), s.toString)
    assert(s("C") === 0.0, "an item with zero wins sits at the boundary")
  }

  test("packNoSplit: greedy first-fit bins, atomic oversize, group fences") {
    // token counts by construction: doc i has i+1 single-char words
    def doc(i: Int) = (i.toLong, Seq.fill(i + 1)("w").mkString(" "))
    // lens 1..6 at context 6: [1,2,3] fills bin 0 exactly, 4 opens bin 1,
    // 5 overflows -> bin 2, 6 (== context) -> bin 3
    val df = (0 to 5).map(doc).toDF("doc_id", "text")
    val got = TrainPrep.packNoSplit(df, "doc_id", "text",
        contextTokens = 6L, groupSize = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(0L -> ((0L, 0L)), 1L -> ((0L, 0L)), 2L -> ((0L, 0L)),
      3L -> ((0L, 1L)), 4L -> ((0L, 2L)), 5L -> ((0L, 3L))), got.toString)

    // an OVERSIZE doc (len 9 > context 6) gets a bin alone — never split,
    // never merged — and the report flags it with pad 0
    val over = Seq(doc(1), doc(8), doc(2)).toDF("doc_id", "text")
    val packed = TrainPrep.packNoSplit(over, "doc_id", "text", 6L, 100)
    val rep = TrainPrep.packNoSplitReport(packed, 6L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
      .sortBy(_._1)
    // greedy order is doc_id: lens 2+3 share bin 0 (pad 1), len 9 alone
    // in bin 1 — oversize flagged, pad clamped to 0
    assert(rep === Seq((0L, 2L, 5L, 1L, false), (1L, 1L, 9L, 0L, true)),
      rep.toString)

    // GROUP FENCE: with groupSize 2, docs 2 and 3 (lens 1,1) would share a
    // bin under one group but land in different groups → different bins;
    // and the assignment is identical however the input is partitioned
    val four = (0 to 3).map(i => (i.toLong, "w")).toDF("doc_id", "text")
    val fenced = TrainPrep.packNoSplit(four, "doc_id", "text", 10L, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(fenced === Map(0L -> ((0L, 0L)), 1L -> ((0L, 0L)),
      2L -> ((1L, 0L)), 3L -> ((1L, 0L))), fenced.toString)
    val repart = TrainPrep.packNoSplit(four.repartition(7), "doc_id", "text",
        10L, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(repart === fenced, "packing must not depend on input partitioning")
  }

  test("packNoSplit lengthDesc: FFD order, less padding, layout-independent") {
    def doc(i: Int, len: Int) = (i.toLong, Seq.fill(len)("w").mkString(" "))
    // lens (5,1,4,2,3) at context 6: id-order first-fit → [5,1],[4,2],[3]
    // = 3 bins (pad 6); FFD folds (5,4,3,2,1) → [5,1],[4,2],[3] same
    // here, so use a sharper case: lens (4,4,3,3,2,2) at context 6:
    // id-order → [4],[4],[3,3],[2,2] = 4 bins pad 2+2+0+2=6; FFD order
    // (4,4,3,3,2,2) is the same sequence — descending already. Flip:
    // lens (2,2,3,3,4,4): id-order → [2,2],[3,3],[4],[4] pad 6; FFD
    // (4,4,3,3,2,2) → [4,2],[4,2],[3,3] = 3 bins pad 0 — strictly less
    val df = Seq(doc(0, 2), doc(1, 2), doc(2, 3), doc(3, 3),
      doc(4, 4), doc(5, 4)).toDF("doc_id", "text")
    val ctx = 6L
    def padOf(orderBy: String): (Long, Long) = {
      val rep = TrainPrep.packNoSplitReport(
        TrainPrep.packNoSplit(df, "doc_id", "text", ctx, 100,
          orderBy = orderBy), ctx).collect()
      (rep.length.toLong, rep.map(_.getLong(4)).sum)
    }
    val (idBins, idPad) = padOf("id")
    val (ffdBins, ffdPad) = padOf("lengthDesc")
    assert((idBins, idPad) === ((4L, 6L)), s"id-order: $idBins bins, $idPad pad")
    assert((ffdBins, ffdPad) === ((3L, 0L)),
      s"FFD must backfill: $ffdBins bins, $ffdPad pad")
    // FFD assignment in detail: 4s seed bins 0/1, 3s share bin 2, 2s
    // backfill bins 0/1 — and the fold ignores input partitioning
    val ffd = TrainPrep.packNoSplit(df.repartition(5), "doc_id", "text",
        ctx, 100, orderBy = "lengthDesc")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ffd === Map(4L -> 0L, 5L -> 1L, 2L -> 2L, 3L -> 2L,
      0L -> 0L, 1L -> 1L), ffd.toString)
    // unknown order refused loudly
    val e = intercept[IllegalArgumentException] {
      TrainPrep.packNoSplit(df, "doc_id", "text", ctx, 100, orderBy = "random")
    }
    assert(e.getMessage.contains("orderBy"), e.getMessage)

    // the fused packNoSplitIds convenience must stay EQUAL to the
    // offsets + rollup composition SftExport actually ships through
    // (second-review finding: with no caller, the delegation could
    // silently drift) — pinned on the FFD order, where layout order is
    // the nontrivial part
    val m = graft.expressions.BpeMerges(graft.PipelineQueries.oracleBpePairs)
    val fused = TrainPrep.packNoSplitIds(df, "doc_id", "text", m, 8,
        orderBy = "lengthDesc").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val composed = TrainPrep.packNoSplitRollup(
        TrainPrep.packNoSplitOffsets(df, "doc_id", "text", m, 8,
          orderBy = "lengthDesc")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(fused === composed && fused.nonEmpty)
  }

  test("needleHaystack: splice positions, uniqueness, empty-doc edge") {
    import spark.implicits._
    val docs = Seq((7L, "alpha beta gamma delta"), (9L, "")).toDF("doc_id", "text")
    val got = TrainPrep.needleHaystack(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(4), r.getString(5), r.getString(6)))).toMap
    // depth 0: needle is the very first element
    val (p0, n0, h0) = got((7L, 0L))
    assert(p0 === 0L && n0 === "the secret code is k217"
      && h0 === s"$n0 alpha beta gamma delta")
    // depth 1.0: needle after every word
    val (p4, n4, h4) = got((7L, 4L))
    assert(p4 === 4L && h4 === s"alpha beta gamma delta $n4")
    // depth 0.5 of 4 words → after word 2
    val (p2, n2, h2) = got((7L, 2L))
    assert(p2 === 2L && h2 === s"alpha beta $n2 gamma delta")
    // the needle occurs EXACTLY once (digit suffix can't collide with
    // corpus words), at the promised word offset
    got.foreach { case ((_, _), (p, needle, hay)) =>
      val words = hay.split(" ")
      assert(hay.indexOf(needle) >= 0 && hay.indexOf(needle) ==
        hay.lastIndexOf(needle), s"needle not unique in '$hay'")
      assert(words(p.toInt) === "the" &&
        words.slice(p.toInt, p.toInt + 5).mkString(" ") === needle,
        s"needle not at word $p of '$hay'")
    }
    // empty doc: haystack IS the needle, planted at word 0 for every depth
    (0L to 4L).foreach { di =>
      val (p, n, h) = got((9L, di))
      assert(p === 0L && h === n, s"empty doc must yield the bare needle: $h")
    }
    // NULL text behaves as empty, never nulls the splice chain
    val nul = TrainPrep.needleHaystack(
        Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()
    assert(nul.length === 5 && nul.forall(r =>
      !r.isNullAt(6) && r.getString(6) == r.getString(5)))
  }

  test("strideInterleave: low-discrepancy prefixes, layout independence, guard") {
    // sources a (w=3) and b (w=1): every prefix of the merged order must
    // hold counts within ONE stride of the 3:1 mix — the stride property
    val docs = ((0 until 90).map(i => (i.toLong, "a", 3.0)) ++
      (100 until 130).map(i => (i.toLong, "b", 1.0)))
      .toDF("doc_id", "source", "w")
    val order = TrainPrep.strideInterleave(docs, "doc_id", "source", "w")
      .orderBy("mix_rank").collect()
      .map(r => (r.getString(1), r.getLong(3)))
    assert(order.map(_._2).toSeq == (0L until 120L), "mix_rank must be 0..n-1")
    var na = 0; var nb = 0
    order.foreach { case (s, _) =>
      if (s == "a") na += 1 else nb += 1
      // ideal mix is 3:1 — deviation from it stays within one item of
      // each source at every prefix (stride scheduling's guarantee)
      val k = na + nb
      assert(math.abs(na - 0.75 * k) <= 1.0 && math.abs(nb - 0.25 * k) <= 1.0,
        s"prefix $k drifted from the 3:1 mix: a=$na b=$nb")
    }
    // pure function of (data, weights): any input layout, same schedule
    val shuffled = TrainPrep.strideInterleave(
        docs.repartition(13), "doc_id", "source", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val base = TrainPrep.strideInterleave(docs, "doc_id", "source", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(shuffled === base)
    // a NEGATIVE weight divides fine and would silently reorder — the
    // folded assert must fail the job instead (w = 0 already fails loud
    // under ANSI divide-by-zero before the guard is reached)
    val bad = Seq((1L, "a", -1.0)).toDF("doc_id", "source", "w")
    val e = intercept[Exception] {
      TrainPrep.strideInterleave(bad, "doc_id", "source", "w").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: msgs(x.getCause))
    assert(msgs(e).exists(_.contains("must be positive")), e.toString)
  }
}
