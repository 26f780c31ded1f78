package graft

import java.nio.file.{Files, Paths}

import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ann.Similarity
import graft.dedup.Dedup
import graft.functions.VectorFunctions.splitmix64
import graft.io.{EmbeddingLake, FeedMaintain, IntegrityManifest, LakeMerge, LakeTimeTravel}
import graft.obs.SparkWork.measure
import graft.trainprep.TrainPrep

/** The scale runner: named sections, each of which `require`s its scale
  * property (a shuffle, row or partition bound, the equality of two paths,
  * a recall floor) at production size instead of only printing a number.
  *
  * `runMain graft.Scale [mult] [name,…]` runs the named sections (all of
  * them when none is named) in registry order; `mult` scales every size.
  * Each section runs once inside [[graft.obs.SparkWork.measure]] and prints
  * one JSON line: its own values, then the run's `mult` and `cpus` and the
  * Work's `seconds`, `jobs`, `shuffle_write_bytes` and
  * `peak_stage_shuffle_bytes`. The same fields plus the Work report go to
  * `plans/scale/<name>.json`, the committed evidence. A failing section
  * prints `failed` and the rest still run; the run then fails.
  *
  * Shared inputs are lazy values of [[Scale.Ctx]], built by the first
  * section that needs them, so any section can run alone. The sections
  * that mutate the shared lakes (`lake_*`, `embedding_lake_*`) hold their
  * requires both alone and after their registry predecessors.
  */
object Scale {

  final case class Section(name: String, body: Ctx => Seq[(String, Any)])

  /** Run-wide inputs. `tmp` holds every file a section writes and is
    * deleted when the run ends. */
  final class Ctx(val spark: SparkSession, val mult: Int, sfDir: String,
      tmp: String) {
    def dir(name: String): String = Files.createDirectories(Paths.get(tmp, name)).toString

    /** The sf0.1 documents (`doc_id`, `text`). */
    lazy val baseDocs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    lazy val nBase: Long = baseDocs.count()
    /** `baseDocs` replicated `n` times under disjoint ids: every text is an
      * `n`-clique of exact duplicates. */
    def replicated(n: Long): DataFrame = spark.range(n).crossJoin(baseDocs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"), col("text"))
    val dupFactor: Int = 20 * mult
    lazy val bigDocs: DataFrame = replicated(dupFactor)
    lazy val nDocs: Long = nBase * dupFactor

    /** 100 k clustered embeddings (1 000 tight clusters × 100 members,
      * dim 64) on disk, and persisted. */
    lazy val clusteredDir: String = {
      val path = dir("clustered") + "/emb"
      val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType), nullable = true)))
      spark.range(NEmb * mult).select(col("id").as("vec_id")).mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val cluster = id / 100
          val v = Array.tabulate(AnnDim) { d =>
            (splitmix64(cluster * 1009L + d).toDouble / Long.MaxValue +
              0.02 * (splitmix64(id * 7919L + d).toDouble / Long.MaxValue)).toFloat
          }
          Row(id, v.toSeq)
        }
      }(org.apache.spark.sql.Encoders.row(schema)).write.mode("overwrite").parquet(path)
      path
    }
    lazy val clustered: DataFrame = {
      val df = spark.read.parquet(clusteredDir).persist()
      df.count()
      df
    }

    /** The fleet-sized forecast lake: 120 date partitions × 500 stations
      * × 96 steps/day (5.76 M rows), and the daily re-extraction of one
      * day (every station, in-place values). */
    lazy val lakeDir: String = {
      val path = dir("lake") + "/lake"
      // id decomposes as (day, station, step) — div/mod, NOT two mods
      // (id%500 with id%96 would repeat every lcm and duplicate keys)
      LakeMerge.writeLake(LakeMerge.withPartDate(
        spark.range(LakeDays.toLong * LakeStations * StepsPerDay).select(
          concat(lit("wl_"), pmod(floor(col("id") / StepsPerDay), lit(LakeStations))
            .cast("long").cast("string")).as("tms_id"),
          lit("2024-01-01 00:00:00").as("fgt"),
          date_format(timestamp_micros(lit(StartUs)
            + floor(col("id") / (LakeStations * StepsPerDay)).cast("long") * 86400000000L
            + pmod(col("id"), lit(StepsPerDay)).cast("long") * 900000000L),
            "yyyy-MM-dd HH:mm:ss").as("time"),
          rand(7).as("value"))), path)
      path
    }
    def pointDay(value: Double): DataFrame = LakeMerge.withPartDate(
      spark.range(LakeStations.toLong * StepsPerDay).select(
        concat(lit("wl_"), floor(col("id") / StepsPerDay).cast("long").cast("string"))
          .as("tms_id"),
        lit("2024-01-01 00:00:00").as("fgt"),
        date_format(timestamp_micros(lit(graft.model.SlTime.microsOf(PointDay + " 00:00:00"))
          + pmod(col("id"), lit(StepsPerDay)).cast("long") * 900000000L),
          "yyyy-MM-dd HH:mm:ss").as("time"),
        lit(value).as("value")))

    /** 100 k unique 60-word docs plus 10 k excerpts (the first 20 words of
      * a parent), and the excerpt count. */
    lazy val containment: (DataFrame, Long) = {
      val n = 100000L * mult
      def words(k: Int) = array_join(transform(sequence(lit(1), lit(k)),
        i => pmod(xxhash64(col("id") * 997L + i), lit(50000)).cast("string")), " ")
      (spark.range(n).select(col("id").as("doc_id"), words(60).as("text"))
        .unionByName(spark.range(n / 10)
          .select((col("id") + 10000000L).as("doc_id"), words(20).as("text"))), n / 10)
    }

    /** A 200 k-vector IVF embedding lake, its frozen codebook, and the
      * drift baseline taken before any append. */
    lazy val embLake: (String, Array[Seq[Float]], DataFrame) = {
      val path = dir("emb_lake") + "/emb"
      val codebook = EmbeddingLake.writePartitioned(
        synthVecs(0, NEmbLake, 0.0), "vec_id", "embedding", path,
        nCentroids = 16, kmeansIters = 1)
      // eager (cell-count-sized): a lazy baseline would re-read the lake
      // after the appends and compare it with itself
      (path, codebook, EmbeddingLake.driftReport(spark, path, "embedding", codebook)
        .localCheckpoint(true))
    }
    /** Deterministic per-id 32-dim vectors in [-1, 1) + `shift`. */
    def synthVecs(lo: Long, n: Long, shift: Double): DataFrame = {
      val hv = (k: Int) => (pmod(xxhash64(col("id") * 97 + k), lit(2000000))
        .cast("double") / 1000000.0 - 1.0 + shift).cast("float")
      spark.range(lo, lo + n).select(col("id").as("vec_id"),
        array((0 until 32).map(hv): _*).as("embedding"))
    }

    /** The synthetic-unique 1 M-doc corpus. Replication suits keeper
      * pipelines but not containment, where a 200-clone group would make
      * every posting a clique. Doc i is 40 pseudo-random tokens over a
      * 50 k-word vocabulary, and every 4th doc (i % 4 == 1) is the
      * 30-token prefix of its predecessor: containment 1.0, Jaccard 0.75,
      * and short enough that no 4-gram trips the repetition gate. So the
      * survivors of containment are known by construction: all docs but
      * the planted prefixes. */
    lazy val docs1m: DataFrame = {
      val df = spark.range(nDeep)
        .select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(4)) === 1, col("id") - 1).otherwise(col("id")).as("seed"),
          when(pmod(col("id"), lit(4)) === 1, lit(SubTokens)).otherwise(lit(SupTokens))
            .as("len"))
        .select(col("doc_id"), concat_ws(" ",
          transform(sequence(lit(1), col("len")),
            j => concat(lit("w"), pmod(hash(col("seed"), j), lit(50000))
              .cast("string")))).as("text"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    lazy val nDeep: Long = NDeep * mult
    lazy val plantedSubs: Long = (1L until nDeep).count(_ % 4 == 1)
    /** 3-token shingle occurrences of `docs1m`: the posting entries. */
    lazy val shingles: Long = (nDeep / 4) * 3 * (SupTokens - 2) + (nDeep / 4) * (SubTokens - 2)
  }

  private val StartUs = graft.model.SlTime.microsOf("2024-01-01 00:00:00")
  private val NEmb = 100000L
  private val AnnDim = 64
  private val LakeDays = 120
  private val LakeStations = 500
  private val StepsPerDay = 96
  private val PointDay = "2024-02-29"
  private val NEmbLake = 200000L
  private val NDeep = 1000000L
  private val SupTokens = 40
  private val SubTokens = 30
  private val MB = 1024L * 1024

  private def utc(us: Long): String = java.time.LocalDateTime
    .ofEpochSecond(us / 1000000L, 0, java.time.ZoneOffset.UTC)
    .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def section(name: String)(body: Ctx => Seq[(String, Any)]) = Section(name, body)

  val sections: Seq[Section] = Seq(
    // ---- the reference's headline deck: a 4-day flo2d_150_v2 RAINCELL,
    // 384 steps × 39,526 cells (gen_raincell.py:124-142). One plan:
    // synthesize, bucket, format, and GenRaincell's single-file write.
    section("raincell_scale") { c => import c._
      val steps = 384 * mult
      val cells = 39526
      val start = utc(StartUs)
      val series = spark.range(steps.toLong * cells).select(
        timestamp_micros(lit(StartUs) + (col("id") / cells + 1).cast("long") * 900000000L)
          .as("time"),
        (pmod(col("id"), lit(cells)) + 1).cast("int").as("cell_id"),
        round(rand(42) * 10, 2).as("value"))
      val out = dir("raincell") + "/RAINCELL.DAT"
      val (_, write) = measure(spark)(graft.io.OrderedTextSink.writeSingleFile(
        graft.decks.RaincellDeck.lines(spark, series, start,
          utc(StartUs + steps.toLong * 900000000L), "flo2d_150_v2"), out))
      val lines = spark.read.text(out).count()
      // the header, then each step's cell lines and its closing blank line
      val expected = 1L + steps.toLong * (cells + 1)
      require(lines == expected, s"RAINCELL must have $expected lines, got $lines")
      Seq("steps" -> steps, "cells" -> cells, "lines" -> lines,
        "write_seconds" -> write.seconds, "lines_per_sec" -> (lines / write.seconds).toLong)
    },

    // ---- a 4-day TIMDEP report (96 blocks × 39,526 cells, 3.79 M lines),
    // parsed alone and as both files of a directory holding it twice: each
    // file of the directory parses to the same rows as the file alone; and
    // parsed keeping 20 stations, densified like the full parse.
    section("timdep_parse_scale") { c => import c._
      val cells = 39526
      val blocks = 96 * mult
      val d = dir("timdep")
      spark.range(blocks.toLong * (cells + 1))
        .select(when(pmod(col("id"), lit(cells + 1)) === 0,
            format_string("   %d.25", (col("id") / (cells + 1)).cast("int")))
          .otherwise(format_string("    %d   0.1   0.2   0.3   0.4   %d.50",
            pmod(col("id"), lit(cells + 1)).cast("int"),
            pmod(col("id"), lit(97)).cast("int"))).as("value"))
        .coalesce(4).write.mode("overwrite").text(d + "/parts")
      // one report file: the parts concatenated in order
      val single = d + "/TIMDEP.OUT"
      Using.resource(new java.io.FileOutputStream(single)) { os =>
        new java.io.File(d + "/parts").listFiles().filter(_.getName.startsWith("part-"))
          .sortBy(_.getName).foreach(p => Files.copy(p.toPath, os))
      }
      val twice = new java.io.File(d, "twice")
      twice.mkdirs()
      Seq("TIMDEP_A.OUT", "TIMDEP_B.OUT").foreach(n => Files.copy(Paths.get(single),
        twice.toPath.resolve(n), java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      // row count and an order-free checksum of every row, per file
      def digest(df: DataFrame): Seq[Row] = df.groupBy("file").agg(count(lit(1)),
        sum(xxhash64(col("element"), col("step_hours"), col("value")).cast("decimal(38,0)")))
        .drop("file").collect().toSeq
      val parsers = graft.extract.FloOutputParsers
      val (both, bw) = measure(spark)(digest(parsers.parseTimdepFile(spark, twice.getPath)))
      val (alone, aw) = measure(spark)(digest(parsers.parseTimdepFile(spark, single)))
      require(alone.size == 1 && both == alone ++ alone,
        s"each file of the directory must parse as the file alone: $both vs $alone")
      val rows = alone.head.getLong(0)
      require(rows == blocks.toLong * cells, s"expected ${blocks.toLong * cells} rows, got $rows")
      // the extraction's parse: 20 flood-plain stations spread over the
      // grid, kept in pass 1, then densified — the same rows as densifying
      // the full parse
      val stations = (1 to 20).map(i => (i * 1973 % cells + 1).toString)
      val wanted = spark.createDataFrame(stations.map(Tuple1(_))).toDF("element")
      val (filtered, fw) = measure(spark)(digest(parsers.fillMissing(
        parsers.parseTimdepFile(spark, single, stations = Some(stations.toSet)), wanted)))
      val unfiltered = digest(parsers.fillMissing(parsers.parseTimdepFile(spark, single), wanted))
      require(filtered == unfiltered,
        s"station-filtered and full parses densify differently: $filtered vs $unfiltered")
      require(filtered.head.getLong(0) == blocks.toLong * stations.size,
        s"expected ${blocks.toLong * stations.size} densified rows, got ${filtered.head.getLong(0)}")
      Seq("blocks" -> blocks, "rows" -> rows, "directory_rows" -> 2 * rows,
        "file_seconds" -> aw.seconds, "directory_seconds" -> bw.seconds,
        "file_rows_per_sec" -> (rows / aw.seconds).toLong,
        "directory_rows_per_sec" -> (2 * rows / bw.seconds).toLong,
        "stations" -> stations.size, "station_rows" -> filtered.head.getLong(0),
        "station_parse_seconds" -> fw.seconds)
    },

    // ---- transitive near-dup keepers over the 20×-replicated corpus:
    // every text is a 20-clique. The exact-dup collapse runs before any
    // pair is formed, so no stage moves more rows than one per LSH band
    // per pair of distinct texts; without it the bound would be 400x
    // larger (docs², not texts²).
    section("neardup_transitive_scale") { c => import c._
      val (r, w) = measure(spark) {
        Dedup.nearDupKeepersTransitiveRowwise(bigDocs, "doc_id", "text",
            numHashes = 4, rowsPerBand = 2, threshold = 0.6)
          .agg(count(lit(1)), countDistinct(col("keeper_id"))).head()
      }
      val texts = baseDocs.select("text").distinct().count()
      val peakRecords = w.stages.map(_.taskMetrics.shuffleWriteMetrics.recordsWritten).max
      val bound = 2 * texts * (texts - 1) / 2 // 4 hashes in bands of 2 rows
      require(r.getLong(0) == nDocs, s"one keeper row per doc: ${r.getLong(0)} of $nDocs")
      require(r.getLong(1) >= 1 && r.getLong(1) <= texts,
        s"every replica clique must collapse: ${r.getLong(1)} keepers for $texts texts")
      require(peakRecords <= bound, s"a stage shuffled $peakRecords records, more than " +
        s"the $bound band-pairs of $texts distinct texts")
      Seq("docs" -> nDocs, "dup_factor" -> dupFactor, "keepers" -> r.getLong(1),
        "distinct_texts" -> texts, "peak_stage_records" -> peakRecords,
        "peak_stage_record_bound" -> bound)
    },

    // ---- the two text-rewrite layers on the replicated corpus: paragraph
    // keep-first keeps one row per doc; the substring rewrite removes at
    // least 19/20 of the token mass, which sits under duplicated windows.
    section("textdedup_rewrite_scale") { c => import c._
      val para = Dedup.paragraphKeepFirst(bigDocs, "doc_id", "text",
          hashFn = Dedup.fastParaHash)
        .agg(count(lit(1)), coalesce(sum(when(col("n_kept") > 0, 1L)), lit(0L))).head()
      require(para.getLong(0) == nDocs,
        s"paragraph rewrite must keep one row per doc, got ${para.getLong(0)}")
      val span = Dedup.removeDuplicatedSpans(bigDocs, "doc_id", "text",
          windowTokens = 8, hashFn = Dedup.fastParaHash)
        .agg(count(lit(1)), sum("n_removed"),
          sum(graft.functions.TextFunctions.tokenCount(col("text_dedup")))).head()
      require(span.getLong(0) == nDocs,
        s"span rewrite must keep one row per doc, got ${span.getLong(0)}")
      val removed = span.getLong(1).toDouble / (span.getLong(1) + span.getLong(2))
      require(removed >= 0.9, s"a 20x-replicated corpus must lose >= 19/20 of its " +
        s"token mass to the substring rewrite, got $removed")
      Seq("docs" -> nDocs, "paragraph_survivor_docs" -> para.getLong(1),
        "span_tokens_removed" -> span.getLong(1), "span_removed_fraction" -> removed)
    },

    // ---- connected components on a 100 k-node PATH (diameter 100 k):
    // label propagation would need 100 k rounds; star contraction
    // finishing inside maxIter = 25 is the logarithmic-rounds claim.
    section("cc_worstcase_scale") { c => import c._
      val n = 100000L * mult
      // localFinishEdges = 0: the distributed rounds are under test, not
      // the bounded driver-side finish
      val r = Dedup.connectedComponents(
          spark.range(1, n).select(col("id").as("src"), (col("id") - 1).as("dst")),
          "src", "dst", maxIter = 25, localFinishEdges = 0)
        .agg(countDistinct(col("component")), count(lit(1))).head()
      require(r.getLong(0) == 1 && r.getLong(1) == n,
        s"the chain must be ONE component over $n nodes, got ${r.getLong(0)} over ${r.getLong(1)}")
      Seq("nodes" -> n, "components" -> r.getLong(0))
    },

    // ---- image near-dup: 100 k 16×16 PNGs in groups of 5, each group a
    // pseudo-random pattern, each member one flipped pixel. Banding the
    // aHash into four 16-bit keys must pair within groups while candidates
    // stay bucket-bounded (cross-group collisions are 2^-16 per band).
    section("image_neardup_scale") { c => import c._
      val n = 100000L * mult
      val groups = n / 5
      val path = dir("img_neardup") + "/in"
      val schema = StructType(Seq(StructField("media_id", LongType, nullable = false),
        StructField("bytes", BinaryType, nullable = true)))
      spark.range(n).select(col("id").as("media_id")).mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val member = (id % 5).toInt
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (p <- 0 until 256) {
            var v = (splitmix64(id / 5 * 257L + p) & 0xffL).toInt
            if (member > 0 && p == (member * 53) % 256) v = v ^ 0x80
            img.setRGB(p % 16, p / 16, (v << 16) | (v << 8) | v)
          }
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", out)
          Row(id, out.toByteArray)
        }
      }(org.apache.spark.sql.Encoders.row(schema)).write.mode("overwrite").parquet(path)
      val pairs = graft.multimodal.Multimodal.imageNearDupPairs(
        spark.read.parquet(path), "media_id", "bytes", maxHamming = 3).count()
      // a 1-pixel edit can shift the luminance mean past Hamming 3, so the
      // floor is one pair per group on average, not all C(5,2)
      require(pairs >= groups, s"expected at least one pair per group on average, " +
        s"got $pairs over $groups groups")
      Seq("images" -> n, "groups" -> groups, "pairs" -> pairs)
    },

    // ---- ANN recall@10 against the brute-force oracle over 20 queries,
    // each index in its serving shape (sign / assign / encode once, probe
    // the stored columns, exact rerank): multi-table LSH, IVF, PQ, and the
    // binary / truncated shortlists rescored by exact cosine, and raw sq8.
    section("ann_scale") { c => import c._
      val emb = clustered
      val nEmb = NEmb * mult
      val queryIds = (0 until 20).map(i => i.toLong * (nEmb / 20))
      val qv = emb.filter(col("vec_id").isin(queryIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet
      def top10(df: DataFrame, q: Seq[Float]): Set[Long] =
        ids(Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10))
      val exact = queryIds.map(q => q -> top10(emb, qv(q))).toMap
      def recall(topOf: Seq[Float] => Set[Long]): Double =
        queryIds.map(q => (topOf(qv(q)) & exact(q)).size / 10.0).sum / queryIds.size
      // compressed shortlist of 100, rescored by exact cosine
      def rescored(shortlistOf: Seq[Float] => Set[Long]): Seq[Float] => Set[Long] =
        q => top10(emb.filter(col("vec_id").isInCollection(shortlistOf(q))), q)

      val sigCols = (0 until 3).map(t => s"lsh_sig_$t")
      val signed = Similarity.withSignatures(emb, "embedding", AnnDim, nBits = 16,
        nTables = 3).persist()
      val lsh = recall(q => ids(Similarity.lshTopK(signed, "vec_id", "embedding", q,
        AnnDim, k = 10, nBits = 16, maxHammingProbe = 2, nTables = 3, sigCols = sigCols)))
      val cents = Similarity.codebook(emb, "vec_id", "embedding", nCentroids = 64, iters = 2)
      val assigned = Similarity.withIvfCell(emb, "embedding", cents).persist()
      val ivf = recall { q =>
        val probes = cents.indices.sortBy(i => Similarity.l2Local(q, cents(i))).take(8)
        top10(assigned.filter(col("ivf_cell").isin(probes: _*)), q)
      }
      val pqCents = Similarity.pqCodebooks(emb, "vec_id", "embedding", AnnDim, m = 8,
        nCodes = 256, iters = 1)
      val pqCoded = Similarity.withPqCodes(emb, "embedding", AnnDim, pqCents).persist()
      val pq = recall(q => ids(Similarity.pqRerankedFromCodes(pqCoded, "vec_id",
        "embedding", q, AnnDim, pqCents, k = 10, shortlist = 100)))
      val bin = Similarity.withBinarySignature(emb, "embedding", AnnDim).persist()
      val binary = recall(rescored(q => ids(Similarity.binaryTopK(bin, "vec_id",
        "embedding", q, k = 100, sigCol = Some("bin_sig")))))
      val truncated = recall(rescored(q => ids(Similarity.truncatedTopK(emb, "vec_id",
        "embedding", q, d = 32, k = 100))))
      val (mins, maxs) = Similarity.sq8Train(emb, "embedding", AnnDim)
      val sq8Stored = Similarity.withSq8Codes(emb, "embedding", mins, maxs).persist()
      val sq8 = recall(q => ids(Similarity.sq8TopK(sq8Stored, "vec_id", "embedding", q,
        mins, maxs, k = 10, codesCol = Some("sq8_codes"))))
      Seq(signed, assigned, pqCoded, bin, sq8Stored).foreach(_.unpersist())
      // floors, not tuning targets: tight clusters must survive every
      // index shape. sq8 has no rescore, and its quantization step
      // (~2 / 255) is the size of the 0.02 in-cluster jitter that defines
      // fine order, so some churn in the top-10's tail is arithmetic
      // (SimilaritySpec pins >= 0.9 on a normally spread corpus).
      val floors = Seq(("lsh", lsh, 0.8), ("ivf", ivf, 0.7), ("pq", pq, 0.7),
        ("binary_rescored", binary, 0.9), ("truncated32_rescored", truncated, 0.9),
        ("sq8", sq8, 0.8))
      floors.foreach { case (name, r, floor) =>
        require(r >= floor, s"$name recall@10 collapsed: $r < $floor")
      }
      Seq("embeddings" -> nEmb, "dim" -> AnnDim, "queries" -> queryIds.size) ++
        floors.map { case (name, r, _) => s"${name}_recall_at10" -> r }
    },

    // ---- SemDeDup over the clustered corpus: codebook seeds are the
    // first ids, so ids are permuted (coprime stride) to seed across
    // clusters. The default oversize cap stays on and must drop nothing.
    section("semdedup_scale") { c => import c._
      val nEmb = NEmb * mult
      val input = spark.read.parquet(clusteredDir)
        .select(((col("vec_id") * 99991L) % nEmb).as("vec_id"), col("embedding")).persist()
      val obs = Observation("graft_semdedup_scale")
      val keepers = Dedup.withReliableOversizeAudit(spark) {
        val k = Dedup.semDedupKeepers(input, "vec_id", "embedding", nCentroids = 128,
          kmeansIters = 2, threshold = 0.99, oversizeObs = Some(obs)).persist()
        k.count()
        k
      }
      val survivors = keepers.select("keeper_id").distinct().count()
      val dropped = obs.get("dropped_buckets").asInstanceOf[Long]
      keepers.unpersist(); input.unpersist()
      require(dropped == 0L, s"every cell must fit under the default cap, dropped $dropped")
      // 1 000 true clusters: cell splits can only leave MORE survivors
      require(survivors >= 1000 && survivors <= 3000,
        s"semantic collapse off the rails: $survivors survivors for 1000 clusters")
      Seq("embeddings" -> nEmb, "clusters" -> 1000, "survivors" -> survivors)
    },

    // ---- word-bigram stupid-backoff LM: train on the sf0.1 slice, score
    // the replicated corpus (the CCNet shape). Consumes avg_nll: under a
    // bare count() the optimizer drops the unique-keyed left joins, so the
    // scorer would never run.
    section("lm_backoff_scale") { c => import c._
      val lm = graft.trainprep.NgramLm
      val uni = lm.unigramCounts(baseDocs, "text")
      val total = uni.agg(sum(col("c"))).head().getLong(0)
      val (rows, w) = measure(spark) {
        lm.stupidBackoffNll(bigDocs, "doc_id", "text", uni, lm.bigramCounts(baseDocs, "text"),
          total).agg(count(lit(1)), sum(col("avg_nll"))).head().getLong(0)
      }
      require(rows == nDocs, s"LM must score every multi-token doc: $rows of $nDocs")
      require(w.shuffleWriteBytes < 2048 * MB,
        s"LM scoring shuffled ${w.shuffleWriteBytes} bytes: text is moving")
      Seq("docs" -> nDocs, "scoring_shuffle_bytes" -> w.shuffleWriteBytes)
    },

    // ---- corpus integrity manifest: leaves (64-byte hex) shuffle to their
    // identity-hash group, never text. Then incremental maintenance at 2^20
    // groups: an upsert batch recomputes only the groups it touches and
    // lands hash-exact on the full recompute.
    section("integrity_manifest_scale") { c => import c._
      val (root, full) = measure(spark) {
        val m = IntegrityManifest.manifest(bigDocs, "doc_id", "text", groups = 256)
          .localCheckpoint(true)
        val counts = m.agg(sum(col("n_docs")), max(col("n_docs"))).head()
        require(counts.getLong(0) == nDocs,
          s"manifest must cover every doc: ${counts.getLong(0)} of $nDocs")
        // identity hashes are uniform: the largest group stays under 2x the
        // mean, the bounded-collect contract the chain fold rides on
        require(counts.getLong(1) < 2L * nDocs / 256,
          s"group skew broke the bounded-collect contract: max ${counts.getLong(1)}")
        try IntegrityManifest.root(m) finally m.unpersist()
      }
      require(root.length == 64, s"root must be one sha256 hex: $root")
      require(full.shuffleWriteBytes < 64 * MB,
        s"manifest shuffled ${full.shuffleWriteBytes} bytes: text bodies are moving")
      val groups = 1 << 20
      val m0 = IntegrityManifest.manifest(bigDocs, "doc_id", "text", groups = groups)
        .localCheckpoint(true)
      val batch = bigDocs.filter(col("doc_id") < 400).localCheckpoint(true)
      val (inc, incWork) = measure(spark)(IntegrityManifest.updated(
        m0, bigDocs, batch, "doc_id", "text", groups = groups).localCheckpoint(true))
      // no content changed: the spliced manifest must equal the old one
      val drift = inc.exceptAll(m0).count() + m0.exceptAll(inc).count()
      val populated = m0.count()
      val batchIds = batch.select(col("doc_id")).distinct().count()
      Seq(m0, batch, inc).foreach(_.unpersist())
      require(drift == 0L, s"incremental manifest drifted from the full recompute: $drift rows")
      require(batchIds < populated / 100,
        s"fixture broke: batch ($batchIds ids) must be << groups ($populated populated)")
      require(incWork.shuffleWriteBytes < full.shuffleWriteBytes / 2,
        s"incremental maintenance must shuffle well below the full recompute: " +
          s"${incWork.shuffleWriteBytes} vs ${full.shuffleWriteBytes} bytes")
      Seq("docs" -> nDocs, "full_shuffle_bytes" -> full.shuffleWriteBytes,
        "incremental_groups" -> groups, "populated_groups" -> populated,
        "batch_ids" -> batchIds, "incremental_shuffle_bytes" -> incWork.shuffleWriteBytes)
    },

    // ---- HLL distinct tokens per group: each shuffle stage moves at most
    // groups × 256 register rows per task, however big the corpus. The
    // estimates are collected: under a bare count() Catalyst prunes the
    // register aggregate and the bound would hold vacuously.
    section("hll_scale") { c => import c._
      val groups = 4
      val (est, w) = measure(spark) {
        graft.trainprep.CorpusOverlap.hllDistinctTokens(
          bigDocs.withColumn("grp", pmod(col("doc_id"), lit(groups))), "grp", "text").collect()
      }
      require(est.length == groups && est.forall(_.getDouble(1) > 0),
        s"one positive estimate per group, got ${est.mkString(", ")}")
      w.stages.foreach { s =>
        val recs = s.taskMetrics.shuffleWriteMetrics.recordsWritten
        require(recs <= s.numTasks.toLong * groups * 256,
          s"stage ${s.stageId} shuffled $recs records over ${s.numTasks} tasks: " +
            s"more than $groups groups x 256 registers per task")
      }
      Seq("docs" -> nDocs, "groups" -> est.length, "shuffle_records" -> w.shuffleWriteRecords)
    },

    // ---- count-min sketch: depth × width counters whatever the corpus.
    section("cms_scale") { c => import c._
      val counters = graft.trainprep.CorpusOverlap.cmsTokenCountsFast(bigDocs, "text").count()
      require(counters <= 4L * 256L, s"CMS must stay depth*width-bounded: $counters")
      Seq("docs" -> nDocs, "counters" -> counters)
    },

    // ---- containment join at 100 k unique 60-word docs + 10 k planted
    // 20-word excerpts: unique text keeps shingle df ≈ 1, so the
    // df-ascending prefix join finds exactly the planted pairs.
    section("containment_scale") { c => import c._
      val (corpus, excerpts) = containment
      val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9).count()
      require(pairs == excerpts,
        s"prefix-filter containment must find exactly the $excerpts planted pairs, got $pairs")
      Seq("docs" -> excerpts * 11, "pairs" -> pairs)
    },

    // ---- winnowing fingerprints over the same corpus: a map pass, the
    // fingerprints never leave their row.
    section("winnow_scale") { c => import c._
      val (corpus, _) = containment
      val (fps, w) = measure(spark) {
        corpus.select(org.apache.spark.sql.GraftBridge.column(graft.expressions.WinnowHashes(
            org.apache.spark.sql.GraftBridge.expression(col("text")), 8, 4)).as("fp"))
          .agg(sum(size(col("fp")))).head().getLong(0)
      }
      require(w.shuffleWriteBytes < MB, s"winnowing shuffled ${w.shuffleWriteBytes} bytes")
      Seq("fingerprints" -> fps)
    },

    // ---- FastSS edit-distance join: 200 k unique 16-hex keys + 10 k
    // planted typos ('z' is not hex: each typo is ed-1 from its parent
    // only, whp). It must find exactly the planted pairs.
    section("editdist_scale") { c => import c._
      val n = 200000L * mult
      val typos = n / 20
      val key = lpad(hex(xxhash64(col("id"))), 16, "0")
      val corpus = spark.range(n).select(col("id").as("doc_id"), key.as("k"))
        .unionByName(spark.range(typos).select((col("id") + 10000000L).as("doc_id"),
          concat(lit("z"), substring(key, 2, 15)).as("k")))
      val pairs = Dedup.editDistancePairs(corpus, "doc_id", "k", maxDist = 1).count()
      require(pairs == typos, s"FastSS must find exactly the $typos planted pairs, got $pairs")
      Seq("keys" -> (n + typos), "pairs" -> pairs)
    },

    // ---- per-row passes over the replicated corpus — real-BPE token
    // counts, the C4 page gate and encoding triage: none may shuffle the
    // corpus, only the final count partials.
    section("map_pass_scale") { c => import c._
      val tf = graft.functions.TextFunctions
      val c4Pages = bigDocs.select(col("doc_id"), concat_ws(". ",
        substring(col("text"), 1, 30), substring(col("text"), 31, 30),
        substring(col("text"), 61, 40), substring(col("text"), 5, 30),
        concat(substring(col("text"), 35, 30), lit("."))).as("text"))
      val passes = Seq(
        "bpe_tokens" -> bigDocs.select(graft.functions.Bpe.tokenCount(col("text")).as("n"))
          .agg(sum(col("n"))),
        "c4_passed" -> tf.c4Gate(c4Pages, "doc_id", "text")
          .agg(sum(when(col("pass"), 1L).otherwise(0L))),
        "encoding_clean" -> tf.encodingQualityMetrics(bigDocs, "doc_id", "text")
          .agg(sum(when(col("clean"), 1L).otherwise(0L))))
      passes.map { case (name, df) =>
        val (v, w) = measure(spark)(df.head().getLong(0))
        require(w.shuffleWriteBytes < MB,
          s"$name must not shuffle the corpus: ${w.shuffleWriteBytes} bytes")
        name -> v
      } :+ ("docs" -> nDocs)
    },

    // ---- fused one-vs-rest trainer at H ∈ {8, 32, 64}: each iteration
    // embeds H × 256 weight literals in its aggregate plans; the 8→64
    // per-iteration growth must stay within 12× (linear is 8×). If this
    // fails, accumulate weights in one array-typed literal instead.
    section("langid_fused_heads_scale") { c => import c._
      val train = replicated(4).localCheckpoint(true)
      val iters = 2
      val perIter = Seq(8, 32, 64).map { h =>
        val (heads, w) = measure(spark) {
          graft.trainprep.LangIdClassifier.trainOneVsRestFused(
            train.withColumn("label", format_string("h%02d", pmod(col("doc_id"), lit(h)))),
            "doc_id", "text", "label", (0 until h).map(k => f"h$k%02d"),
            numFeatures = 256, iters = iters)
        }
        require(heads.length == h, s"trained ${heads.length} of $h heads")
        h -> w.seconds / iters
      }
      train.unpersist()
      val growth = perIter.last._2 / perIter.head._2
      require(growth <= 12, s"fused per-iteration wall grew ${growth}x from H=8 to " +
        "H=64: literal analysis is blowing up")
      perIter.map { case (h, s) => s"h${h}_iter_seconds" -> s } :+ ("growth_8_to_64" -> growth)
    },

    // ---- SFT completion-loss spans: BPE counts stay map-side; the one
    // shuffle is the per-conversation prefix-sum window over turns (a few
    // ints and a role), never text. max(loss_end) consumes the window, or
    // Catalyst would prune it with its exchange.
    section("sft_spans_scale") { c => import c._
      val convs = bigDocs.select(col("doc_id").as("conv_id"), array(
        struct(lit("system").as("role"), lit("be concise").as("content")),
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"), substring(col("text"), 1, 200).as("content")))
        .as("turns"))
      val turns = nDocs * 3
      val (r, w) = measure(spark) {
        graft.trainprep.SftPrep.completionLossSpans(convs, "conv_id", "turns",
            graft.functions.Bpe.tokenCount(_))
          .agg(sum(col("n_tokens")), count(lit(1)), max(col("loss_end"))).head()
      }
      require(r.getLong(1) == turns, "spans must cover every turn")
      // ~100 B/turn is turn metadata; text at ~900 B/doc would be 3x over
      require(w.shuffleWriteBytes < turns * 100,
        s"span shuffle must stay turn-metadata-sized: ${w.shuffleWriteBytes} bytes for " +
          s"$turns turns")
      Seq("convs" -> nDocs, "turns" -> turns, "span_tokens" -> r.getLong(0))
    },

    // ---- upsample-by-weight: a map-side generate with zero shuffle whose
    // output size tracks sum(w).
    section("upsample_scale") { c => import c._
      val recipe = bigDocs.select(col("doc_id"),
        element_at(map(lit(0L), lit(0.0), lit(1L), lit(0.4), lit(2L), lit(1.0),
          lit(3L), lit(2.3), lit(4L), lit(3.7)), pmod(col("doc_id"), lit(5L))).as("w"))
      val expected = recipe.agg(sum(col("w"))).head().getDouble(0)
      val (rows, w) = measure(spark)(TrainPrep.upsampleByWeight(recipe, "doc_id", "w").count())
      require(w.shuffleWriteBytes < MB,
        s"upsampling must not shuffle: ${w.shuffleWriteBytes} bytes")
      require(math.abs(rows - expected) / expected < 0.02,
        s"emitted copies must track sum(w): got $rows vs ${expected.toLong}")
      Seq("docs" -> nDocs, "rows_out" -> rows, "expected_sum_w" -> expected.toLong)
    },

    // ---- no-split packing and stride interleave: shuffled bytes scale
    // with docs (ranks, group-bounded collect rows), never with tokens.
    // The corpus's ~35 MB of text would blow through the 8 MB bounds.
    section("pack_interleave_scale") { c => import c._
      val (bins, pw) = measure(spark) {
        TrainPrep.packNoSplitReport(TrainPrep.packNoSplit(bigDocs, "doc_id", "text",
          contextTokens = 4096L, groupSize = 4096), 4096L).count()
      }
      require(bins > 0, "packNoSplit must have produced bins")
      require(pw.shuffleWriteBytes < 8 * MB,
        s"packNoSplit shuffled ${pw.shuffleWriteBytes} bytes: text is moving")
      // max(mix_rank) consumes the merged rank, or count() would prune it
      val (mixed, mw) = measure(spark) {
        TrainPrep.strideInterleave(bigDocs
            .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16)).cast("string")))
            .withColumn("w", lit(1.0) + pmod(length(col("text")), lit(5))),
          "doc_id", "source", "w").agg(count(lit(1)), max(col("mix_rank"))).head().getLong(0)
      }
      require(mixed == nDocs, s"interleave lost docs: $mixed")
      require(mw.shuffleWriteBytes < 8 * MB,
        s"strideInterleave shuffled ${mw.shuffleWriteBytes} bytes: text is moving")
      Seq("docs" -> nDocs, "pack_bins" -> bins, "pack_shuffle_bytes" -> pw.shuffleWriteBytes,
        "interleave_shuffle_bytes" -> mw.shuffleWriteBytes)
    },

    // ---- first-fit-decreasing inside each bounded group against
    // next-fit. FFD <= next-fit is not a per-instance theorem (FFD's bound
    // is 11/9·OPT + 6/9), so the 5 % slack catches FFD degenerating to
    // next-fit or worse, nothing more.
    section("pack_ffd_scale") { c => import c._
      def pad(orderBy: String): Row = TrainPrep.packNoSplitReport(
          TrainPrep.packNoSplit(bigDocs, "doc_id", "text", contextTokens = 4096L,
            groupSize = 4096, orderBy = orderBy), 4096L)
        .agg(sum(col("pad")), count(lit(1))).head()
      val nextFit = pad("id")
      val (ffd, w) = measure(spark)(pad("lengthDesc"))
      require(w.shuffleWriteBytes < 8 * MB,
        s"FFD pack shuffled ${w.shuffleWriteBytes} bytes: text is moving")
      require(ffd.getLong(0) <= nextFit.getLong(0) * 1.05,
        s"FFD padding ${ffd.getLong(0)} exceeds next-fit ${nextFit.getLong(0)} by more " +
          "than the 5% instance slack: the FFD fold has regressed")
      Seq("docs" -> nDocs, "nextfit_pad_tokens" -> nextFit.getLong(0),
        "nextfit_bins" -> nextFit.getLong(1), "ffd_pad_tokens" -> ffd.getLong(0),
        "ffd_bins" -> ffd.getLong(1))
    },

    // ---- PR sweep and AUC at 1 M fully distinct scores (the threshold
    // axis is data-sized) with positives planted at high scores.
    section("eval_sweep_scale") { c => import c._
      val n = 1000000L * mult
      val scored = spark.range(n).select((col("id").cast("double") / n).as("s"),
        (pmod(col("id"), lit(4)) === 0 || col("id") >= n * 4 / 5).as("y"))
      // id % 4 hits + the top-fifth tail − their overlap
      val nPos = n / 4 + n / 5 - n / 20
      val (last, sw) = measure(spark) {
        graft.eval.EvalMetrics.prSweep(scored, "y", "s")
          .orderBy(col("threshold").asc).limit(1).select("tp", "fp", "recall").head()
      }
      // at the lowest threshold everything is positive: the books close
      require(last.getLong(0) == nPos && last.getDouble(2) == 1.0,
        s"sweep must end at tp = P: got $last, expected tp=$nPos")
      require(last.getLong(0) + last.getLong(1) == n, "tp + fp must cover every row")
      require(sw.shuffleWriteBytes < n * 120,
        s"PR sweep shuffled ${sw.shuffleWriteBytes} bytes for $n rows: the distinct-score " +
          "frame moves more than the two-pass scan needs")
      val (auc, aw) = measure(spark)(graft.eval.EvalMetrics.rocAuc(scored, "y", "s").head())
      require(auc.getLong(0) == nPos, "AUC must see every positive")
      require(auc.getDouble(2) > 0.7, s"planted high-score positives must dominate: $auc")
      require(aw.shuffleWriteBytes < n * 120,
        s"AUC shuffled ${aw.shuffleWriteBytes} bytes for $n rows")
      Seq("rows" -> n, "n_pos" -> nPos, "auc" -> auc.getDouble(2))
    },

    // ---- the copy-on-write lake at fleet size: a daily re-extraction of
    // one date rewrites ONE of 120 partitions and moves nothing else.
    section("lake_merge_scale") { c => import c._
      val rows = StepsPerDay.toLong * LakeStations
      val lake = lakeDir // built before the measured merge
      val (st, w) = measure(spark)(LakeMerge.merge(spark, lake, pointDay(0.5)))
      require(st.partitionsRewritten < st.partitionsTotal, s"a point upsert must " +
        s"rewrite fewer partitions than the lake holds: $st")
      require(st.partitionsRewritten == 1 && st.partitionsTotal == LakeDays,
        s"a point upsert must rewrite 1 of $LakeDays partitions: $st")
      require(st.rowsInserted == 0 && st.rowsUpdated == rows,
        s"a day's re-extraction must be pure in-place updates: $st")
      // the anti-join and staging write move the one affected partition
      // (48 k rows) and the broadcast batch, never the lake
      require(w.shuffleWriteBytes < 64 * MB,
        s"point merge shuffled ${w.shuffleWriteBytes} bytes: the lake is moving")
      Seq("days" -> LakeDays, "rows" -> LakeDays * rows, "point_update_rows" -> st.rowsUpserted,
        "partitions_rewritten" -> st.partitionsRewritten,
        "partitions_total" -> st.partitionsTotal, "merge_seconds" -> w.seconds,
        "merge_shuffle_bytes" -> w.shuffleWriteBytes)
    },

    // ---- small-file compaction: every partition holds 4 series-hashed
    // files whose ideal is 1; one run bounded at 10 partitions compacts
    // exactly 10 and keeps every row.
    section("lake_compact_scale") { c => import c._
      val st = LakeMerge.compactPartitions(spark, lakeDir,
        targetFileBytes = 256 * MB, maxPartitions = 10)
      require(st.partitionsCompacted == 10 && st.partitionsTotal == LakeDays,
        s"a bounded run must compact exactly maxPartitions: $st")
      require(st.filesAfter <= st.filesBefore - 30,
        s"10 partitions at 4 -> 1 files must drop >= 30 files: $st")
      require(LakeMerge.readLake(spark, lakeDir).count()
        == LakeDays.toLong * LakeStations * StepsPerDay,
        "compaction must preserve every row exactly once")
      Seq("compacted" -> st.partitionsCompacted, "files_before" -> st.filesBefore,
        "files_after" -> st.filesAfter)
    },

    // ---- change data feed: the day re-extracted with capture publishes
    // the pre- and post-images of the one affected partition.
    section("lake_cdf_scale") { c => import c._
      val lake = lakeDir
      val (st, w) = measure(spark)(LakeMerge.merge(spark, lake, pointDay(0.25),
        captureChanges = true))
      require(st.partitionsRewritten == 1 && st.rowsInserted == 0,
        s"a captured re-extraction must stay a one-partition update: $st")
      val last = LakeMerge.readChanges(spark, lakeDir).agg(max("seq")).head().getLong(0)
      val feed = LakeMerge.readChanges(spark, lakeDir, sinceSeq = last - 1).count()
      require(feed == 2L * LakeStations * StepsPerDay,
        s"the feed must carry pre- and post-images of the day, got $feed")
      require(w.shuffleWriteBytes < 96 * MB,
        s"capture shuffled ${w.shuffleWriteBytes} bytes: it must stay partition-bounded")
      Seq("feed_rows" -> feed, "merge_shuffle_bytes" -> w.shuffleWriteBytes)
    },

    // ---- time travel: a merge with retention keeps the one pre-image, the
    // snapshot before it reads 119 partitions live plus that pre-image,
    // and vacuum drops it and makes the snapshot refuse loudly.
    section("lake_time_travel_scale") { c => import c._
      val day = StepsPerDay.toLong * LakeStations
      LakeMerge.merge(spark, lakeDir, pointDay(0.25))
      LakeMerge.merge(spark, lakeDir, pointDay(0.75), retainHistory = true)
      def at(df: DataFrame, v: Double) =
        df.filter(col("part_date") === PointDay && col("value") === v).count()
      val old = at(LakeTimeTravel.readLakeAsOf(spark, lakeDir, -1L), 0.25)
      require(old == day, s"the pre-merge snapshot must read the retained pre-image, got $old")
      require(at(LakeMerge.readLake(spark, lakeDir), 0.75) == day,
        "the live lake must hold the retained merge's values")
      require(LakeTimeTravel.vacuum(spark, lakeDir, oldestAsOf = 0L) == 1,
        "vacuum must drop exactly the one retained pre-image")
      val refused =
        try { LakeTimeTravel.readLakeAsOf(spark, lakeDir, -1L).count(); false }
        catch { case e: IllegalStateException => e.getMessage.contains("vacuumed") }
      require(refused, "a vacuumed snapshot must refuse loudly")
      Seq("days" -> LakeDays, "snapshot_rows" -> old)
    },

    // ---- keyed delete and feed-driven aggregate maintenance: purging one
    // station's day asserts its partition and rewrites 1 of 120; folding
    // the delete's feed into a per-station aggregate equals the direct
    // recompute, and the fold moves the feed and groups, never the lake.
    section("lake_delete_scale") { c => import c._
      val measures = Seq("v_sum" -> (col("value") * 1000).cast("long"))
      val agg0 = FeedMaintain.snapshotAgg(LakeMerge.readLake(spark, lakeDir), Seq("tms_id"),
        measures).localCheckpoint(true)
      val purge = pointDay(0.0).filter(col("tms_id") === "wl_0")
        .select("tms_id", "fgt", "time", "part_date")
      val (st, w) = measure(spark)(LakeMerge.delete(spark, lakeDir, purge,
        captureChanges = true))
      require(st.partitionsAffected == 1 && st.partitionsTotal == LakeDays &&
        st.rowsDeleted == StepsPerDay, s"the purge must rewrite 1 of $LakeDays: $st")
      require(w.shuffleWriteBytes < 64 * MB,
        s"purge shuffled ${w.shuffleWriteBytes} bytes: the lake is moving")
      val last = LakeMerge.readChanges(spark, lakeDir).agg(max("seq")).head().getLong(0)
      val feed = LakeMerge.readChanges(spark, lakeDir, sinceSeq = last - 1)
      val (maintained, mw) = measure(spark)(
        FeedMaintain.maintain(agg0, feed, Seq("tms_id"), measures).localCheckpoint(true))
      val direct = FeedMaintain.snapshotAgg(LakeMerge.readLake(spark, lakeDir), Seq("tms_id"),
        measures)
      require(maintained.count() == direct.count() &&
        maintained.unionByName(direct).distinct().count() == direct.count(),
        "the feed-maintained aggregate must equal the direct recompute")
      require(mw.shuffleWriteBytes < 4 * MB,
        s"maintenance shuffled ${mw.shuffleWriteBytes} bytes: it re-scans the lake")
      maintained.unpersist(); agg0.unpersist()
      Seq("purged_rows" -> st.rowsDeleted, "delete_shuffle_bytes" -> w.shuffleWriteBytes,
        "maintain_shuffle_bytes" -> mw.shuffleWriteBytes)
    },

    // ---- embedding lake grown by append against the frozen codebook: the
    // append is a map pass, the probe still prunes partitions, and equals
    // the probe over a rebuild with the same codebook; in-distribution
    // appends flag no cell for retraining.
    section("embedding_lake_append_scale") { c => import c._
      val (path, codebook, baseline) = embLake
      val nAppend = 20000L
      val before = EmbeddingLake.read(spark, path).agg(max("vec_id")).head().getLong(0) + 1
      val (_, aw) = measure(spark)(EmbeddingLake.append(
        synthVecs(before, nAppend, 0.0), "embedding", path, codebook))
      require(aw.shuffleWriteBytes < 32 * MB,
        s"append shuffled ${aw.shuffleWriteBytes} bytes: ingest is re-reading the lake")
      def probe(dir: String) = EmbeddingLake.probeTopK(spark, dir, codebook, "vec_id",
        "embedding", embQuery, k = 10, nProbe = 4)
      val grown = probe(path)
      val ids = grown.collect().map(_.getLong(0)).toSeq
      val probed = EmbeddingLake.filesRead(grown)
      val all = EmbeddingLake.filesRead(EmbeddingLake.read(spark, path))
      require(probed * 2 <= all, s"the grown-lake probe read $probed of $all files: " +
        "appends broke partition pruning")
      val rebuilt = dir("emb_rebuild") + "/emb"
      Similarity.withIvfCell(synthVecs(0, before + nAppend, 0.0), "embedding", codebook)
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(rebuilt)
      val rebuiltIds = probe(rebuilt).collect().map(_.getLong(0)).toSeq
      require(ids == rebuiltIds, s"append-grown lake diverged from rebuild: $ids vs $rebuiltIds")
      val retrain = EmbeddingLake.retrainAdvice(baseline,
          EmbeddingLake.driftReport(spark, path, "embedding", codebook), growthThreshold = 1.5)
        .filter(col("retrain")).count()
      require(retrain == 0L, "in-distribution appends must not demand a retrain")
      Seq("vectors" -> before, "appended" -> nAppend,
        "append_shuffle_bytes" -> aw.shuffleWriteBytes, "files_probed" -> probed,
        "files_total" -> all)
    },

    // ---- drift repair: 10 k shifted vectors pile into the cells nearest
    // the shifted mass; retrainAdvice flags a few cells and compactCells
    // rewrites only those, never the lake.
    section("embedding_lake_compact_scale") { c => import c._
      val (path, codebook, baseline) = embLake
      val nDrift = 10000L
      val before = EmbeddingLake.read(spark, path).count()
      val next = EmbeddingLake.read(spark, path).agg(max("vec_id")).head().getLong(0) + 1
      EmbeddingLake.append(synthVecs(next, nDrift, 3.0), "embedding", path, codebook)
      val flagged = EmbeddingLake.retrainAdvice(baseline,
          EmbeddingLake.driftReport(spark, path, "embedding", codebook))
        .filter(col("retrain")).select("ivf_cell").collect().map(_.getInt(0)).toSeq.sorted
      require(flagged.nonEmpty && flagged.length * 4 <= 16,
        s"the shifted mass must flag a small cell subset, got $flagged")
      val (compacted, st) = EmbeddingLake.compactCells(spark, path, "vec_id", "embedding",
        codebook, flagged, splitInto = 2, kmeansIters = 1)
      require(st.partitionsRewritten == flagged.length &&
        st.partitionsRewritten * 4 <= st.partitionsTotal,
        s"compaction must rewrite only the flagged cells: $st")
      require(EmbeddingLake.read(spark, path).count() == before + nDrift,
        "compaction must preserve every row exactly once")
      val post = EmbeddingLake.probeTopK(spark, path, compacted, "vec_id", "embedding",
        embQuery, k = 10, nProbe = 4)
      post.collect()
      require(EmbeddingLake.filesRead(post) * 2 <=
        EmbeddingLake.filesRead(EmbeddingLake.read(spark, path)),
        "post-compaction probes must still partition-prune")
      Seq("drift_vectors" -> nDrift, "flagged_cells" -> flagged.length,
        "partitions_rewritten" -> st.partitionsRewritten,
        "partitions_total" -> st.partitionsTotal, "cells_added" -> st.cellsAdded,
        "rows_reassigned" -> st.rowsReassigned)
    },

    // ---- DSIR at 1 M docs: ~318 M exploded character trigrams collapse
    // in map-side partial aggregation, so shuffled records scale with docs
    // (per-doc score partials), never with trigram occurrences.
    section("dsir_select_1m") { c => import c._
      val docs = docs1m
      val (top, w) = measure(spark) {
        TrainPrep.dsirSelect(docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0),
          "doc_id", "text", k = 1000).count()
      }
      require(top == 1000L, s"dsirSelect must return k rows, got $top")
      val trigrams = nDeep * 200L // a conservative lower bound
      require(w.shuffleWriteRecords < trigrams / 10,
        s"dsirSelect shuffled ${w.shuffleWriteRecords} records, within 10x of the raw " +
          s"trigram stream (~$trigrams): map-side collapse is broken")
      Seq("docs" -> nDeep, "selected" -> top, "shuffle_records" -> w.shuffleWriteRecords)
    },

    // ---- CorpusPrep at 1 M docs, stage by stage with parquet hand-offs
    // (exact per-stage shuffle records; parquet I/O is not shuffle, so
    // their sum is the pipeline's shuffle floor), then composed as the CLI
    // runs it, with its stage cuts. Every doc passes the gate,
    // redaction is a no-op, no pair verifies at 0.8 (sub/sup Jaccard is
    // 0.75), and containment drops exactly the planted prefixes.
    section("corpus_prep_e2e_1m") { c => import c._
      val root = dir("corpus_prep")
      docs1m.write.mode("overwrite").parquet(s"$root/s0")
      var stageRecords = Seq.empty[(String, Long)]
      def stage(name: String, n: Int)(f: DataFrame => DataFrame): Long = {
        val (rows, w) = measure(spark) {
          f(spark.read.parquet(s"$root/s${n - 1}")).write.mode("overwrite")
            .parquet(s"$root/s$n")
          spark.read.parquet(s"$root/s$n").count()
        }
        stageRecords :+= name -> w.shuffleWriteRecords
        rows
      }
      val survivors = nDeep - plantedSubs
      val gated = stage("repetition_gate", 1) { d =>
        d.join(graft.functions.TextFunctions.repetitionGate(d, "doc_id", "text")
          .filter(col("pass")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
      require(gated == nDeep, s"every synthetic doc passes the gate: $gated")
      // gate units: 1 marker + 1 line + the n-gram shingles of each doc;
      // three count-sized shuffles and the keep semi-join: 5x units
      def units(t: Int) = 2 + (t - 1) + (t - 2) + (t - 3)
      val gateUnits = (nDeep * 3 / 4) * units(SupTokens) + (nDeep / 4) * units(SubTokens)
      require(stageRecords.last._2 < 5L * gateUnits,
        s"the gate shuffled ${stageRecords.last._2} records, over 5x its $gateUnits units")
      val redacted = stage("redact_pii", 2)(
        _.withColumn("text", TrainPrep.redactPii(col("text"))))
      require(redacted == nDeep, s"redaction rewrites, never drops: $redacted")
      // 4-row bands (lshPlan(16, 0.8)): 2-row keys let random collisions
      // grow candidates ~n² on 30-40-token docs over a 50 k vocabulary
      val near = stage("dedup_near", 3) { d =>
        d.join(Dedup.nearDupKeepersRowwise(d, "doc_id", "text", numHashes = 16,
            rowsPerBand = 4, threshold = 0.8)
          .filter(col("doc_id") === col("keeper_id")).select(col("doc_id")), Seq("doc_id"))
      }
      require(near == nDeep, s"no synthetic pair verifies at 0.8: $near")
      require(stageRecords.last._2 < 20L * nDeep,
        s"near-dedup must shuffle signatures and bands, never tokens: ${stageRecords.last._2}")
      val contained = stage("containment_drop", 4)(
        Dedup.containmentDrop(_, "doc_id", "text", threshold = 0.9))
      require(contained == survivors, s"containment drops exactly the planted subs: $contained")
      // postings flow through a bounded number of exchanges: document
      // frequency, posting join, prefix window, candidate join, two
      // verify joins — 6x with headroom, never doc x doc or text-bearing
      require(stageRecords.last._2 < 6L * shingles,
        s"containment shuffled ${stageRecords.last._2} records, over 6x the $shingles postings")
      val packed = stage("pack_chunks", 5)(TrainPrep.packChunks(_, "doc_id", "text", 4096L))
      require(packed == contained, "pack emits one assignment row per doc")
      require(stageRecords.last._2 < 6L * nDeep,
        s"pack shuffled ${stageRecords.last._2} records: the bucketed prefix sum is docs-linear")
      val (_, exportWork) = measure(spark)(spark.read.parquet(s"$root/s5")
        .repartition(32, col("doc_id")).write.mode("overwrite").json(s"$root/export"))
      val stageSum = stageRecords.map(_._2).sum + exportWork.shuffleWriteRecords
      def composed(out: String, extra: Map[String, String]) = measure(spark) {
        graft.cli.CorpusPrep.run(spark, Map("in" -> s"$root/s0", "out" -> s"$root/$out",
          "repetition-gate" -> "true", "redact" -> "true", "dedup" -> "near",
          "dedup-hashes" -> "16", "dedup-rows-per-band" -> "4",
          "containment-dedup" -> "0.9", "chunk-mode" -> "pack", "budget" -> "4096",
          "export-jsonl" -> "none", "export-shards" -> "32") ++ extra)
      }
      val (stats, cw) = composed("cli", Map.empty)
      require(stats("docs_out") == survivors,
        s"the composed pipeline must agree with the stage-wise population: ${stats("docs_out")}")
      // the one-plan run may recompute upstream operators across its few
      // actions, but within 2x the stage-wise shuffle floor
      require(cw.shuffleWriteRecords < 2L * stageSum,
        s"composed run shuffled ${cw.shuffleWriteRecords} records vs stage sum $stageSum: " +
          "a stage re-executes its upstream per action")
      Seq("docs" -> nDeep, "docs_out" -> stats("docs_out"), "chunks" -> stats("chunks")) ++
        stageRecords.map { case (s, r) => s"${s}_records" -> r } ++
        Seq("stage_sum_records" -> stageSum, "composed_records" -> cw.shuffleWriteRecords,
          "composed_seconds" -> cw.seconds)
    },

    // ---- SftExport at 250 k conversations paired from the 1 M corpus. The
    // synthetic "w12345" words fall outside the merge table's alphabet and
    // tokenize near character level: ~116 M tokens. Contiguous global token
    // positions make the sequence count exactly ceil(total / context); the
    // token stream never shuffles (measured ~0.017 records per token).
    section("sft_export_e2e") { c => import c._
      val docs = docs1m
      val convs = nDeep / 4
      val path = dir("sft")
      docs.filter(col("doc_id") < convs).select(col("doc_id").as("conv_id"), col("text").as("ut"))
        .join(docs.filter(col("doc_id") >= convs && col("doc_id") < 2 * convs)
          .select((col("doc_id") - convs).as("conv_id"), col("text").as("at")), "conv_id")
        .select(col("conv_id"), array(
          struct(lit("user").as("role"), col("ut").as("content")),
          struct(lit("assistant").as("role"), col("at").as("content"))).as("turns"))
        .write.mode("overwrite").parquet(s"$path/in")
      val (st, w) = measure(spark)(graft.cli.SftExport.run(spark,
        Map("in" -> s"$path/in", "out" -> s"$path/out", "context" -> "4096")))
      require(st("convs") == convs, s"sft export must cover every conversation: ${st("convs")}")
      require(st("loss_tokens") > 0 && st("loss_tokens") < st("total_tokens"),
        "loss spans must be a proper subset of the stream")
      require(st("sequences") == (st("total_tokens") + 4095) / 4096,
        s"packed-sequence count ${st("sequences")} != ceil(${st("total_tokens")}/4096): " +
          "global offsets have gaps or duplicates")
      require(w.shuffleWriteRecords < st("total_tokens") / 10,
        s"sft export shuffled ${w.shuffleWriteRecords} records for ${st("total_tokens")} " +
          "tokens: a stage shuffles token-level rows")
      Seq("convs" -> st("convs"), "total_tokens" -> st("total_tokens"),
        "loss_tokens" -> st("loss_tokens"), "sequences" -> st("sequences"),
        "shuffle_records" -> w.shuffleWriteRecords)
    },

    // ---- the dataset card (CorpusReport) at 1 M docs: four gates,
    // histograms and dup clusters in shared scans. The Gopher repetition
    // gate's n-gram stream is token-scale by design (~6 records/token);
    // every other part aggregates per-doc metadata, so the card stays
    // within 8 records per token.
    section("corpus_report_1m") { c => import c._
      val path = dir("card")
      docs1m.withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(20)).cast("string")))
        .write.mode("overwrite").parquet(s"$path/in")
      val (st, w) = measure(spark)(graft.cli.CorpusReport.run(spark,
        Map("in" -> s"$path/in", "out" -> s"$path/out", "context" -> "4096")))
      val tokens = (nDeep / 4) * SubTokens + (nDeep - nDeep / 4) * SupTokens
      require(st("docs") == nDeep, s"card lost docs: ${st("docs")}")
      require(st("tokens") == tokens, s"card tokens ${st("tokens")} != $tokens")
      // prefix subs are near-dups, not exact ones: every text is distinct
      require(st("distinct_texts") == nDeep, s"distinct_texts ${st("distinct_texts")} != $nDeep")
      require(st("encoding_clean") == nDeep, s"the ASCII corpus must be clean: $st")
      require(Seq("gopher_pass", "c4_pass", "repetition_pass")
        .forall(k => st(k) >= 0 && st(k) <= nDeep), s"gate counts out of range: $st")
      require(w.shuffleWriteRecords < 8L * tokens,
        s"the card shuffled ${w.shuffleWriteRecords} records for $tokens tokens: " +
          "a section re-scans or explodes")
      Seq("docs" -> st("docs"), "tokens" -> st("tokens"),
        "shuffle_records" -> w.shuffleWriteRecords)
    })

  private val embQuery: Seq[Float] =
    (0 until 32).map(k => (((5 * 97 + k) % 1000) / 500.0 - 1.0).toFloat)

  /** The registered sections named in `names`, in registry order; all of
    * them when `names` is empty. */
  def select(names: Seq[String]): Seq[Section] = {
    val unknown = names.filterNot(n => sections.exists(_.name == n))
    require(unknown.isEmpty, s"unknown section(s) ${unknown.mkString(", ")}; " +
      s"registered: ${sections.map(_.name).mkString(", ")}")
    if (names.isEmpty) sections else sections.filter(s => names.contains(s.name))
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonMap(fields: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def main(args: Array[String]): Unit = {
    val (mult, names) = args.headOption.flatMap(_.toIntOption) match {
      case Some(m) => (m, args.tail)
      case None => (1, args)
    }
    require(mult > 0, s"mult must be positive, got $mult")
    val chosen = select(names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = Files.createTempDirectory("graft-scale").toString
    val ctx = new Ctx(spark, mult, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1"), tmp)
    val evidence = Files.createDirectories(Paths.get("plans", "scale"))
    val failed = try chosen.flatMap { s =>
      try {
        val (values, w) = measure(spark)(s.body(ctx))
        val fields = Seq("section" -> s.name) ++ values ++ Seq("mult" -> mult,
          "cpus" -> cpus.toInt, "seconds" -> w.seconds, "jobs" -> w.jobs.size,
          "shuffle_write_bytes" -> w.shuffleWriteBytes,
          "peak_stage_shuffle_bytes" -> w.peakStageShuffleWrite)
        println(json.writeValueAsString(jsonMap(fields)))
        json.writerWithDefaultPrettyPrinter().writeValue(
          evidence.resolve(s"${s.name}.json").toFile,
          jsonMap(fields :+ ("report" -> java.util.Arrays.asList(w.report.split("\n"): _*))))
        None
      } catch { case NonFatal(e) =>
        println(json.writeValueAsString(jsonMap(Seq("section" -> s.name,
          "failed" -> String.valueOf(e.getMessage)))))
        Some(s.name)
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    if (failed.nonEmpty) throw new IllegalStateException(s"failed: ${failed.mkString(", ")}")
  }
}
