package graft.cli

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.decks._
import graft.extract.ExtractPipeline
import graft.io.{FcstDims, JdbcUpsertSink, OrderedTextSink, RunMetaJson}
import graft.model.SlTime
import graft.sources.Sources

/** CLI entry points mirroring the reference's ten scripts — SURVEY.md §7
  * step 7. Flags follow the reference (`-s/-e` window, `-m` model, `-d`
  * output dir); series come from parquet/JDBC stores instead of the
  * reference's MySQL procs, everything else is contract-identical:
  * grid-aligned window validation (F8), existence-guard idempotency (K6),
  * run_meta.json merge (K4).
  */
object CliArgs {
  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("-") =>
      k.dropWhile(_ == '-') -> v
    }.toMap

  /** Null-safe long read of an aggregate row: `sum()`/`min()` over ZERO
    * rows is NULL and a bare `getLong` NPEs — the empty-corpus guard
    * every summary read-back needs (ONE definition; SftExport,
    * CorpusReport and future CLIs share it instead of hand-rolling). */
  def longOr0(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)

  /** `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS` or the
    * host's processor count. */
  def session(name: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkEntry.configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Standalone-main wrapper: own session, stopped on exit. Tests call the
    * `run(spark, args)` cores directly on the shared session instead. */
  def withSession(name: String)(f: SparkSession => Unit): Unit = {
    val s = session(name)
    try f(s) finally s.stop()
  }

  /** A small text file's lines, with the handle closed on return (the CLIs
    * run inside a long-lived cron service, where a leaked handle per run
    * adds up). */
  def readLines(path: String): Seq[String] =
    Using.resource(scala.io.Source.fromFile(path))(_.getLines().toList)

  def stepMinutes(model: String): Int =
    if (model == "flo2d_250" || model.startsWith("flo2d_10")) 5 else 15

  /** Shared `--max-bucket` semantics for the dedup CLIs (CorpusPrep,
    * MediaPrep): default-on at [[graft.dedup.Dedup.DefaultMaxBucketSize]],
    * `N` overrides, `0` (or negative) uncaps explicitly. */
  def maxBucket(args: Map[String, String]): Int =
    args.get("max-bucket").map(_.toInt) match {
      case Some(m) if m <= 0 => Int.MaxValue
      case Some(m) => m
      case None => graft.dedup.Dedup.DefaultMaxBucketSize
    }

  /** F8 window validation (reference: input/raincell/gen_raincell.py:53-71). */
  def validateWindow(start: String, end: String, model: String): Unit = {
    SlTime.requireGridAligned(java.sql.Timestamp.valueOf(start), stepMinutes(model))
    SlTime.requireGridAligned(java.sql.Timestamp.valueOf(end), stepMinutes(model))
  }

  def writeDeck(deck: DataFrame, outPath: String, metaKey: String, start: String): Unit = {
    val wrote = OrderedTextSink.ifAbsent(outPath) {
      OrderedTextSink.writeSingleFile(deck, outPath)
    }
    if (wrote) {
      val metaPath = new java.io.File(new java.io.File(outPath).getParentFile, "run_meta.json")
      RunMetaJson.merge(metaPath.getPath, Map(metaKey -> start))
    } else println(s"$outPath already exists — skipped (K6)")
  }
}

/** RAIN.DAT generator (reference: input/rain/gen_rain.py).
  * `--series` parquet (id,time,value), `--id` series hash, `-s/-e` window,
  * `-m` model, `-d` out dir. */
object GenRain {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("gen_rain")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val (start, end, model) = (a("s"), a("e"), a.getOrElse("m", "flo2d_250"))
    CliArgs.validateWindow(start, end, model)
    // flo2d_10_* micro-models: nearest rainfall station to (--lat, --lon)
    // selects the series — `rainfall_{obsId}_{name}_MDPA` key into the
    // series index (reference: gen_rain.py:121-135,307-314)
    val seriesId =
      if (model.startsWith("flo2d_10") && a.contains("lat")) {
        val st = Sources.nearestStation(
          spark.read.parquet(a("stations")), a("lat").toDouble, a("lon").toDouble)
          .select("station_id", "name").head()
        val gridKey = s"rainfall_${st.getLong(0)}_${st.getString(1)}_MDPA"
        spark.read.parquet(a("series-index"))
          .filter(col("grid_id") === gridKey && col("method") === "MME")
          .select("id").head().getString(0)
      } else a("id")
    val series = Sources.parquetSeries(spark, a("series"), seriesId, start, end)
    val deck = RainDeck.lines(spark, series, start, end, model)
    CliArgs.writeDeck(deck, s"${a("d")}/RAIN.DAT", "RAIN", start)
  }
}

/** INFLOW.DAT generator (reference: input/inflow/gen_150_inflow.py). */
object GenInflow {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("gen_inflow")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val series = Sources.parquetSeries(spark, a("series"), a("id"), a("s"), a("e"))
    // flo2d_250 decks carry the observed-WL R rows (gen_250_inflow.py:107-133)
    val deck =
      if (a.get("m").contains("flo2d_250")) {
        val obsWl = a.get("obs").flatMap { obsPath =>
          Sources.firstValueInWindow(
            spark.read.parquet(obsPath).filter(col("id") === a("wl-id")),
            a("s"), windowHours = 10)
        }
        InflowDeck.lines250(spark, series, obsWl)
      } else InflowDeck.lines(spark, series)
    CliArgs.writeDeck(deck, s"${a("d")}/INFLOW.DAT", "INFLOW", a("s"))
  }
}

/** OUTFLOW.DAT generator (reference: input/outflow/gen_outflow.py).
  * `--tides` parquet (id,cell,time,value); `--boundaries` ordered cells CSV
  * string; `--kcells` K-card cells. */
object GenOutflow {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("gen_outflow")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    import spark.implicits._
    val rawTides = spark.read.parquet(a("tides"))
      .filter(col("time").between(
        lit(a("s")).cast("timestamp"), lit(a("e")).cast("timestamp")))
      .select("cell", "time", "value")
    // --config: the reference's boundary-cell → tide-grid dict JSON
    // (config_150_v2.json); --boundaries: cells as a CSV flag with tides
    // already keyed by boundary cell
    val (boundaries, tides) = a.get("config") match {
      case Some(cfgPath) =>
        val b = OutflowConfig.boundariesFromJson(spark, cfgPath,
          a.getOrElse("config-key", "tide_ids_150_v2"))
        (b.select("block_order", "cell"),
          OutflowConfig.tidesForBoundaries(rawTides, b))
      case None =>
        (a("boundaries").split(',').zipWithIndex
          .map { case (c, i) => (i, c) }.toSeq.toDF("block_order", "cell"),
          rawTides)
    }
    val deck = OutflowDeck.lines(spark, boundaries, tides,
      a.getOrElse("kcells", "").split(',').filter(_.nonEmpty).toSeq)
    CliArgs.writeDeck(deck, s"${a("d")}/OUTFLOW.DAT", "OUTFLOW", a("s"))
  }
}

/** RAINCELL.DAT generator (reference: input/raincell/gen_raincell.py).
  * `--cells` parquet (time,cell_id,value); window clamped to available data
  * (F7) before generation. */
object GenRaincell {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("gen_raincell")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val model = a.getOrElse("m", "flo2d_250")
    CliArgs.validateWindow(a("s"), a("e"), model)
    val cells = spark.read.parquet(a("cells"))
    // F7 clamp: end = min(end, max available time) (gen_raincell.py:109-115)
    val end = Sources.maxTime(cells) match {
      case Some(mx) if mx.before(java.sql.Timestamp.valueOf(a("e"))) =>
        mx.toString.stripSuffix(".0")
      case _ => a("e")
    }
    val deck = RaincellDeck.lines(spark, cells, a("s"), end, model)
    CliArgs.writeDeck(deck, s"${a("d")}/RAINCELL.DAT", "RAINCELL", a("s"))
  }
}

/** CHAN.DAT generator (reference: input/chan/gen_chan.py). */
object GenChan {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("gen_chan")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val pairs = spark.read.option("header", "true").csv(a("body"))
      .select(col("pair_idx").cast("int"), col("up"), col("up_default"),
        col("down"), col("down_default"))
    val conditions = Sources.initialConditionsCsv(spark, a("conditions"))
      .select(col("grid_id"), col("wl_id"), col("wl_id_dwn"))
    val obs = spark.read.parquet(a("obs"))
    // S4: first observed WL in [start, start+2h] per id (gen_chan.py:153-159)
    val s = lit(a("s")).cast("timestamp")
    val firstWl = obs
      .filter(col("time").between(s, s + expr("INTERVAL 2 HOURS")))
      .groupBy(col("id").as("wl_id"))
      .agg(expr("min_by(value, time)").cast("string").as("wl"))
    val head = CliArgs.readLines(a("head"))
    val tail = CliArgs.readLines(a("tail"))
    val deck = ChanDeck.lines(spark, a.getOrElse("m", "flo2d_150_v2"),
      pairs, conditions, firstWl, head, tail)
    CliArgs.writeDeck(deck, s"${a("d")}/CHAN.DAT", "CHAN", a("s"))
  }
}

/** HYCHAN/TIMDEP → forecast-store extraction (reference:
  * output/extract_water_level.py, output/extract_discharge.py via
  * `--value-index 4`).
  *
  * Evaluate-once contract: the enriched batch (parsed, densified,
  * cell-mapped, series ids attached) is persisted before its first use and
  * feeds the forecast upsert and then one aggregate, which runs the
  * station-dimension check and the run-table rows together, from that one
  * evaluation. It is released in a `finally` when the bookkeeping returns
  * or throws, so a cron service running one extraction after another keeps
  * no batch cached between runs. Without `--fgt`, the forecast time is
  * HYCHAN's modification time on its Hadoop file system. */
object ExtractForecast {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("extract_forecast")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val valueIndex = a.getOrElse("value-index", "1").toInt
    val cutoff = a.get("cutoff")
    // reference config key `utc_offset` ('' = no shift), extract_water_level.py:352-354
    val utcOffset = a.getOrElse("utc-offset", "")
    val fgt = a.getOrElse("fgt",
      SlTime.utcToSl(new java.sql.Timestamp(
        ExtractPipeline.modifiedAt(spark, a("hychan")))).toString.stripSuffix(".0"))
    val channelMap = Sources.cellMapJson(spark, a("cellmap"), "CHANNEL")
    val ch = ExtractPipeline.channelSeries(
      spark, a("hychan"), a("base"), channelMap, valueIndex, cutoff, utcOffset)
    val all = a.get("timdep").zip(a.get("floodmap")).headOption match {
      case Some((timdep, floodmap)) =>
        val fp = ExtractPipeline.floodPlainSeries(
          spark, timdep, a("base"), Sources.cellMapJson(spark, floodmap, "FLOOD_PLAIN"),
          cutoff, utcOffset)
        ch.unionByName(fp)
      case None => ch
    }
    val enriched = ExtractPipeline.withSeriesIds(
      all, a.getOrElse("m", "flo2d_150_v2"), a.getOrElse("sim-tag", "daily_run"), fgt)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      ExtractPipeline.upsertForecast(enriched, a("url"), a.getOrElse("table", "data"),
        if (a.get("dialect").contains("mysql")) JdbcUpsertSink.MySqlDialect
        else JdbcUpsertSink.UpdateInsertDialect)
      // run bookkeeping: with --station-type the first extraction registers the
      // reference's full run row (station/source/unit/variable ids resolved
      // from the dim store); without it, the simplified 3-column run table
      a.get("run-table").foreach { runTable =>
        a.get("station-type") match {
          case Some(stType) =>
            val stations = graft.io.FcstDims.outputStations(
              a("url"), stType, a.getOrElse("station-table", "station"))
            val dims = graft.io.FcstDims.RunDimIds(
              a.getOrElse("sim-tag", "daily_run"),
              a.getOrElse("source-id", "0").toLong,
              a.getOrElse("unit-id", "0").toLong,
              a.getOrElse("variable-id", "0").toLong)
            // one aggregate: the station check and the run rows together
            ExtractPipeline.updateRunTableFull(
              ExtractPipeline.stationColumns(enriched, stations), a("url"), runTable, dims)
          case None =>
            ExtractPipeline.updateRunTable(enriched, a("url"), runTable)
        }
      }
    } finally enriched.unpersist()
    // K5: event-sim template archive from the deck dir's file list, then
    // K3: one run_metadata row carrying run_meta.json + the blob
    // (reference: output/extract_water_level.py:339-341,589-591)
    val blob = a.get("archive-dir").map { deckDir =>
      val names = a.get("archive-list")
        .map(p => CliArgs.readLines(p).map(_.trim).filter(_.nonEmpty))
        .getOrElse(new java.io.File(deckDir).list().filter(_.endsWith(".DAT")).toSeq.sorted)
      val tmp = Files.createTempFile("template", ".tar.gz")
      try {
        graft.io.TarGzArchive.createFromDir(tmp.toString, deckDir, names)
        Files.readAllBytes(tmp)
      } finally Files.deleteIfExists(tmp)
    }
    a.get("meta-table").foreach { metaTable =>
      val metaJson = a.get("run-meta")
        .filter(p => Files.exists(Paths.get(p)))
        .map(p => Files.readString(Paths.get(p)))
        .getOrElse("{}")
      JdbcUpsertSink.insertRunMetadata(a("url"), metaTable,
        a.getOrElse("source-id", "0").toLong, a.getOrElse("variable-id", "0").toLong,
        a.getOrElse("sim-tag", "daily_run"), java.sql.Timestamp.valueOf(fgt),
        metaJson, blob)
    }
  }
}

/** Dimension bootstrap (reference: init/init.py): station rows from the
  * grid CSV × cell-map JSON (J2 positional lookup join), optionally
  * registered into a forecast store with the source's parameters JSON —
  * the full init surface (add_source + add_station loops,
  * init/init.py:63-100). */
object InitDims {
  def main(args: Array[String]): Unit =
    CliArgs.withSession("init_dims")(run(_, CliArgs.parse(args)))

  def run(spark: SparkSession, a: Map[String, String]): Unit = {
    val grid = Sources.gridCsv(spark, a("grid"))
    val kind = a.getOrElse("kind", "CHANNEL")
    val cells = Sources.cellMapJson(spark, a("cellmap"), kind)
    val stations = cells
      .join(broadcast(grid), cells("cell_no").cast("int") === grid("grid_id"))
      .select(
        col("cell_no"),
        concat_ws("_", col("cell_no"), col("label")).as("name"),
        col("lat").as("latitude"), col("lon").as("longitude"),
        col("kind").as("station_type"))
    a.get("d").foreach(d =>
      stations.write.mode("overwrite").parquet(s"$d/stations.parquet"))

    // --url: register source (with the whole cell-map JSON as parameters,
    // init.py:80), variable, unit, and each station with "%.6f" coordinates
    // and the reference's description shape (init.py:86-100)
    a.get("url").foreach { url =>
      val model = a.getOrElse("model", "FLO2D")
      val version = a.getOrElse("version", "150_v2")
      val stationType = a.getOrElse("station-type",
        s"${model.toLowerCase}_$version")
      val parametersJson = java.nio.file.Files.readString(
        java.nio.file.Paths.get(a("cellmap")))
      val sourceId = FcstDims.ensureSource(url, model, version, parametersJson,
        a.getOrElse("source-table", "source"))
      val variableId = FcstDims.ensureVariable(url,
        a.getOrElse("variable", "WaterLevel"), a.getOrElse("variable-table", "variable"))
      val unitId = FcstDims.ensureUnit(url, a.getOrElse("unit", "m"),
        a.getOrElse("unit-type", "Instantaneous"), a.getOrElse("unit-table", "unit"))
      val rows = stations
        .select("name", "latitude", "longitude").collect().map { r =>
          FcstDims.StationRow(r.getString(0),
            f"${r.getDouble(1)}%.6f", f"${r.getDouble(2)}%.6f",
            stationType,
            s"${stationType}_${kind.toLowerCase}_cell_map_element")
        }.toSeq
      val ids = FcstDims.ensureStations(url, rows,
        a.getOrElse("station-table", "station"))
      println(s"[init] source=$sourceId variable=$variableId unit=$unitId " +
        s"stations=${ids.size}")
    }
  }
}
