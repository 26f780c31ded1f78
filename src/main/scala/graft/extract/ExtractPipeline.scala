package graft.extract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.JdbcUpsertSink
import graft.ops.TimeSeriesOps

/** FLO-2D output → forecast-store pipeline — SURVEY.md §3.3, §7 step 6.
  *
  * Composition of the extract operators: block parse (S7/S8) → cell-map
  * membership (F6, broadcast) → model-hours → wall clock (X2) → optional
  * forecast-horizon filter (F2) → series-id derivation (X14) → keyed upsert
  * (K2). Mirrors output/extract_water_level.py:374-523 and
  * output/extract_discharge.py end to end, minus the per-element Python loop:
  * one distributed plan handles every element.
  *
  * Evaluate-once contract: [[upsertForecast]], [[withStationDims]] and
  * [[updateRunTable]] / [[updateRunTableFull]] each run one action over the
  * frame they are given and cache nothing themselves. A caller that feeds
  * one batch to several of them persists it first and releases it when the
  * last one returns or throws — [[graft.cli.ExtractForecast]] does, so the
  * parse, densify and cell-map joins run once per extraction, not once per
  * consumer.
  */
object ExtractPipeline {

  /** Channel series from HYCHAN.OUT: one row per (station, time).
    *
    * `cellMap` is (cell_no, label, kind) — only elements present in the map
    * survive (reference: output/extract_water_level.py:466-472). `valueIndex`
    * 1 = water level, 4 = discharge.
    */
  def channelSeries(spark: SparkSession, hychanPath: String, baseTime: String,
      cellMap: DataFrame, valueIndex: Int = 1,
      cutoff: Option[String] = None, utcOffset: String = ""): DataFrame = {
    // single regular file → carry-based parallel parse (no per-file sort);
    // glob/dir inputs → the window path, which parallelizes across files
    val parsed =
      if (new java.io.File(hychanPath).isFile)
        FloOutputParsers.parseHychanFile(spark, hychanPath, valueIndex)
      else FloOutputParsers.parseHychan(
        FloOutputParsers.readLines(spark, hychanPath), valueIndex)
    enrich(parsed, baseTime, cellMap, cutoff, utcOffset)
  }

  /** Flood-plain series from TIMDEP.OUT, densified with −999 for stations
    * missing from a block (reference: output/extract_water_level.py:560-566). */
  def floodPlainSeries(spark: SparkSession, timdepPath: String, baseTime: String,
      cellMap: DataFrame, cutoff: Option[String] = None,
      utcOffset: String = ""): DataFrame = {
    val parsed =
      if (new java.io.File(timdepPath).isFile)
        FloOutputParsers.parseTimdepFile(spark, timdepPath)
      else FloOutputParsers.parseTimdep(
        FloOutputParsers.readLines(spark, timdepPath))
    val filled = FloOutputParsers.fillMissing(
      parsed, cellMap.select(col("cell_no").as("element")))
    enrich(filled, baseTime, cellMap, cutoff, utcOffset)
  }

  /** `utcOffset` is the reference's `[+-]HH:MM` config string (empty = no
    * shift, like getUTCOffset's default=True path): every series point moves
    * by the offset BEFORE the horizon filter, so `cutoff` is compared in
    * post-shift wall-clock — the reference shifts its extract boundary the
    * same way (output/extract_water_level.py:176-191). */
  private def enrich(parsed: DataFrame, baseTime: String, cellMap: DataFrame,
      cutoff: Option[String], utcOffset: String = ""): DataFrame = {
    val withStation = parsed
      .join(broadcast(cellMap), parsed("element") === cellMap("cell_no"))
    val timed = FloOutputParsers.stepToTimestamp(withStation, baseTime,
      offsetMicros = FloOutputParsers.utcOffsetMicros(utcOffset))
    cutoff.fold(timed)(c => TimeSeriesOps.horizonFilter(timed, lit(c).cast("timestamp")))
      .select(col("element"), col("label"), col("kind"), col("time"), col("value"))
  }

  /** Attach the forecast-store series id: sha256 over (model, method/simTag,
    * element) — the engine-side `generate_timeseries_id` (X14; reference call
    * site: output/extract_water_level.py:206-217) — plus the run's `fgt`. */
  def withSeriesIds(series: DataFrame, model: String, simTag: String,
      fgt: String): DataFrame =
    series
      .withColumn("tms_id",
        TimeSeriesOps.seriesHashId(lit(model), lit(simTag), col("element")))
      .withColumn("fgt", lit(fgt).cast("timestamp"))

  /** The reference's per-element station patch
    * (output/extract_water_level.py:200-203): each series row picks up its
    * output station's id and "%.6f" coordinates from the station dim, keyed
    * by the element number leading the station name — the shape
    * [[graft.io.FcstDims.outputStations]] returns. Elements missing from the
    * dim FAIL LOUDLY: the reference would NPE on `flo2d_stations.get(...)`;
    * silently dropping a station's series is worse than either. */
  def withStationDims(series: DataFrame,
      stations: Map[String, (Long, String, String)]): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val dim = stations.toSeq.map { case (el, (id, lat, lon)) => (el, id, lat, lon) }
      .toDF("element", "station_id", "latitude", "longitude")
    val joined = series.join(broadcast(dim), Seq("element"), "left")
    val missing = joined.filter(col("station_id").isNull)
      .select("element").distinct().limit(6).collect().map(_.getString(0))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        "[extract] elements with no registered output station: " +
          missing.take(5).mkString(", ") + (if (missing.length > 5) ", …" else "") +
          " — run InitDims registration first")
    joined
  }

  /** Sink the enriched frame into the forecast store keyed
    * `(tms_id, fgt, time)` — idempotent under re-extraction (K2). */
  def upsertForecast(series: DataFrame, url: String, table: String,
      dialect: JdbcUpsertSink.Dialect = JdbcUpsertSink.MySqlDialect,
      props: java.util.Properties = new java.util.Properties()): Unit =
    JdbcUpsertSink.upsert(
      series.select(col("tms_id"), col("fgt"), col("time"), col("value")),
      url, table, keyCols = Seq("tms_id", "fgt", "time"), valueCols = Seq("value"),
      dialect = dialect, props = props)

  /** Post-upsert run bookkeeping: per series, bump `latest_fgt` and pull
    * `start_date` back to the earliest written point (reference:
    * output/extract_water_level.py:214-217). One aggregate over the batch
    * (dimension-sized result), then driver-side row updates.
    *
    * Series the run table has never seen are REGISTERED first (the
    * reference's insert_run path on a station's first extraction,
    * output/extract_water_level.py:206-213) and bookkeeping re-applied —
    * a first extraction must end with a run row, not a skipped log line. */
  def updateRunTable(series: DataFrame, url: String, runTable: String,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val perSeries = series.groupBy("tms_id")
      .agg(max("fgt").as("fgt"), min("time").as("start"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2)))
      .toSeq
    val missing = JdbcUpsertSink.updateRunBookkeeping(url, runTable, perSeries, props)
    if (missing.nonEmpty) {
      val missingSet = missing.toSet
      val toRegister = perSeries.filter(r => missingSet.contains(r._1))
      JdbcUpsertSink.registerRuns(url, runTable, toRegister, props)
      // re-apply: a raced registration may hold another writer's fgt/start
      val still = JdbcUpsertSink.updateRunBookkeeping(url, runTable, toRegister, props)
      if (still.nonEmpty)
        throw new IllegalStateException(
          s"[extract] ${still.length} series could not be registered in $runTable: " +
            still.take(5).mkString(", ") + (if (still.length > 5) ", …" else ""))
    }
  }

  /** Full-schema run bookkeeping: like [[updateRunTable]], but first-time
    * registrations carry the reference's complete run row — sim_tag and the
    * station/source/unit/variable dimension ids
    * (output/extract_water_level.py:206-217 insert_run with tms_meta).
    * `series` must already carry `station_id` (see [[withStationDims]]);
    * station_id is functionally dependent on tms_id (one element per
    * series), so the per-series aggregate takes its max only to satisfy the
    * grouping. */
  def updateRunTableFull(series: DataFrame, url: String, runTable: String,
      dims: graft.io.FcstDims.RunDimIds,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val perSeries = series.groupBy("tms_id")
      .agg(max("fgt").as("fgt"), min("time").as("start"),
        max("station_id").as("station_id"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSeq
    val bookkeeping = perSeries.map(r => (r._1, r._2, r._3))
    val missing = JdbcUpsertSink.updateRunBookkeeping(url, runTable, bookkeeping, props)
    if (missing.nonEmpty) {
      val missingSet = missing.toSet
      val toRegister = perSeries.filter(r => missingSet.contains(r._1)).map {
        case (tmsId, fgt, start, stationId) =>
          JdbcUpsertSink.RunRow(tmsId, fgt, start, stationId,
            dims.simTag, dims.sourceId, dims.unitId, dims.variableId)
      }
      JdbcUpsertSink.registerRunsFull(url, runTable, toRegister, props)
      val still = JdbcUpsertSink.updateRunBookkeeping(url, runTable,
        toRegister.map(r => (r.tmsId, r.fgt, r.startDate)), props)
      if (still.nonEmpty)
        throw new IllegalStateException(
          s"[extract] ${still.length} series could not be registered in $runTable: " +
            still.take(5).mkString(", ") + (if (still.length > 5) ", …" else ""))
    }
  }
}
