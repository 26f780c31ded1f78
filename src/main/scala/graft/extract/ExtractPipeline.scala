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
  * last one returns or throws — [[graft.cli.ExtractForecast]] does, so each
  * output file is read once per extraction and the densify runs once, not
  * once per consumer. Its bookkeeping is one action too:
  * [[updateRunTableFull]] over [[stationColumns]] runs the station check
  * and the run-row aggregate together. Each series builder collects its
  * cell map once; the parse, labels and densify take the station set from
  * that one collect.
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
    val cells = cellsOf(cellMap)
    enrich(FloOutputParsers.parseHychanFile(spark, hychanPath, valueIndex, Some(cells.keySet)),
      baseTime, cells, cutoff, utcOffset)
  }

  /** Flood-plain series from TIMDEP.OUT, densified with −999 for stations
    * missing from a block (reference: output/extract_water_level.py:560-566). */
  def floodPlainSeries(spark: SparkSession, timdepPath: String, baseTime: String,
      cellMap: DataFrame, cutoff: Option[String] = None,
      utcOffset: String = ""): DataFrame = {
    val cells = cellsOf(cellMap)
    val parsed = FloOutputParsers.parseTimdepFile(spark, timdepPath,
      stations = Some(cells.keySet))
    enrich(FloOutputParsers.densify(parsed, cells.keys.toSeq), baseTime, cells,
      cutoff, utcOffset)
  }

  /** A cell map `(cell_no, label, kind)` on the driver, keyed by cell_no (a
    * JSON map's keys, so unique). It is a station map: collected once per
    * series, it filters the parse and labels the rows as literals. */
  private def cellsOf(cellMap: DataFrame): Map[String, (String, String)] =
    cellMap.select(col("cell_no").cast("string"), col("label").cast("string"),
        col("kind").cast("string"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

  /** When `path` — a plain path or a `file:`, `hdfs:` or `s3a:` URI — was
    * last modified (epoch ms) on its Hadoop file system: an extraction's
    * default forecast time. Fails naming the path when nothing is there. */
  def modifiedAt(spark: SparkSession, path: String): Long =
    try graft.io.LakeMerge.hadoopFs(spark, path)
      .getFileStatus(new org.apache.hadoop.fs.Path(path)).getModificationTime
    catch { case _: java.io.FileNotFoundException =>
      throw new IllegalArgumentException(s"[extract] no such file: $path") }

  /** `utcOffset` is the reference's `[+-]HH:MM` config string (empty = no
    * shift, like getUTCOffset's default=True path): every series point moves
    * by the offset BEFORE the horizon filter, so `cutoff` is compared in
    * post-shift wall-clock — the reference shifts its extract boundary the
    * same way (output/extract_water_level.py:176-191). */
  private def enrich(parsed: DataFrame, baseTime: String,
      cells: Map[String, (String, String)], cutoff: Option[String],
      utcOffset: String): DataFrame = {
    val cell = typedLit(cells).apply(col("element"))
    val withStation = parsed.filter(col("element").isin(cells.keys.toSeq: _*))
      .withColumn("label", cell("_1")).withColumn("kind", cell("_2"))
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
    * dim FAIL LOUDLY, here at once: the reference would NPE on
    * `flo2d_stations.get(...)`; silently dropping a station's series is
    * worse than either. */
  def withStationDims(series: DataFrame,
      stations: Map[String, (Long, String, String)]): DataFrame = {
    val patched = stationColumns(series, stations)
    requireStations(patched.filter(col("station_id").isNull)
      .select("element").distinct().limit(6).collect().map(_.getString(0)))
    patched
  }

  /** [[withStationDims]]'s columns, unchecked and lazy: the station dim is
    * dimension-sized, so it rides in the plan as a literal map, not a join.
    * [[updateRunTableFull]] runs the same check in its own aggregate. */
  def stationColumns(series: DataFrame,
      stations: Map[String, (Long, String, String)]): DataFrame = {
    val station = typedLit(stations).apply(col("element"))
    series.withColumn("station_id", station("_1"))
      .withColumn("latitude", station("_2"))
      .withColumn("longitude", station("_3"))
  }

  /** The station check: fails naming up to five of `missing`, the elements
    * that have no registered output station. */
  private def requireStations(missing: Seq[String]): Unit = {
    val names = missing.distinct.sorted
    if (names.nonEmpty)
      throw new IllegalArgumentException(
        "[extract] elements with no registered output station: " +
          names.take(5).mkString(", ") + (if (names.length > 5) ", …" else "") +
          " — run InitDims registration first")
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
    * `series` must carry `station_id` (see [[stationColumns]]); station_id
    * is functionally dependent on tms_id (one element per series), so the
    * per-series aggregate takes its max only to satisfy the grouping. That
    * one aggregate also runs the station check, before any run row is
    * written. */
  def updateRunTableFull(series: DataFrame, url: String, runTable: String,
      dims: graft.io.FcstDims.RunDimIds,
      props: java.util.Properties = new java.util.Properties()): Unit = {
    val rows = series.groupBy("tms_id")
      .agg(max("fgt").as("fgt"), min("time").as("start"),
        max("station_id").as("station_id"), max("element").as("element"))
      .collect()
    requireStations(rows.filter(_.isNullAt(3)).map(_.getString(4)).toSeq)
    val perSeries = rows
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
