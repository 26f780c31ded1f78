package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Input connectors — SURVEY.md §2.1, §7 step 2.
  *
  * Every reader returns a plain DataFrame so the ops/decks layers compose;
  * time-series scans keep their predicates in the read so pushdown (JDBC or
  * parquet) prunes server-/file-side, exactly like the reference's
  * WHERE-clause-in-proc pattern (reference: input/inflow/gen_150_inflow.py:97-98).
  */
object Sources {

  /** Grid-cell coordinate CSV `Grid_ID,X(lon),Y(lat)` (S6; reference:
    * res/grids/flo2d_150_v2m.csv:1-4, init/init.py:75). */
  def gridCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(
        col("Grid_ID").cast("int").as("grid_id"),
        col("X").cast("double").as("lon"),
        col("Y").cast("double").as("lat"))

  /** Station cell-map JSON `{cell_no: label}` per kind (S9/X13; reference:
    * res/flo2d_extract_stations/flo2d_150_v2.json,
    * output/extract_water_level.py:400-402). Returns (cell_no, label, kind). */
  def cellMapJson(spark: SparkSession, path: String, kind: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(from_json(col("value"), MapType(StringType, StringType)).as("m"))
      .select(explode(col("m")).as(Seq("cell_no", "label")))
      .withColumn("kind", lit(kind))

  /** Initial-conditions CSV `grid_id,up,down,wl_id,wl_id_dwn` (reference:
    * res/flo2d_150_v2/initial_conditions.csv:1-3, input/chan/gen_chan.py:129). */
  def initialConditionsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)
      .select(col("grid_id"),
        col("up"), col("down"),
        col("wl_id"), col("wl_id_dwn"))

  /** JSONL corpus ingest with corrupt-record capture — the read-side twin
    * of CorpusPrep's `--export-jsonl` sink (E68) and the shape a crawl
    * delivery lands in. PERMISSIVE mode routes unparseable lines into
    * `_corrupt_record` instead of failing the 100 TB job on one bad shard
    * (FAILFAST) or silently dropping rows (DROPMALFORMED — the dangerous
    * default instinct: at corpus scale, silent loss is unauditable).
    * Returns (good, bad): `good` has the schema's columns for rows that
    * parsed clean; `bad` carries the raw offending line for quarantine +
    * reconciliation counts. One scan feeds both (cache if both sides get
    * actions). Schema is explicit — inference would scan twice and infer
    * from corrupt lines too. */
  def readJsonlCorpus(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", StringType)
    // persisted by contract: Spark refuses corrupt-column-only queries
    // against the raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the
    // cache also makes good+bad one scan instead of two. Caller unpersists
    // via either branch's lineage when done (same documented contract as
    // tfIdf's intermediate).
    val raw = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = raw.filter(col("_corrupt_record").isNull)
      .select(schema.fieldNames.map(col).toSeq: _*)
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }

  /** Keyed time-series range scan over a JDBC store (S1/F1): the id+time
    * predicates are part of the pushed query, so the server returns only the
    * slice — one round-trip replacing the reference's per-call procs.
    *
    * SINGLE-PARTITION contract: this overload opens ONE connection and
    * streams the whole slice through it — correct and right-sized for its
    * reference use (one series' window, at most thousands of rows), wrong
    * for fat tables. Scans that return more than one executor's worth of
    * rows belong on the partitioned overload below (or on the parquet
    * SeriesLake, the 100 TB path). */
  def jdbcSeries(spark: SparkSession, url: String, table: String,
      id: String, start: String, end: String,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)
      .filter(col("id") === id &&
        col("time").between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))
      .select(col("time"), col("value"))

  /** Partitioned JDBC range scan for fat tables: `numPartitions` parallel
    * connections, each reading one stride of `partitionColumn` (a numeric
    * column; Spark appends the stride predicates server-side, and the
    * id/time filters still push down into every partition's query). Use
    * when a single slice exceeds one executor's memory or one connection's
    * throughput — the partitioned sibling of the single-connection
    * overload above. */
  def jdbcSeriesPartitioned(spark: SparkSession, url: String, table: String,
      id: String, start: String, end: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
        numPartitions, props)
      .filter(col("id") === id &&
        col("time").between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))
      .select(col("time"), col("value"))

  /** Parquet time-series range scan — same contract as `jdbcSeries` for
    * file-resident series lakes; predicate reaches the parquet row groups. */
  def parquetSeries(spark: SparkSession, path: String,
      id: String, start: String, end: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("id") === id &&
        col("time").between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))
      .select(col("time"), col("value"))

  /** Max-time lookup (S2/A1; reference: input/raincell/gen_raincell.py:100-102):
    * the scan-clamping scalar. Each task reduces its own rows and the driver
    * the per-task maxima: one job, where a global aggregate adds an exchange
    * stage. */
  def maxTime(series: DataFrame, timeCol: String = "time"): Option[java.sql.Timestamp] = {
    def later(a: Option[java.sql.Timestamp], b: Option[java.sql.Timestamp]) =
      if (a.isEmpty || b.exists(_.after(a.get))) b else a
    series.select(col(timeCol).cast("timestamp")).rdd
      .aggregate(Option.empty[java.sql.Timestamp])(
        (m, r) => later(m, Option(r.getTimestamp(0))), later)
  }

  /** First value in `[start, start+window]` (S4; reference:
    * input/chan/gen_chan.py:68-75): min_by keeps it a single aggregate, no
    * sort+limit. */
  def firstValueInWindow(series: DataFrame, start: String, windowHours: Int,
      timeCol: String = "time", valueCol: String = "value"): Option[Double] = {
    val s = lit(start).cast("timestamp")
    val row = series
      .filter(col(timeCol).between(s, s + expr(s"INTERVAL $windowHours HOURS")))
      .agg(expr(s"min_by($valueCol, $timeCol)").as("v")).head
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  /** Nearest station to (lat, lon) (S5; reference: input/rain/gen_rain.py:125-131):
    * distance + deterministic argmin over the (broadcast-sized) station dim. */
  def nearestStation(stations: DataFrame, lat: Double, lon: Double,
      latCol: String = "lat", lonCol: String = "lon"): DataFrame = {
    val d2 = (col(latCol) - lit(lat)) * (col(latCol) - lit(lat)) +
      (col(lonCol) - lit(lon)) * (col(lonCol) - lit(lon))
    stations.withColumn("__d2", d2)
      .orderBy(col("__d2"), col(stations.columns.head))
      .limit(1)
      .drop("__d2")
  }
}
