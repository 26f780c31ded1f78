package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.{ExtractForecast, GenChan, GenInflow, GenOutflow, GenRain, GenRaincell}
import graft.io.{FcstDims, LakeMerge}

/** One flo2d_150_v2 production day, end to end: the five deck CLIs, the
  * HYCHAN/TIMDEP extraction into the forecast store, and the lake upsert of
  * the extracted series.
  *
  * Inputs are generated from the seed with values that are exact decimals,
  * so every count and every sampled value is known by construction. The
  * in-memory Derby store stands in for the production MySQL store. */
final class FloodDay(spark: SparkSession, seed: Long, inDir: String) extends Workload {
  import FloodDay._

  private val url = s"jdbc:derby:memory:perfbench_$seed;create=true"
  private val rng = new java.util.SplittableRandom(seed)
  // 200 channel elements in HYCHAN (31 of them stations), 20 flood-plain
  // stations picked from the grid
  private val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
    .shuffle((1 to Cells).toVector)
  private val channelElems = shuffled.take(ChannelElements).sorted
  private val channelStations = channelElems.take(ChannelStations)
  private val floodStations = shuffled.slice(ChannelElements, ChannelElements + FloodStations).sorted
  private val stations = channelStations ++ floodStations
  private val tmsIds: Map[Int, String] = stations.map(e => e -> tmsId(e.toString)).toMap

  private def deckDir = s"$inDir/decks"
  private var lakeDir = ""
  private var dims = Map.empty[String, String]

  def units: Double = (raincellLines + smallDeckLines + Points).toDouble

  def generate(): Unit = {
    val dir = inDir
    deleteTree(Paths.get(dir))
    Files.createDirectories(Paths.get(dir))
    // RAINCELL input: one value per (cell, 15-min step)
    spark.range(1, Cells + 1L).withColumnRenamed("id", "cell")
      .crossJoin(spark.range(1, RaincellSteps + 1L).withColumnRenamed("id", "step"))
      .select(
        timestamp_seconds(lit(Timestamp.valueOf(Start).getTime / 1000) + col("step") * 900L)
          .as("time"),
        col("cell").cast("int").as("cell_id"), rainValue(col("cell"), col("step")).as("value"))
      .write.parquet(s"$dir/cells.parquet")
    // RAIN: 5-min series over the 4-day window, plus a second series the
    // CLI must filter out
    val rain = for (id <- Seq("rain_a", "rain_b"); k <- 1 to WindowHours * 12)
      yield (id, tsv(k * 5), centi(1, k) / 100.0)
    import spark.implicits._
    rain.toDF("id", "time", "value").write.parquet(s"$dir/rain.parquet")
    val inflow = (0 to WindowHours).map(h => ("inflow_a", tsv(h * 60), centi(2, h) / 10.0))
    inflow.toDF("id", "time", "value").write.parquet(s"$dir/inflow.parquet")
    val tides = for (b <- Boundaries; h <- 0 to WindowHours)
      yield (b.toString, tsv(h * 60), centi(b, h) / 1000.0)
    tides.toDF("cell", "time", "value").write.parquet(s"$dir/tides.parquet")
    writeChanInputs(dir)
    writeHychan(s"$dir/HYCHAN.OUT")
    writeTimdep(s"$dir/TIMDEP.OUT")
    writeJson(s"$dir/chan_map.json", channelStations)
    writeJson(s"$dir/fp_map.json", floodStations)
    preloadStores(dir)
  }

  private def writeChanInputs(dir: String): Unit = {
    val body = new StringBuilder("pair_idx,up,up_default,down,down_default\n")
    val cond = new StringBuilder("grid_id,up,down,wl_id,wl_id_dwn\n")
    (0 until ChanPairs).foreach { p =>
      val up = channelElems(p % channelElems.size)
      val down = channelElems((p + 1) % channelElems.size)
      body ++= s"$p,$up,${centi(3, p) / 100.0},$down,${centi(4, p) / 100.0}\n"
      if (p % 3 == 0) cond ++= s"flo2d_150_v2_${up}_$down,$up,$down,wl_$p,wl_${p + 1}\n"
    }
    Files.writeString(Paths.get(s"$dir/chan_body.csv"), body)
    Files.writeString(Paths.get(s"$dir/chan_conditions.csv"), cond)
    Files.writeString(Paths.get(s"$dir/chan_head.txt"), ChanHead.mkString("\n") + "\n")
    Files.writeString(Paths.get(s"$dir/chan_tail.txt"), ChanTail.mkString("\n") + "\n")
    import spark.implicits._
    (0 until ChanPairs + 1).flatMap(p => (0 to 4).map(h =>
      (s"wl_$p", tsv(h * 30), centi(5, p * 10 + h) / 100.0)))
      .toDF("id", "time", "value").write.parquet(s"$dir/chan_obs.parquet")
  }

  /** HYCHAN.OUT: one block per channel element, one row per model hour. */
  private def writeHychan(path: String): Unit = withWriter(path) { w =>
    w.write(" FLO-2D CHANNEL HYDROGRAPHS\n")
    channelElems.foreach { el =>
      w.write(s"     CHANNEL HYDROGRAPH FOR ELEMENT NO:    $el\n")
      w.write("   TIME      ELEV     DEPTH   VELOC   DISCHARGE\n")
      (1 to ModelHours).foreach { h =>
        w.write(s"   $h.00    ${dec2(chanValue(el, h))}    0.00   0.00   ${dec2(h * 3L + el % 50)}\n")
      }
    }
  }

  /** TIMDEP.OUT: one block per model hour listing every grid cell. */
  private def writeTimdep(path: String): Unit = withWriter(path) { w =>
    val sb = new java.lang.StringBuilder(64)
    (1 to ModelHours).foreach { h =>
      w.write(s"   $h.00\n")
      (1 to Cells).foreach { c =>
        sb.setLength(0)
        sb.append("    ").append(c).append("   0.00   0.00   0.00   0.00   ")
          .append(dec2(fpValue(c, h))).append('\n')
        w.write(sb.toString)
      }
    }
  }

  private def writeJson(path: String, els: Seq[Int]): Unit =
    Files.writeString(Paths.get(path),
      els.map(e => s""""$e": "st_$e"""").mkString("{", ", ", "}"))

  /** Forecast store with its dimension rows, and a lake holding the prior
    * days' forecasts. */
  private def preloadStores(dir: String): Unit = {
    exec(Seq("DROP TABLE data", "DROP TABLE run", "DROP TABLE station", "DROP TABLE unit",
      "DROP TABLE variable", "DROP TABLE source"), ignoreErrors = true)
    exec(StoreDdl, ignoreErrors = false)
    val sourceId = FcstDims.ensureSource(url, "FLO2D", "150_v2", "{}")
    val variableId = FcstDims.ensureVariable(url, "WaterLevel")
    val unitId = FcstDims.ensureUnit(url, "m", "Instantaneous")
    FcstDims.ensureStations(url, stations.map(e => FcstDims.StationRow(s"${e}_st_$e",
      f"${6.9 + e / 1e6}%.6f", f"${79.9 + e / 1e6}%.6f", Model, "bench")))
    dims = Map("source-id" -> sourceId.toString, "variable-id" -> variableId.toString,
      "unit-id" -> unitId.toString)
    import spark.implicits._
    val prior = for (d <- 1 to PriorDays; e <- stations; h <- 1 to WindowHours)
      yield (tmsIds(e), tsv(-d * 24 * 60), tsv((h - d * 24) * 60), centi(6, d * 1000 + h) / 100.0)
    LakeMerge.writeLake(LakeMerge.withPartDate(
      prior.toDF("tms_id", "fgt", "time", "value")), s"$dir/lake_template")
  }

  override def reset(it: Iter): Unit = {
    exec(Seq("DELETE FROM data", "DELETE FROM run"), ignoreErrors = false)
    deleteTree(Paths.get(deckDir))
    Files.createDirectories(Paths.get(deckDir))
    if (lakeDir.nonEmpty) deleteTree(Paths.get(lakeDir))
    lakeDir = s"$inDir/lake_${it.index + 1}"
    copyTree(Paths.get(s"$inDir/lake_template"), Paths.get(lakeDir))
  }

  private var mergeStats: Option[LakeMerge.MergeStats] = None

  def iterate(it: Iter): Unit = {
    val window = Map("s" -> Start, "e" -> End, "m" -> Model, "d" -> deckDir)
    it.op("GenRaincell", "cli.gen_raincell") {
      GenRaincell.run(spark, Map("cells" -> s"$inDir/cells.parquet",
        "s" -> Start, "e" -> RaincellEnd, "m" -> Model, "d" -> deckDir))
    }
    it.op("GenRain", "cli.gen_small_decks/GenRain") {
      GenRain.run(spark, window ++ Map("series" -> s"$inDir/rain.parquet", "id" -> "rain_a"))
    }
    it.op("GenInflow", "cli.gen_small_decks/GenInflow") {
      GenInflow.run(spark, window ++ Map("series" -> s"$inDir/inflow.parquet", "id" -> "inflow_a"))
    }
    it.op("GenOutflow", "cli.gen_small_decks/GenOutflow") {
      GenOutflow.run(spark, window ++ Map("tides" -> s"$inDir/tides.parquet",
        "boundaries" -> Boundaries.mkString(","), "kcells" -> KCells.mkString(",")))
    }
    it.op("GenChan", "cli.gen_small_decks/GenChan") {
      GenChan.run(spark, window ++ Map("body" -> s"$inDir/chan_body.csv",
        "conditions" -> s"$inDir/chan_conditions.csv", "obs" -> s"$inDir/chan_obs.parquet",
        "head" -> s"$inDir/chan_head.txt", "tail" -> s"$inDir/chan_tail.txt"))
    }
    it.mark("deck_ready_s")
    val (ex, _) = it.op("ExtractForecast", "cli.extract_forecast") {
      ExtractForecast.run(spark, dims ++ Map(
        "hychan" -> s"$inDir/HYCHAN.OUT", "base" -> Base, "cellmap" -> s"$inDir/chan_map.json",
        "timdep" -> s"$inDir/TIMDEP.OUT", "floodmap" -> s"$inDir/fp_map.json",
        "fgt" -> Fgt, "m" -> Model, "sim-tag" -> SimTag, "url" -> url, "table" -> "data",
        "run-table" -> "run", "station-type" -> Model))
    }
    mergeStats = None
    if (ex.error.nonEmpty) it.skipped("LakeMerge", "extraction failed")
    else {
      val (_, stats) = it.op("LakeMerge", "lake.merge") {
        val fresh = spark.read.format("jdbc").option("url", url)
          .option("query", s"SELECT tms_id, fgt, time, value FROM data " +
            s"WHERE fgt = TIMESTAMP('$Fgt')")
          .load().toDF("tms_id", "fgt", "time", "value")
        LakeMerge.merge(spark, lakeDir, LakeMerge.withPartDate(fresh))
      }
      mergeStats = stats
    }
    it.mark("forecast_ready_s")
  }

  private val raincellLines = 1L + RaincellSteps.toLong * (Cells + 1)
  private val deckLines: Map[String, Long] = Map(
    "RAINCELL.DAT" -> raincellLines,
    "RAIN.DAT" -> (2L + WindowHours * 4),
    "INFLOW.DAT" -> (InflowHead + WindowHours.toLong),
    "OUTFLOW.DAT" -> (KCells.size + Boundaries.size * (2L + WindowHours)),
    "CHAN.DAT" -> (ChanHead.size + 2L * ChanPairs + ChanTail.size))
  private def smallDeckLines: Long = deckLines.values.sum - raincellLines

  def check(it: Iter): Unit = {
    val byName = it.ops.map(o => o.name -> o).toMap
    var lines = 0L
    var bytes = 0L
    Seq("GenRaincell" -> "RAINCELL.DAT", "GenRain" -> "RAIN.DAT", "GenInflow" -> "INFLOW.DAT",
      "GenOutflow" -> "OUTFLOW.DAT", "GenChan" -> "CHAN.DAT").foreach { case (op, file) =>
      val o = byName(op)
      val p = Paths.get(deckDir, file)
      if (o.error.isEmpty) {
        if (!Files.exists(p)) o.fail(s"$file not written")
        else {
          val n = countLines(p)
          lines += n
          bytes += Files.size(p)
          o.require(n == deckLines(file), s"$file has $n lines, expected ${deckLines(file)}")
        }
      }
    }
    checkRaincell(byName("GenRaincell"))
    it.counts("decks.lines") = lines.toDouble
    it.counts("decks.bytes") = bytes.toDouble

    val ex = byName("ExtractForecast")
    if (ex.error.isEmpty) {
      val perSeries = query(s"SELECT tms_id, COUNT(*) FROM data WHERE fgt = TIMESTAMP('$Fgt') " +
        "GROUP BY tms_id")(r => r.getString(1) -> r.getLong(2)).toMap
      val total = perSeries.values.sum
      it.counts("extract.points") = total.toDouble
      it.counts("jdbc.points") = total.toDouble
      ex.require(perSeries.keySet == tmsIds.values.toSet,
        s"store holds ${perSeries.size} series, expected ${tmsIds.size}")
      ex.require(perSeries.values.forall(_ == ModelHours),
        s"store per-series counts ${perSeries.values.toSeq.distinct} != $ModelHours")
      val runs = query("SELECT COUNT(*) FROM run WHERE latest_fgt = TIMESTAMP('" + Fgt + "')")(
        _.getLong(1)).head
      ex.require(runs == stations.size, s"run table has $runs rows for this fgt")
      sample().foreach { case (e, h, v) =>
        val got = query(s"SELECT value FROM data WHERE tms_id = '${tmsIds(e)}' AND " +
          s"fgt = TIMESTAMP('$Fgt') AND time = TIMESTAMP('${ts(h * 60)}')")(_.getDouble(1))
        ex.require(got == Seq(v), s"store value of element $e hour $h is $got, expected $v")
      }
    }
    byName.get("LakeMerge").filter(_.error.isEmpty).foreach { lm =>
      val lake = LakeMerge.readLake(spark, lakeDir)
      val perSeries = lake.filter(col("fgt") === lit(Timestamp.valueOf(Fgt)))
        .groupBy("tms_id").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      lm.require(perSeries.keySet == tmsIds.values.toSet && perSeries.values.forall(_ == ModelHours),
        s"lake per-series counts for this run are wrong: ${perSeries.values.toSeq.distinct}")
      val rows = lake.count()
      val priorRows = PriorDays.toLong * stations.size * WindowHours
      lm.require(rows == priorRows + Points, s"lake holds $rows rows, expected ${priorRows + Points}")
      val want = sample()
      val got = lake.filter(col("fgt") === lit(Timestamp.valueOf(Fgt)))
        .join(spark.createDataFrame(want.map { case (e, h, _) =>
          (tmsIds(e), Timestamp.valueOf(ts(h * 60))) }).toDF("tms_id", "time"),
          Seq("tms_id", "time"))
        .select("tms_id", "time", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString.stripSuffix(".0"), r.getDouble(2))).toSet
      lm.require(got == want.map { case (e, h, v) => (tmsIds(e), ts(h * 60), v) }.toSet,
        "lake sample values do not round-trip")
      mergeStats.foreach { s =>
        it.counts("lake.partitions_rewritten") = s.partitionsRewritten.toDouble
        it.counts("lake.rows_rewritten_per_upserted") =
          s.rowsAfterAffected.toDouble / math.max(1L, s.rowsUpserted)
      }
      it.counts("lake.bytes_per_point") = lakeBytes(Paths.get(lakeDir)).toDouble / rows
    }
  }

  /** Header, and a seeded sample of cell lines against the input values. */
  private def checkRaincell(o: Op): Unit = if (o.error.isEmpty) {
    val want = (0 until 40).map { _ =>
      (1 + rng.nextInt(Cells), 1 + rng.nextInt(RaincellSteps))
    }
    val vals = spark.createDataFrame(want.map { case (c, s) => (c.toLong, s.toLong) })
      .toDF("cell", "step").select(col("cell"), col("step"),
        rainValue(col("cell"), col("step")).as("v"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    val index = want.map { case (c, s) => (1L + (s - 1).toLong * (Cells + 1) + (c - 1)) -> (c, s) }.toMap
    val found = scala.collection.mutable.Map.empty[Long, String]
    var header = ""
    val r = Files.newBufferedReader(Paths.get(deckDir, "RAINCELL.DAT"))
    try {
      var i = 0L
      var l = r.readLine()
      while (l != null) {
        if (i == 0) header = l
        if (index.contains(i)) found(i) = l
        i += 1
        l = r.readLine()
      }
    } finally r.close()
    o.require(header == s"15 $RaincellSteps $Start $RaincellEnd", s"RAINCELL header '$header'")
    index.foreach { case (i, (c, s)) =>
      val exp = s"$c " + String.format(Locale.US, "%.3f", Double.box(vals((c, s)) + 1.0 / 96))
      o.require(found.get(i).contains(exp), s"RAINCELL line $i is ${found.get(i)}, expected $exp")
    }
  }

  /** Seeded sample of (element, model hour, expected value). */
  private def sample(): Seq[(Int, Int, Double)] = (0 until 12).map { _ =>
    val e = stations(rng.nextInt(stations.size))
    val h = 1 + rng.nextInt(ModelHours)
    val v = if (channelStations.contains(e)) chanValue(e, h) else fpValue(e, h)
    (e, h, v / 100.0)
  }

  override def report(iters: Seq[Iter]): Seq[(String, Double, String)] = {
    def med(f: Iter => Option[Double]) = Main.median(iters.flatMap(f(_)))
    Seq(
      ("deck_ready_s", med(_.marks.get("deck_ready_s")), "s"),
      ("forecast_ready_s", med(i =>
        for (a <- i.marks.get("deck_ready_s"); b <- i.marks.get("forecast_ready_s")) yield b - a), "s"),
      ("stored_bytes_per_point", med(_.counts.get("lake.bytes_per_point")), "bytes"))
  }

  private def chanValue(el: Int, h: Int): Long = 100 + mix(seed, el, h) % 900
  private def fpValue(cell: Int, h: Int): Long = mix(seed, cell + 1000000, h) % 300
  private def centi(a: Int, b: Int): Long = mix(seed, a * 7919L, b) % 10000

  /** Rain in mm as an exact 3-decimal value: most cells dry, some wet. */
  private def rainValue(cell: Column, step: Column): Column = {
    val m = pmod(xxhash64(lit(seed), cell, step), lit(20011L)) - lit(12000L)
    greatest(m, lit(0L)).cast("double") / lit(1000.0)
  }

  private def exec(sqls: Seq[String], ignoreErrors: Boolean): Unit = {
    val conn = DriverManager.getConnection(url)
    try sqls.foreach { s =>
      val st = conn.createStatement()
      try st.execute(s)
      catch { case e: java.sql.SQLException if ignoreErrors => () }
      finally st.close()
    } finally conn.close()
  }

  private def query[T](sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next()).map(f).toList
    } finally conn.close()
  }
}

object FloodDay {
  val Model = "flo2d_150_v2"
  val SimTag = "daily_run"
  /** Grid cells of flo2d_150_v2. */
  val Cells = 39526
  /** 15-min RAINCELL steps. The reference's 4-day window is 384 (15.2 M
    * lines); 8 keeps a run of this workload, set-up included, under a minute. */
  val RaincellSteps = 8
  /** Hourly model outputs in HYCHAN/TIMDEP. */
  val ModelHours = 8
  val WindowHours = 96
  val ChannelElements = 200
  val ChannelStations = 31
  val FloodStations = 20
  val Points: Long = (ChannelStations + FloodStations).toLong * ModelHours
  /** Prior daily runs in the lake: each covers four days, so the four
    * before this run all overlap its partition. */
  val PriorDays = 4
  val ChanPairs = 60
  val InflowHead = 3
  val Boundaries = Seq(330, 462, 1282)
  val KCells = Seq(268, 1174)
  val ChanHead = Seq("0 0 0 0", "C 0.010 0.5", "R 1 0.035 5.0", "T 12.0 3.0")
  val ChanTail = Seq("S 1 100", "E")

  val Start = "2024-06-01 00:00:00"
  val End = "2024-06-05 00:00:00"
  val RaincellEnd: String = ts(RaincellSteps * 15)
  val Base = Start
  val Fgt = "2024-06-01 06:00:00"

  val StoreDdl = Seq(
    "CREATE TABLE source (id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "model VARCHAR(64), version VARCHAR(64), parameters CLOB, " +
      "CONSTRAINT uq_source UNIQUE (model, version))",
    "CREATE TABLE variable (id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "variable VARCHAR(64), CONSTRAINT uq_variable UNIQUE (variable))",
    "CREATE TABLE unit (id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "unit VARCHAR(16), unit_type VARCHAR(32), CONSTRAINT uq_unit UNIQUE (unit, unit_type))",
    "CREATE TABLE station (id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
      "name VARCHAR(128), latitude VARCHAR(16), longitude VARCHAR(16), " +
      "station_type VARCHAR(64), description VARCHAR(128), " +
      "CONSTRAINT uq_station UNIQUE (name, station_type))",
    "CREATE TABLE run (tms_id VARCHAR(64) PRIMARY KEY, sim_tag VARCHAR(64), " +
      "station_id BIGINT, source_id BIGINT, unit_id BIGINT, variable_id BIGINT, " +
      "latest_fgt TIMESTAMP, start_date TIMESTAMP)",
    "CREATE TABLE data (tms_id VARCHAR(64), fgt TIMESTAMP, time TIMESTAMP, " +
      "value DOUBLE, PRIMARY KEY (tms_id, fgt, time))")

  /** `Start` plus `minutes`, as `yyyy-MM-dd HH:mm:ss`. */
  def ts(minutes: Long): String =
    Timestamp.valueOf(Start).toLocalDateTime.plusMinutes(minutes).toString.replace('T', ' ') match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  def tsv(minutes: Long): Timestamp = Timestamp.valueOf(ts(minutes))

  /** The engine's series id: sha256 over `model;simTag;element`. */
  def tmsId(element: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s"$Model;$SimTag;$element".getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** SplitMix64 finalizer over (seed, a, b), non-negative. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  def dec2(centi: Long): String = s"${centi / 100}.${"%02d".format(centi % 100)}"

  def withWriter(path: String)(f: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path), StandardCharsets.US_ASCII)
    try f(w) finally w.close()
  }

  def countLines(p: Path): Long = {
    val r = Files.newBufferedReader(p)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).size.toLong finally r.close()
  }

  def lakeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
