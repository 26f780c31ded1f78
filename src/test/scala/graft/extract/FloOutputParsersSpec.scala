package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{broadcast, col}

import graft.SparkSpec

/** S7/S8 parser specs over synthetic FLO-2D report fragments that mirror the
  * reference's structure (reference: output/extract_water_level.py:454-523
  * HYCHAN, :540-572 TIMDEP). */
class FloOutputParsersSpec extends SparkSpec {
  import spark.implicits._

  private def linesDf(text: String) =
    text.split("\n", -1).zipWithIndex
      .map { case (l, i) => ("f", i.toLong, l) }
      .toSeq.toDF("file", "line_no", "line")

  private val hychan =
    """THE MODEL PREAMBLE
      |     CHANNEL HYDROGRAPH FOR ELEMENT NO:    250
      |
      |   TIME      ELEV     DEPTH    VEL     DISCHARGE
      |   0.25    12.34     1.20    0.50    100.10
      |   0.50    12.50     1.36    0.52    101.20
      |   0.75      NaN     1.40    0.55    102.00
      |     CHANNEL HYDROGRAPH FOR ELEMENT NO:    369
      |
      |   TIME      ELEV     DEPTH    VEL     DISCHARGE
      |   0.25     8.10     0.90    0.40     60.00
      |   0.50     8.20     0.95    0.45     61.50""".stripMargin

  test("HYCHAN: blocks keyed by header element, numeric rows only") {
    val out = FloOutputParsers.parseHychan(linesDf(hychan))
      .orderBy("element", "step_hours")
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out === Array(
      ("250", 0.25, 12.34), ("250", 0.50, 12.50),
      ("369", 0.25, 8.10), ("369", 0.50, 8.20)))
  }

  test("HYCHAN: NaN elevation rows are skipped (F4)") {
    val out = FloOutputParsers.parseHychan(linesDf(hychan))
    assert(out.filter("step_hours = 0.75").count() === 0)
  }

  test("HYCHAN: discharge column pick (valueIndex=4, extract_discharge)") {
    val out = FloOutputParsers.parseHychan(linesDf(hychan), valueIndex = 4)
      .filter("element = '369'").orderBy("step_hours")
      .collect().map(_.getDouble(3))
    assert(out === Array(60.00, 61.50))
  }

  test("HYCHAN: header offset is strict — offset-0 lookalike is not a header") {
    val tricky =
      """CHANNEL HYDROGRAPH FOR ELEMENT NO: 999 0 0 0 0
        |     CHANNEL HYDROGRAPH FOR ELEMENT NO:    11
        |   1.00     2.00     0.1    0.1    1.0""".stripMargin
    val out = FloOutputParsers.parseHychan(linesDf(tricky)).collect()
    assert(out.map(_.getString(1)).toSet === Set("11"))
  }

  private val timdep =
    """   0.50
      |    101   1.0   2.0   3.0   4.0   21.50
      |    102   1.0   2.0   3.0   4.0   22.75
      |   1.00
      |    101   1.0   2.0   3.0   4.0   21.80""".stripMargin

  test("TIMDEP: single-token lines open blocks; col-5 values extracted") {
    val out = FloOutputParsers.parseTimdep(linesDf(timdep))
      .orderBy("step_hours", "element")
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out === Array(
      ("101", 0.5, 21.50), ("102", 0.5, 22.75), ("101", 1.0, 21.80)))
  }

  test("TIMDEP: fillMissing densifies with -999 sentinel") {
    val parsed = FloOutputParsers.parseTimdep(linesDf(timdep))
    val elements = Seq("101", "102").toDF("element")
    val filled = FloOutputParsers.fillMissing(parsed, elements)
      .orderBy("step_hours", "element")
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(filled === Array(
      ("101", 0.5, 21.50), ("102", 0.5, 22.75),
      ("101", 1.0, 21.80), ("102", 1.0, -999.0)))
  }

  test("fillMissing: only station rows reach the densify shuffle, same result") {
    // a planner that neither broadcasts nor re-plans at runtime, so the
    // densify keeps its Exchange as on a real report
    val iso = spark.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    // 3 blocks × 500 cells, 3 stations: element 7 absent from block 1.0,
    // element 9999 absent everywhere, block 1.5 holds no station at all
    val cells = for {
      blk <- Seq(0.5, 1.0, 1.5)
      e <- 1 to 500
      if !(blk == 1.0 && e == 7) && !(blk == 1.5 && (e == 7 || e == 42))
    } yield ("f", e.toString, blk, e * 10 + blk)
    val parsed = iso.createDataFrame(cells).toDF("file", "element", "step_hours", "value")
    val elements = iso.createDataFrame(Seq(Tuple1("7"), Tuple1("42"), Tuple1("9999")))
      .toDF("cell_no")
    val filled = FloOutputParsers.fillMissing(parsed, elements)
    // the join formulation of the same densify: every parsed row is
    // shuffled into it
    val unfiltered = parsed.select("file", "step_hours").distinct()
      .crossJoin(broadcast(elements.select(col("cell_no").as("element")).distinct()))
      .join(parsed, Seq("file", "element", "step_hours"), "left")
      .na.fill(graft.model.Sentinels.MissingOutput, Seq("value"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sorted
    val got = rows(filled)
    assert(filled.columns.toSeq === unfiltered.columns.toSeq)
    assert(got === rows(unfiltered))
    assert(got.size === 9)
    assert(got.count(_._4 == -999.0) === 6)

    // one shuffle, and it carries one map-side partial per (partition,
    // block) holding only station readings — never the 1,500 cells
    val plan = filled.queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, plan.toString)
    val shuffled = exchanges.head.metrics("shuffleRecordsWritten").value
    assert(shuffled > 0 && shuffled <= 3L * parsed.rdd.getNumPartitions, plan.toString)
  }

  test("stepToTimestamp: base + fractional model-hours at µs precision") {
    val parsed = FloOutputParsers.parseTimdep(linesDf(timdep))
    val ts = FloOutputParsers.stepToTimestamp(parsed, "2024-01-01 00:00:00")
      .filter("element = '102'").select("time")
      .collect().head.getTimestamp(0).toString
    assert(ts === "2024-01-01 00:30:00.0")
  }

  test("utcOffsetMicros: [+-]HH:MM prefix parse, default +00:00 on mismatch") {
    // reference getUTCOffset semantics (output/extract_water_level.py:80-106)
    assert(FloOutputParsers.utcOffsetMicros("+05:30") === (5 * 60 + 30) * 60L * 1000000L)
    assert(FloOutputParsers.utcOffsetMicros("-02:15") === -(2 * 60 + 15) * 60L * 1000000L)
    // re.match anchors at the start but tolerates trailing text
    assert(FloOutputParsers.utcOffsetMicros("+05:30 extra") === (5 * 60 + 30) * 60L * 1000000L)
    // invalid → no shift (default=True path)
    assert(FloOutputParsers.utcOffsetMicros("") === 0L)
    assert(FloOutputParsers.utcOffsetMicros("05:30") === 0L)
    assert(FloOutputParsers.utcOffsetMicros("+5:30") === 0L)
    assert(FloOutputParsers.utcOffsetMicros("garbage") === 0L)
  }

  test("channelSeries with utcOffset equals the hand-shifted unshifted series") {
    val dir = Files.createTempDirectory("utcshift").toFile
    val hy = new java.io.File(dir, "HYCHAN.OUT")
    Files.writeString(hy.toPath, hychan)
    val cellMap = Seq(("250", "hanwella", "CHANNEL"), ("369", "glencourse", "CHANNEL"))
      .toDF("cell_no", "label", "kind")
    val base = "2024-01-01 00:00:00"
    val unshifted = ExtractPipeline.channelSeries(spark, hy.toString, base, cellMap)
      .select("element", "time", "value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2.getTime))
    val shifted = ExtractPipeline.channelSeries(spark, hy.toString, base, cellMap,
      utcOffset = "+05:30")
      .select("element", "time", "value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2.getTime))
    val golden = unshifted.map { case (e, t, v) =>
      (e, new java.sql.Timestamp(t.getTime + (5 * 60 + 30) * 60L * 1000L), v)
    }
    assert(shifted === golden)
    assert(shifted.head._2.toString === "2024-01-01 05:45:00.0") // 0.25h + 5:30

    // the horizon cutoff is compared in post-shift wall-clock: a cutoff at
    // 05:45 keeps all four shifted points, 06:00 drops the first per element
    val cut = ExtractPipeline.channelSeries(spark, hy.toString, base, cellMap,
      cutoff = Some("2024-01-01 06:00:00"), utcOffset = "+05:30")
    assert(cut.count() === 2)
  }

  test("blocks spanning partition boundaries parse identically (8-way repartition)") {
    val base = linesDf(hychan)
    val scattered = base.repartition(8)
    val a = FloOutputParsers.parseHychan(base).orderBy("element", "step_hours")
      .collect().map(_.toSeq)
    val b = FloOutputParsers.parseHychan(scattered).orderBy("element", "step_hours")
      .collect().map(_.toSeq)
    assert(a.nonEmpty && (a.toSeq === b.toSeq))
  }

  test("carry-based fast path equals the window path on real files (HYCHAN + TIMDEP)") {
    val dir = Files.createTempDirectory("fastpath").toFile
    val hy = new java.io.File(dir, "HYCHAN.OUT")
    Files.writeString(hy.toPath, hychan)
    val td = new java.io.File(dir, "TIMDEP.OUT")
    Files.writeString(td.toPath, timdep)

    val hyWindow = FloOutputParsers.parseHychan(linesDf(hychan))
      .select("element", "step_hours", "value").orderBy("element", "step_hours")
      .collect().map(_.toSeq).toSeq
    val hyFast = FloOutputParsers.parseHychanFile(spark, hy.getPath)
      .select("element", "step_hours", "value").orderBy("element", "step_hours")
      .collect().map(_.toSeq).toSeq
    assert(hyFast === hyWindow)

    val tdWindow = FloOutputParsers.parseTimdep(linesDf(timdep))
      .select("element", "step_hours", "value").orderBy("step_hours", "element")
      .collect().map(_.toSeq).toSeq
    val tdFast = FloOutputParsers.parseTimdepFile(spark, td.getPath)
      .select("element", "step_hours", "value").orderBy("step_hours", "element")
      .collect().map(_.toSeq).toSeq
    assert(tdFast === tdWindow)
  }

  test("readLines preserves file order end-to-end through a real file") {
    val dir = Files.createTempDirectory("hychan").toFile
    val f = new java.io.File(dir, "HYCHAN.OUT")
    Files.writeString(f.toPath, hychan)
    val out = FloOutputParsers.parseHychanFile(spark, dir.getPath)
      .orderBy("element", "step_hours")
      .collect().map(r => (r.getString(1), r.getDouble(2)))
    assert(out === Array(("250", 0.25), ("250", 0.50), ("369", 0.25), ("369", 0.50)))
  }

  test("a file: URI takes the carry parse and equals the plain-path parse") {
    val dir = Files.createTempDirectory("uriparse").toFile
    val hy = new java.io.File(dir, "HYCHAN.OUT")
    Files.writeString(hy.toPath, hychan)
    val td = new java.io.File(dir, "TIMDEP.OUT")
    Files.writeString(td.toPath, timdep)
    val base = "2024-01-01 00:00:00"
    val channels = Seq(("250", "hanwella", "CHANNEL"), ("369", "glencourse", "CHANNEL"))
      .toDF("cell_no", "label", "kind")
    val plains = Seq(("101", "a", "FLOOD_PLAIN"), ("102", "b", "FLOOD_PLAIN"))
      .toDF("cell_no", "label", "kind")
    def windows(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    for ((series, file) <- Seq(
        ((p: String) => ExtractPipeline.channelSeries(spark, p, base, channels), hy),
        ((p: String) => ExtractPipeline.floodPlainSeries(spark, p, base, plains), td))) {
      val uri = file.toURI.toString
      assert(uri.startsWith("file:"))
      val viaUri = series(uri)
      assert(windows(viaUri).isEmpty,
        s"$uri must take the carry parse:\n${viaUri.queryExecution.optimizedPlan}")
      val viaPath = series(file.getPath)
      assert(rows(viaPath).nonEmpty && rows(viaUri) === rows(viaPath))
    }
    // a directory takes the same parse: it plans no Window either
    assert(windows(ExtractPipeline.floodPlainSeries(spark, dir.toURI.toString, base,
      plains)).isEmpty)
  }
  // ---- parse contracts of the extraction path. Each holds for one file
  // with and without a station set, and for a directory.

  private val plainMap = Seq(("101", "a", "FLOOD_PLAIN"), ("102", "b", "FLOOD_PLAIN"))
    .toDF("cell_no", "label", "kind")
  private val base = "2024-01-01 00:00:00"

  /** `text` as the only file of a fresh directory: (file, directory). */
  private def report(name: String, text: String): (String, String) = {
    val dir = Files.createTempDirectory("report").toFile
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, text)
    (f.getPath, dir.getPath)
  }

  private def seriesRows(df: DataFrame): Seq[(String, String, Double)] =
    df.select("element", "time", "value").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2))).toSeq.sorted

  test("TIMDEP: a block with every station cell absent densifies to -999 for every station") {
    val text =
      """   0.50
        |    101   1.0   2.0   3.0   4.0   21.50
        |    102   1.0   2.0   3.0   4.0   22.75
        |    103   1.0   2.0   3.0   4.0   23.00
        |   1.00
        |    103   1.0   2.0   3.0   4.0   23.10
        |    104   1.0   2.0   3.0   4.0   24.10""".stripMargin
    val (file, dir) = report("TIMDEP.OUT", text)
    val expected = Seq(
      ("101", "2024-01-01 00:30:00.0", 21.50), ("101", "2024-01-01 01:00:00.0", -999.0),
      ("102", "2024-01-01 00:30:00.0", 22.75), ("102", "2024-01-01 01:00:00.0", -999.0))
    assert(seriesRows(ExtractPipeline.floodPlainSeries(spark, file, base, plainMap)) === expected)
    assert(seriesRows(ExtractPipeline.floodPlainSeries(spark, dir, base, plainMap)) === expected)
    val elements = Seq("101", "102").toDF("element")
    for (parsed <- Seq(FloOutputParsers.parseTimdepFile(spark, file),
        FloOutputParsers.parseTimdep(linesDf(text)))) {
      val filled = FloOutputParsers.fillMissing(parsed, elements)
        .filter("step_hours = 1.0").collect().map(r => (r.getString(1), r.getDouble(3)))
      assert(filled.toSeq.sorted === Seq(("101", -999.0), ("102", -999.0)))
    }
  }

  test("TIMDEP: a block holding only its time line yields no rows") {
    // block 1.00 is its time line alone; block 1.50 holds only rows with no
    // numeric value, so it has no data row either
    val text =
      """   0.50
        |    101   1.0   2.0   3.0   4.0   21.50
        |   1.00
        |   1.50
        |    101   1.0   2.0   3.0   4.0   n/a
        |    103   1.0
        |   2.00
        |    103   1.0   2.0   3.0   4.0   23.10""".stripMargin
    val (file, dir) = report("TIMDEP.OUT", text)
    val expected = Seq(
      ("101", "2024-01-01 00:30:00.0", 21.50), ("101", "2024-01-01 02:00:00.0", -999.0),
      ("102", "2024-01-01 00:30:00.0", -999.0), ("102", "2024-01-01 02:00:00.0", -999.0))
    assert(seriesRows(ExtractPipeline.floodPlainSeries(spark, file, base, plainMap)) === expected)
    assert(seriesRows(ExtractPipeline.floodPlainSeries(spark, dir, base, plainMap)) === expected)
  }

  test("station-filtered carry parse + densify equals the unfiltered window parse, blocks across partitions") {
    // 24 blocks of 60 cells: station 7 is absent from every third block,
    // block 5 holds no station, block 9 only non-numeric values, block 13
    // is its time line alone and block 17's time is unparseable
    val stations = Seq(7, 12, 33, 59)
    val text = new StringBuilder(" TIMDEP REPORT\n")
    (0 until 24).foreach { b =>
      text ++= (if (b == 17) "   t+\n" else s"   ${b}.25\n")
      if (b != 13) (1 to 60).foreach { c =>
        val skip = (c == 7 && b % 3 == 0) || (b == 5 && stations.contains(c))
        val v = if (b == 9) "x" else f"${c * 0.5 + b}%.2f"
        if (!skip) text ++= f"    $c   0.10   0.20   0.30   0.40   $v\n"
      }
    }
    val (file, dir) = report("TIMDEP.OUT", text.toString)
    // the file is large enough to split four ways, so blocks cross
    // partition boundaries in the carry parse
    assert(spark.sparkContext.textFile(file, 4).getNumPartitions >= 4)
    val cellMap = stations.map(c => (c.toString, s"st$c", "FLOOD_PLAIN"))
      .toDF("cell_no", "label", "kind")
    val carry = seriesRows(ExtractPipeline.floodPlainSeries(spark, file, base, cellMap))
    val window = seriesRows(ExtractPipeline.floodPlainSeries(spark, dir, base, cellMap))
    assert(carry.nonEmpty && carry === window)
    // 21 valid blocks (not 9, 13 and 17) × 4 stations
    assert(carry.size === 21 * 4)
    // station 7 missing from 7 valid blocks, all four from block 5
    assert(carry.count(_._3 == -999.0) === 7 + 4)

    val hychan = new StringBuilder(" FLO-2D CHANNEL HYDROGRAPHS\n")
    (1 to 120).foreach { el =>
      hychan ++= s"     CHANNEL HYDROGRAPH FOR ELEMENT NO:    $el\n"
      hychan ++= "   TIME      ELEV     DEPTH   VELOC   DISCHARGE\n"
      (1 to 6).foreach(h => hychan ++= f"   $h.00    ${el + h * 0.25}%.2f    0.00   0.00   1.00\n")
    }
    val (hyFile, hyDir) = report("HYCHAN.OUT", hychan.toString)
    assert(spark.sparkContext.textFile(hyFile, 4).getNumPartitions >= 4)
    val chanMap = Seq(3, 40, 41, 118).map(c => (c.toString, s"ch$c", "CHANNEL"))
      .toDF("cell_no", "label", "kind")
    val hyCarry = seriesRows(ExtractPipeline.channelSeries(spark, hyFile, base, chanMap))
    assert(hyCarry.size === 4 * 6)
    assert(hyCarry === seriesRows(ExtractPipeline.channelSeries(spark, hyDir, base, chanMap)))
  }

  test("carry parse tokenizes like trim.split on tabs, VT, FF, blanks and control chars") {
    // every line below is read by the single-file parse; the expected rows
    // come from the same block rules over l.trim.split("\\s+")
    val timdepLines = Seq("\t0.50\t",
      "\t101\t1.0\t2.0\t3.0\t4.0\t21.50",
      " 102 \u000B 1.0 2.0 3.0 4.0 22.75 ",
      "\f103 1 2 3 4 5.5\f",
      "", "   ", "\u000B",
      "  104 1 2 3 4\u0001 6.5",
      "105\u0001 1 2 3 4 7.5",
      "  106 1 2 3 4 \u001C 8.5",
      "\u0002 1.00 \u0003",
      "    107   1.0   2.0   3.0   4.0   9.25\r",
      "\u00A0108 1 2 3 4 10.5",
      " 1.50\u000B",
      "109\t\t1\f2\u000B3\u000B4 \t 11.75")
    def tok(l: String) = l.trim.split("\\s+")
    def num(s: String) = scala.util.Try(java.lang.Double.valueOf(s).doubleValue).toOption
    val expectedTd = {
      var blk: Option[Double] = None
      timdepLines.flatMap { l =>
        val t = tok(l)
        if (t.length == 1 && t(0).nonEmpty) { blk = Some(num(t(0)).getOrElse(Double.NaN)); None }
        else blk.filter(b => !b.isNaN && t.length > 5)
          .flatMap(b => num(t(5)).filter(!_.isNaN).map(v => (t(0), b, v)))
      }.sorted
    }
    assert(expectedTd.map(_._1).toSet.size >= 6, expectedTd)
    val (tdFile, _) = report("TIMDEP.OUT", timdepLines.mkString("\n"))
    val td = FloOutputParsers.parseTimdepFile(spark, tdFile).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq.sorted
    assert(td === expectedTd)

    val hychanLines = Seq(
      "     CHANNEL HYDROGRAPH FOR ELEMENT NO:\t\t250\t",
      "\t1.00\t12.25\t0.1",
      " 2.00 \u000B 12.50 \f 0.2 ",
      "\u00013.00 12.75",
      "  4.00\u0001 13.00",
      "     CHANNEL HYDROGRAPH FOR ELEMENT NO: \u000B 369 \f",
      "5.00\t\f\u000B14.25")
    val expectedHy = Seq(("250", 1.0, 12.25), ("250", 2.0, 12.5), ("250", 3.0, 12.75),
      ("250", 4.0, 13.0), ("369", 5.0, 14.25))
    assert(tok(hychanLines(0))(5) === "250" && tok(hychanLines(5))(5) === "369")
    val (hyFile, _) = report("HYCHAN.OUT", hychanLines.mkString("\n"))
    val hy = FloOutputParsers.parseHychanFile(spark, hyFile).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq.sorted
    assert(hy === expectedHy)
  }

  // ---- one parse, however the lines arrive. Every data row and time line
  // below is led or ended by a tab, VT, FF or CR, which Python's split()
  // (the reference's tokenizer) treats as a separator, and a null frame
  // line reads as a blank one. Each file opens with a row before its first
  // marker: it belongs to no block, never to the previous file's last one.
  private val controlTimdep = Seq(
    Seq("    201   1   2   3   4   9.5",
      "\t0.50\t",
      "\t101\t1.0\t2.0\t3.0\t4.0\t21.50",
      "\u000B102 1.0 2.0 3.0 4.0 22.75\u000B",
      null,
      "\f1.00\f",
      "\r103 1 2 3 4 5.5\r",
      "104 1 2 3 4 6.5\t"),
    Seq("\t105 1 2 3 4 7.5",
      "\r1.50\r",
      "\f105 1 2 3 4 8.5\f",
      "\u000B2.00",
      "106 1 2 3 4 9.25\u000B"))

  private val controlHychan = Seq(
    Seq("\t0.50\t9.99",
      "     CHANNEL HYDROGRAPH FOR ELEMENT NO:\t\t250\t",
      "\t1.00\t12.25\t0.1",
      "\u000B2.00 12.50\u000B",
      null,
      "\f3.00 12.75\f",
      "\r4.00 13.00\r"),
    Seq("\f5.00 14.00",
      "     CHANNEL HYDROGRAPH FOR ELEMENT NO:    369\r",
      "\t6.00\t14.25\t",
      "7.00\u000B14.50\f"))

  test("one parse: a file, a directory, a glob and an ordered frame give the same rows") {
    // a frame whose files all share one partition
    val onePartition = spark.newSession()
    onePartition.conf.set("spark.sql.shuffle.partitions", "1")
    def rows(df: DataFrame) = df.select("element", "step_hours", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted
    def ways(files: Seq[Seq[String]], parsePath: String => DataFrame,
        parseFrame: DataFrame => DataFrame) = {
      val dir = Files.createTempDirectory("oneparse").toFile
      val paths = files.zipWithIndex.map { case (lines, i) =>
        val f = new java.io.File(dir, s"report_$i.OUT")
        Files.writeString(f.toPath, lines.map(l => if (l == null) "" else l).mkString("\n"))
        f.getPath
      }
      def frame(s: org.apache.spark.sql.SparkSession) = s.createDataFrame(
        for ((lines, i) <- files.zipWithIndex; (l, n) <- lines.zipWithIndex)
          yield (s"report_$i", n.toLong, l)).toDF("file", "line_no", "line")
      Seq("file" -> paths.flatMap(p => rows(parsePath(p))).sorted,
        "directory" -> rows(parsePath(dir.getPath)),
        "glob" -> rows(parsePath(dir.getPath + "/*.OUT")),
        "frame" -> rows(parseFrame(frame(spark))),
        "one-partition frame" -> rows(parseFrame(frame(onePartition))))
    }
    val timdepRows = Seq(("101", 0.5, 21.5), ("102", 0.5, 22.75), ("103", 1.0, 5.5),
      ("104", 1.0, 6.5), ("105", 1.5, 8.5), ("106", 2.0, 9.25))
    val timdep = ways(controlTimdep, FloOutputParsers.parseTimdepFile(spark, _),
      FloOutputParsers.parseTimdep(_))
    val hychanRows = Seq(("250", 1.0, 12.25), ("250", 2.0, 12.5), ("250", 3.0, 12.75),
      ("250", 4.0, 13.0), ("369", 6.0, 14.25), ("369", 7.0, 14.5))
    val hychan = ways(controlHychan, FloOutputParsers.parseHychanFile(spark, _),
      FloOutputParsers.parseHychan(_))
    val wrong = timdep.filter(_._2 != timdepRows).map("TIMDEP " + _) ++
      hychan.filter(_._2 != hychanRows).map("HYCHAN " + _)
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a directory of N files parses in at least N tasks, each file its own blocks") {
    val dir = Files.createTempDirectory("nfiles").toFile
    val n = 6
    (0 until n).foreach { i =>
      Files.writeString(new java.io.File(dir, s"TIMDEP_$i.OUT").toPath,
        s"    9   1   2   3   4   0.5\n   $i.00\n    ${100 + i}   1   2   3   4   $i.5\n")
    }
    val (rows, work) = graft.obs.SparkWork.measure(spark)(
      FloOutputParsers.parseTimdepFile(spark, dir.getPath).collect()
        .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq.sorted)
    assert(rows === (0 until n).map(i => ((100 + i).toString, i.toDouble, i + 0.5)))
    // pass 1 is the first job: one task per split, at least one per file
    val pass1 = work.stages.minBy(_.stageId)
    assert(pass1.numTasks >= n, work.report)
  }
}
