package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.SparkSpec

/** S7/S8 parser specs over synthetic FLO-2D report fragments that mirror the
  * reference's structure (reference: output/extract_water_level.py:454-523
  * HYCHAN, :540-572 TIMDEP). */
class FloOutputParsersSpec extends SparkSpec {
  import spark.implicits._

  private def linesDf(text: String) =
    FloOutputParsers.fromOrderedLines(
      text.split("\n", -1).zipWithIndex
        .map { case (l, i) => ("f", i.toLong, l) }
        .toSeq.toDF("file", "line_no", "line"))

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
    // a planner that neither broadcasts the parsed side nor re-plans at
    // runtime, so the densify join keeps its Exchange as on a real report
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
    // the formulation before the semi-join: every parsed row is shuffled
    // into the densify join
    val unfiltered = parsed.select("file", "step_hours").distinct()
      .crossJoin(broadcast(elements.select(col("cell_no").as("element")).distinct()))
      .join(parsed, Seq("file", "element", "step_hours"), "left")
      .na.fill(graft.model.Sentinels.MissingOutput, Seq("value"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSeq.sorted
    assert(filled.columns.toSeq === unfiltered.columns.toSeq)
    assert(rows(filled) === rows(unfiltered))
    assert(rows(filled).size === 9)
    assert(rows(filled).count(_._4 == -999.0) === 6)

    val plan = filled.queryExecution.executedPlan
    val densify = plan.collect {
      case j: SortMergeJoinExec if j.joinType == LeftOuter => j
    }
    assert(densify.size === 1, plan.toString)
    val exchange = densify.head.right.collectFirst {
      case e: ShuffleExchangeExec => e
    }
    assert(exchange.nonEmpty, plan.toString)
    assert(exchange.get.child.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
    }.size === 1, "the station semi-join must sit below the densify Exchange:\n" + plan)
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
    val scattered = FloOutputParsers.fromOrderedLines(base.repartition(8))
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

    val hyWindow = FloOutputParsers.parseHychan(FloOutputParsers.readLines(spark, hy.getPath))
      .select("element", "step_hours", "value").orderBy("element", "step_hours")
      .collect().map(_.toSeq).toSeq
    val hyFast = FloOutputParsers.parseHychanFile(spark, hy.getPath)
      .select("element", "step_hours", "value").orderBy("element", "step_hours")
      .collect().map(_.toSeq).toSeq
    assert(hyFast === hyWindow)

    val tdWindow = FloOutputParsers.parseTimdep(FloOutputParsers.readLines(spark, td.getPath))
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
    val out = FloOutputParsers.parseHychan(FloOutputParsers.readLines(spark, f.getPath))
      .orderBy("element", "step_hours")
      .collect().map(r => (r.getString(1), r.getDouble(2)))
    assert(out === Array(("250", 0.25), ("250", 0.50), ("369", 0.25), ("369", 0.50)))
  }
}
