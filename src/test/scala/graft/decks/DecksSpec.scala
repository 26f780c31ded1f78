package graft.decks

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import graft.io.OrderedTextSink

/** Deck generators vs hand-computed golden lines in the reference's exact
  * fixed-width formats (reference: input/rain/gen_rain.py:160-191,
  * input/inflow/gen_150_inflow.py:100-110, input/outflow/gen_outflow.py:95-135,
  * input/raincell/gen_raincell.py:126-142, input/chan/gen_chan.py:144-184). */
class DecksSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def sp(n: Int) = " " * n

  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("section", "seq").select("line").collect().map(_.getString(0)).toSeq

  test("RAIN.DAT: totals header + cumulative-fraction R rows (flo2d_250)") {
    val series = Seq(
      (ts("2024-01-01 00:05:00"), 1.0),
      (ts("2024-01-01 00:10:00"), 3.0),
      (ts("2024-01-01 00:20:00"), -2.0), // F5: dropped
      (ts("2024-01-01 00:30:00"), 0.0)
    ).toDF("time", "value")
    val lines = render(RainDeck.lines(spark, series,
      "2024-01-01 00:00:00", "2024-01-01 01:00:00", "flo2d_250"))
    // "R" + 14sp + time.3f ljust(14) + frac.3f + sp (gen_rain.py:188)
    assert(lines === Seq(
      " 0             0 ",
      " 4.000         5             0             0 ",
      "R" + sp(14) + "0.083" + sp(9) + "0.250 ",
      "R" + sp(14) + "0.167" + sp(9) + "1.000 ",
      "R" + sp(14) + "0.500" + sp(9) + "1.000 "))
  }

  test("RAIN.DAT: zero total rain → all fractions 0 (gen_rain.py:183-186)") {
    val series = Seq((ts("2024-01-01 00:05:00"), 0.0)).toDF("time", "value")
    val lines = render(RainDeck.lines(spark, series,
      "2024-01-01 00:00:00", "2024-01-01 00:10:00", "flo2d_250"))
    assert(lines(1).startsWith(" 0.000"))
    assert(lines(2) === "R" + sp(14) + "0.083" + sp(9) + "0.000 ")
  }

  test("RAIN.DAT 150: 15-min right-closed resample feeds the curve") {
    // 5-min points 00:05..00:30; right-closed buckets: (00:00,00:15]→00:15
    // sums 1+1+1=3, (00:15,00:30]→00:30 sums 2+2+2=6
    val series = (1 to 6).map(i =>
      (ts(f"2024-01-01 00:${i * 5}%02d:00"), if (i <= 3) 1.0 else 2.0))
      .toDF("time", "value")
    val lines = render(RainDeck.lines(spark, series,
      "2024-01-01 00:00:00", "2024-01-01 00:30:00", "flo2d_150"))
    assert(lines === Seq(
      " 0             0 ",
      " 9.000         5             0             0 ",
      "R" + sp(14) + "0.250" + sp(9) + "0.333 ",
      "R" + sp(14) + "0.500" + sp(9) + "1.000 "))
  }

  test("RAIN.DAT: every value dropped still writes both header lines with a 0.000 total") {
    val header = Seq(" 0             0 ", " 0.000         5             0             0 ")
    val negative = Seq(
      (ts("2024-01-01 00:05:00"), -1.0),
      (ts("2024-01-01 00:10:00"), -2.5)).toDF("time", "value")
    Seq("flo2d_250", "flo2d_150").foreach { m =>
      assert(render(RainDeck.lines(spark, negative,
        "2024-01-01 00:00:00", "2024-01-01 01:00:00", m)) === header, m)
    }
    // no row in the window: one after the end, one between grid points
    val outside = Seq(
      (ts("2024-01-02 00:05:00"), 1.0),
      (ts("2024-01-01 00:07:00"), 2.0)).toDF("time", "value")
    assert(render(RainDeck.lines(spark, outside,
      "2024-01-01 00:00:00", "2024-01-01 01:00:00", "flo2d_250")) === header)
  }

  test("INFLOW.DAT: head lines + anchored %.1f H rows, first row skipped (W3)") {
    val series = Seq(
      (ts("2024-01-01 10:00:00"), 5.0),
      (ts("2024-01-01 11:00:00"), 6.3),
      (ts("2024-01-01 12:30:00"), 7.0)
    ).toDF("time", "value")
    val lines = render(InflowDeck.lines(spark, series))
    // 'H' + %.1f.rjust(16) + %.1f.rjust(16) (gen_150_inflow.py:108-110)
    assert(lines === Seq(
      "0           41550",
      "C               0           41550",
      "H               0               0",
      "H" + sp(13) + "1.0" + sp(13) + "6.3",
      "H" + sp(13) + "2.5" + sp(13) + "7.0"))
  }

  test("INFLOW.DAT: an anchor-only series yields the head lines only; an empty one nothing") {
    val anchorOnly = Seq((ts("2024-01-01 10:00:00"), 5.0)).toDF("time", "value")
    assert(render(InflowDeck.lines(spark, anchorOnly)) === Seq(
      "0           41550",
      "C               0           41550",
      "H               0               0"))
    // the head lines are written by the deck's first row: a series with no
    // row at all writes no line
    val empty = Seq.empty[(Timestamp, Double)].toDF("time", "value")
    assert(render(InflowDeck.lines(spark, empty)).isEmpty)
  }

  test("INFLOW.DAT res dialect: `H` + 13sp + elapsed.ljust(14) + str(value)") {
    val series = Seq(
      (ts("2024-01-01 10:00:00"), 5.0),
      (ts("2024-01-01 11:00:00"), 6.25),
      (ts("2024-01-01 12:30:00"), 7.0)
    ).toDF("time", "value")
    assert(render(InflowDeck.lines(spark, series, Seq("HEAD"), InflowDeck.resHRow)) === Seq(
      "HEAD",
      "H" + sp(13) + "1.0" + sp(11) + "6.25",
      "H" + sp(13) + "2.5" + sp(11) + "7.0"))
  }

  test("INFLOW.DAT 250: header cells + observed-WL tail rows (default 0.5)") {
    val series = Seq(
      (ts("2024-01-01 10:00:00"), 5.0),
      (ts("2024-01-01 11:00:00"), 6.3)
    ).toDF("time", "value")
    val withObs = render(InflowDeck.lines250(spark, series, Some(1.25)))
    assert(withObs.take(3) === Seq(
      "0               0",
      "C               0            8655",
      "H               0               0"))
    assert(withObs.takeRight(2) === Seq(
      "R            2265" + sp(12) + "1.25",
      "R            3559             6.6"))
    // no observation → reference default 0.5 (gen_250_inflow.py:113-114)
    val noObs = render(InflowDeck.lines250(spark, series, None))
    assert(noObs.takeRight(2).head === "R            2265" + sp(13) + "0.5")
  }

  test("OUTFLOW.DAT: K/N widths; sentinel rows dropped but anchor epoch kept") {
    val boundaries = Seq((0, "330"), (1, "1282")).toDF("block_order", "cell")
    val tides = Seq(
      ("330", ts("2024-01-01 00:00:00"), -99999.0), // sentinel anchors t0, emits nothing
      ("330", ts("2024-01-01 01:00:00"), 0.452),
      ("1282", ts("2024-01-01 00:00:00"), 0.52),
      ("1282", ts("2024-01-01 00:30:00"), 0.57)
    ).toDF("cell", "time", "value")
    val lines = render(OutflowDeck.lines(spark, boundaries, tides, Seq("268", "1174")))
    assert(lines === Seq(
      "K" + sp(13) + "268",
      "K" + sp(12) + "1174",
      "N" + sp(13) + "330" + sp(15) + "1",
      "S" + sp(11) + "1.000" + sp(11) + "0.452",
      "N" + sp(12) + "1282" + sp(15) + "1",
      "S" + sp(11) + "0.000" + sp(11) + "0.520",
      "S" + sp(11) + "0.500" + sp(11) + "0.570"))
  }

  test("OUTFLOW.DAT res dialect: left-aligned K/N, contiguous S numbering, trimmed values, tail") {
    val boundaries = Seq((0, "330"), (1, "1282")).toDF("block_order", "cell")
    val tides = Seq(
      ("330", ts("2024-01-01 00:00:00"), -99999.0), // sentinel: dropped before numbering
      ("330", ts("2024-01-01 01:00:00"), 0.452),
      ("1282", ts("2024-01-01 00:00:00"), 0.52),
      ("1282", ts("2024-01-01 00:30:00"), 2.0)
    ).toDF("cell", "time", "value")
    val lines = render(OutflowDeck.linesRes(spark, boundaries, tides, Seq("268"), Seq("TAIL A")))
    assert(lines === Seq(
      "K" + sp(14) + "268",
      "N" + sp(14) + "330" + sp(11) + "1 ",
      "S" + sp(14) + "1" + sp(13) + "0.452 ",
      "N" + sp(14) + "1282" + sp(10) + "1 ",
      "S" + sp(14) + "1" + sp(13) + "0.52 ",
      "S" + sp(14) + "2" + sp(13) + "2.0 ",
      "TAIL A"))
  }

  test("RAINCELL.DAT: header + right-closed blocks + water-supply + blank separators") {
    val cells = Seq(
      (ts("2024-01-01 00:05:00"), 7, 0.0),
      (ts("2024-01-01 00:05:00"), 8, 1.0),
      (ts("2024-01-01 00:10:00"), 7, 2.0)
    ).toDF("time", "cell_id", "value")
    val lines = render(RaincellDeck.lines(spark, cells,
      "2024-01-01 00:00:00", "2024-01-01 00:10:00", "flo2d_250"))
    // water supply for 250 = 1/288 = 0.003472.. → %.3f = 0.003
    assert(lines === Seq(
      "5 2 2024-01-01 00:00:00 2024-01-01 00:10:00",
      "7 0.003",
      "8 1.003",
      "",
      "7 2.003",
      ""))
  }

  test("CHAN.DAT: observed WL if present else template default (J6)") {
    val pairs = Seq(
      (0, "10", 1.5, "11", 1.2),
      (1, "20", 2.5, "21", 2.2),
      (2, "30", 3.5, "31", 3.2)
    ).toDF("pair_idx", "up", "up_default", "down", "down_default")
    val conditions = Seq(
      ("m_10_11", "wlA", "wlB"),                     // both observed
      ("m_20_21", "wlC", null.asInstanceOf[String]), // no downstream id → upstream obs on both
      ("m_30_31", "wlD", "wlE")                      // no observations → defaults
    ).toDF("grid_id", "wl_id", "wl_id_dwn")
    val obs = Seq(("wlA", "9.1"), ("wlB", "9.9"), ("wlC", "8.8")).toDF("wl_id", "wl")
    val lines = render(ChanDeck.lines(spark, "m", pairs, conditions, obs,
      Seq("HEAD"), Seq("TAIL")))
    assert(lines === Seq(
      "HEAD",
      "10" + sp(7) + "9.1", "11" + sp(7) + "9.9",
      "20" + sp(7) + "8.8", "21" + sp(7) + "8.8",
      "30" + sp(7) + "3.5", "31" + sp(7) + "3.2",
      "TAIL"))
  }

  test("CHAN.DAT res dialect: ' ' + cell + 4sp + value, leading zero of 0.x stripped") {
    val pairs = Seq(
      (0, "10", 1.5, "11", 0.5),
      (1, "20", 2.5, "21", 0.25)
    ).toDF("pair_idx", "up", "up_default", "down", "down_default")
    val conditions = Seq(("m_10_11", "wlA", null.asInstanceOf[String]))
      .toDF("grid_id", "wl_id", "wl_id_dwn")
    val obs = Seq(("wlA", "0.798")).toDF("wl_id", "wl")
    val lines = render(ChanDeck.lines(spark, "m", pairs, conditions, obs,
      Seq("HEAD"), Seq("TAIL"), ChanDeck.resBodyRow))
    assert(lines === Seq(
      "HEAD",
      " 10    .798", " 11    .798", // no downstream id: the upstream obs for both
      " 20    2.5", " 21    .25",   // no condition row: template defaults
      "TAIL"))
  }

  test("deck windows are deterministic under shuffled duplicate-time input (tiebreak)") {
    // duplicate timestamps with different values: without a tiebreak the
    // line ordering is shuffle-order dependent; with one, every permutation
    // of the input produces byte-identical decks
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), 5.0, 1L),
      (ts("2024-01-01 11:00:00"), 6.3, 2L),
      (ts("2024-01-01 11:00:00"), 7.1, 3L), // dup time, distinct src_id
      (ts("2024-01-01 12:30:00"), 7.0, 4L))
    val perms = Seq(rows, rows.reverse, Seq(rows(2), rows(0), rows(3), rows(1)))
    val inflowDecks = perms.map { p =>
      val df = p.toDF("time", "value", "src_id").repartition(3)
      render(InflowDeck.lines(spark, df, tiebreak = Seq("src_id")))
    }
    assert(inflowDecks.distinct.size == 1, "INFLOW must not depend on input order")
    assert(inflowDecks.head.count(_.startsWith("H")) == 4) // header H + 3 data rows

    val boundaries = Seq((0, "330")).toDF("block_order", "cell")
    val outflowDecks = perms.map { p =>
      val tides = p.map { case (t, v, i) => ("330", t, v, i) }
        .toDF("cell", "time", "value", "src_id").repartition(3)
      render(OutflowDeck.lines(spark, boundaries, tides, Seq("268"),
        tiebreak = Seq("src_id")))
    }
    assert(outflowDecks.distinct.size == 1, "OUTFLOW must not depend on input order")

    val rainDecks = perms.map { p =>
      val df = p.toDF("time", "value", "src_id").repartition(3)
      render(RainDeck.lines(spark, df,
        "2024-01-01 00:00:00", "2024-01-01 13:00:00", "flo2d_250",
        tiebreak = Seq("src_id")))
    }
    assert(rainDecks.distinct.size == 1, "RAIN must not depend on input order")
  }

  test("OrderedTextSink: single ordered file with ifAbsent idempotency (K1/K6)") {
    val dir = Files.createTempDirectory("deck").toString
    val path = s"$dir/RAIN.DAT"
    val df = Seq((0, 1L, "b"), (0, 0L, "a"), (1, 0L, "c")).toDF("section", "seq", "line")
    assert(OrderedTextSink.ifAbsent(path) { OrderedTextSink.writeSingleFile(df, path) })
    assert(Files.readAllLines(java.nio.file.Paths.get(path)).toArray.toSeq === Seq("a", "b", "c"))
    // second run is skipped — file exists
    assert(!OrderedTextSink.ifAbsent(path) { fail("must not regenerate") })
  }

  test("OrderedTextSink: keys interleaved across partitions write one globally ordered file") {
    val rows = (0 until 300).map(i => (i % 3, i.toLong, s"${i % 3}-$i"))
    val df = scala.util.Random.javaRandomToRandom(new java.util.Random(7)).shuffle(rows)
      .toDF("section", "seq", "line").repartition(5)
    assert(df.rdd.getNumPartitions >= 4)
    val path = Files.createTempDirectory("deckorder").toString + "/DECK.DAT"
    OrderedTextSink.writeSingleFile(df, path)
    assert(Files.readAllLines(java.nio.file.Paths.get(path)).toArray.toSeq ===
      rows.sortBy { case (s, q, _) => (s, q) }.map(_._3))
  }
}
