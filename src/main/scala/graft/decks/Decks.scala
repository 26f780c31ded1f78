package graft.decks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Sentinels
import graft.ops.TimeSeriesOps

/** FLO-2D input-deck generators — SURVEY.md §2 K1/X4-X6, §7 step 5.
  *
  * Each deck is a pure `DataFrame → DataFrame(section, seq, line)` pipeline:
  * `section` orders the head/body/tail parts, `seq` orders lines within a
  * section, `line` is the exact fixed-width text. The ordered write itself is
  * `graft.io.OrderedTextSink` — decks never collect data to the driver, so
  * the same pipeline serves a 39k-cell basin or a 100×-denser grid.
  *
  * Each deck evaluates its input once. A keyed deck (RAIN and INFLOW by
  * `deck_id`, OUTFLOW by boundary cell) is partitioned once by its key and
  * every window and aggregate reuses that partitioning; RAIN's and INFLOW's
  * header lines come out of the same rows as their body through one
  * generator ([[DeckFormat.emit]]) instead of a second pass for the header. Literal head and tail lines are
  * local rows that read no input. A single-deck form's constant `deck_id`
  * folds away, so its one exchange is a single partition. RAINCELL needs no
  * key and no window (its `seq` is arithmetic), and CHAN's broadcast-joined
  * spine writes both nodes of a pair in one pass.
  */
object DeckFormat {
  def ljust(c: Column, n: Int): Column = rpad(c, n, " ")
  def rjust(c: Column, n: Int): Column = lpad(c, n, " ")
  /** `'%.Nf' %` — the reference's ubiquitous fixed-point format (X4). */
  def fixed(c: Column, decimals: Int): Column =
    format_string(s"%.${decimals}f", c.cast("double"))

  /** `str(float)`-style rendering used by the archived golden artifacts
    * (reference: res/flo2d_150_v2/INFLOW.DAT values like `1.593`, `54.22`,
    * `0.0`): fixed-point with trailing zeros trimmed, at least one decimal
    * kept. Exact for values with ≤ `decimals` decimal places. */
  def trimmedFixed(c: Column, decimals: Int): Column = {
    val t = regexp_replace(fixed(c, decimals), "0+$", "")
    when(t.endsWith("."), concat(t, lit("0"))).otherwise(t)
  }

  /** Literal head/tail lines as an ordered one-section DataFrame. */
  def literalLines(spark: SparkSession, section: Int, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.zipWithIndex
      .map { case (l, i) => (section, i.toLong, l) }
      .toDF("section", "seq", "line")
  }

  /** Stitch sections into one ordered deck frame. */
  def stitch(sections: DataFrame*): DataFrame =
    sections.reduce(_ unionByName _)

  /** One deck line a row may emit: kept when `keep` holds. */
  final case class Line(keep: Column, section: Int, seq: Column, text: Column)

  /** `(keys…, section, seq, line)`: every row of `rows` emits each of its
    * `lines` whose `keep` holds, so a deck's header and body lines come out
    * of one evaluation of its rows. */
  def emit(rows: DataFrame, keys: Seq[String], lines: Line*): DataFrame = {
    val structs = lines.map(l => struct(l.keep.as("keep"), lit(l.section).as("section"),
      l.seq.cast("long").as("seq"), l.text.as("line")))
    rows.select(keys.map(col) :+ inline(filter(array(structs: _*), _("keep"))): _*)
      .drop("keep")
  }
}

/** RAIN.DAT — cumulative rain fraction curve
  * (reference: input/rain/gen_rain.py:138-193).
  *
  * Pipeline: dense 5-min grid (J1) → drop missing → right-closed 15-min
  * resample when the model is a 150 variant (A2) → negatives dropped (F5) →
  * cumulative sum (A4) normalized by the total (A3/A5) → `R<time.3f
  * ljust14><frac.3f> ` lines with the two-line totals header. The grid join
  * is a predicate (a row is kept when its time is a grid point), and rows
  * that fail it still travel with their deck, so a deck whose every value
  * drops keeps its header with a 0.000 total. One exchange by `deck_id`,
  * one window sort.
  */
object RainDeck {
  def lines(spark: SparkSession, series: DataFrame, startTime: String, endTime: String,
      targetModel: String, tiebreak: Seq[String] = Nil): DataFrame =
    linesMany(spark, series.withColumn("deck_id", lit("0")), startTime, endTime, targetModel,
      tiebreak)
      .drop("deck_id")

  /** Multi-deck form: `series` carries a `deck_id` column and the result is
    * (deck_id, section, seq, line). The input is partitioned once by
    * deck_id and the resample, the windows and the header all reuse it, so
    * N basins' decks generate in N tasks — the per-deck sequential cumsum is
    * inherent (one file, one running total), the cross-deck serialization
    * is not. Every deck present in `series` gets a header. */
  def linesMany(spark: SparkSession, series: DataFrame, startTime: String, endTime: String,
      targetModel: String, tiebreak: Seq[String] = Nil): DataFrame = {
    import DeckFormat._
    val start = lit(startTime).cast("timestamp")
    val us = unix_micros(col("time"))
    // J1: the left join onto the dense 5-min grid, then dropping the missing
    // values, keeps exactly the present values at grid points of [start, end]
    val onGrid = col("time").between(start, lit(endTime).cast("timestamp")) &&
      (us - unix_micros(start)) % lit(300000000L) === 0 &&
      col("value").isNotNull && !isnan(col("value"))
    val keyed = series.withColumn("__on", onGrid).repartition(col("deck_id"))
    val stepped =
      if (targetModel == "flo2d_150" || targetModel == "flo2d_150_v2") keyed
        .groupBy(col("deck_id"),
          TimeSeriesOps.bucketRightClosedTs(col("time"), 900).as("time"))
        .agg(sum(when(col("__on"), col("value"))).as("value"), max(col("__on")).as("__on"))
      else keyed
    // `tiebreak` gives the cumsum and line numbering a total order when the
    // input carries duplicate (deck_id, time) rows — without it, seq
    // assignment (and the intermediate cum values) would be shuffle-order
    // dependent, the determinism rule every other window here follows.
    // The 150 resample collapses duplicates by aggregation, so the tiebreak
    // columns need not survive it: ordering applies to what remains.
    val tieCols = tiebreak.filter(stepped.columns.contains)
    // F5: negative (and NaN) values drop out of the curve and the total
    val kept = col("__on") && !(col("value") < 0) && !isnan(col("value"))
    val ordered = Window.partitionBy("deck_id")
      .orderBy(("time" +: tieCols).map(col(_).asc): _*)
    val upTo = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptValue = when(col("__kept"), col("value"))
    val rows = stepped
      .withColumn("__kept", kept)
      .select(col("*"),
        row_number().over(ordered).as("__n"),
        count(when(col("__kept"), lit(1))).over(upTo).as("__seq"),
        sum(keptValue).over(upTo).as("__cum"))
      // summed in the same (time, tiebreak) order as the running sum
      .withColumn("__total", sum(keptValue).over(Window.partitionBy("deck_id")))
    val elapsedH = (us - lit(graft.model.SlTime.microsOf(startTime))) / lit(3.6e9)
    val frac = when(col("__total") > 0, col("__cum") / col("__total")).otherwise(lit(0.0))
    // header: " 0             0 " then " {total:.3f}         5             0             0 "
    // (reference: input/rain/gen_rain.py:188-191, note insert-at-0 order),
    // written by each deck's first row
    val first = col("__n") === 1
    emit(rows, Seq("deck_id"),
      Line(first, 0, lit(0L), lit(" 0             0 ")),
      Line(first, 0, lit(1L), concat(lit(" "), fixed(coalesce(col("__total"), lit(0.0)), 3),
        lit("         5             0             0 "))),
      Line(col("__kept"), 1, col("__seq"),
        concat(lit("R              "), ljust(fixed(elapsedH, 3), 14), fixed(frac, 3), lit(" "))))
  }
}

/** Per-model INFLOW header constants as DATA. The reference hardcodes these
  * inside each generator (150: input/inflow/gen_150_inflow.py:102-104,
  * 150_v2: input/inflow/gen_150_v2_inflow.py:105-107, 250:
  * input/inflow/gen_250_inflow.py:122-124) — so the 150 vs 150_v2 header
  * difference (41550 vs 37814) lives in code paths there; here every model
  * is one table entry, overridable from a JSON config file shaped like the
  * reference's input/inflow/config_*.json with a `head_lines` array added. */
object InflowConfig {
  val headLines: Map[String, Seq[String]] = Map(
    "flo2d_150" -> Seq(
      "0           41550",
      "C               0           41550",
      "H               0               0"),
    "flo2d_150_v2" -> Seq(
      "0           37814",
      "C               0           37814",
      "H               0               0"),
    "flo2d_250" -> Seq(
      "0               0",
      "C               0            8655",
      "H               0               0"))

  def headLinesFor(model: String): Seq[String] =
    headLines.getOrElse(model,
      throw new IllegalArgumentException(
        s"unknown FLO-2D model '$model' (known: ${headLines.keys.mkString(", ")})"))
}

/** INFLOW.DAT — discharge hydrograph `H` rows
  * (reference: input/inflow/gen_150_inflow.py:90-115).
  *
  * First series row only anchors t0 and emits the fixed `H 0 0` (W3); data
  * rows are `'H' + %.1f(elapsed_h).rjust(16) + %.1f(value).rjust(16)` (W1/X3).
  *
  * Row dialects: `genHRow` is the generators' format above; `resHRow` is the
  * archived-artifact dialect of res/flo2d_150_v2/INFLOW.DAT (`'H' + 13
  * spaces + %.1f(elapsed).ljust(14) + str(value)`), byte-verified against
  * that golden file in GoldenArtifactsSpec. */
object InflowDeck {
  import DeckFormat._

  /** gen_150_inflow.py:107-110 format. */
  val genHRow: (Column, Column) => Column = (elapsedH, value) =>
    concat(lit("H"), rjust(fixed(elapsedH, 1), 16), rjust(fixed(value, 1), 16))

  /** res/flo2d_150_v2/INFLOW.DAT archived dialect. */
  val resHRow: (Column, Column) => Column = (elapsedH, value) =>
    concat(lit("H" + " " * 13), ljust(fixed(elapsedH, 1), 14), trimmedFixed(value, 3))

  /** Model-keyed convenience: header constants from [[InflowConfig]]. */
  def linesFor(spark: SparkSession, series: DataFrame, model: String): DataFrame =
    lines(spark, series, InflowConfig.headLinesFor(model))

  /** flo2d_250 variant (reference: input/inflow/gen_250_inflow.py:119-133):
    * different header cells and two trailing `R` rows — the observed water
    * level at cell 2265 (first obs in [start, start+10h], default 0.5) and
    * a fixed 6.6 at cell 3559. */
  def lines250(spark: SparkSession, series: DataFrame, obsWl: Option[Double]): DataFrame = {
    import DeckFormat._
    val base = lines(spark, series, InflowConfig.headLinesFor("flo2d_250"))
    val wl = obsWl.getOrElse(0.5)
    val wlStr = if (wl == wl.toLong.toDouble) s"${wl.toLong}.0" else wl.toString
    val tail = literalLines(spark, 2, Seq(
      "R            2265" + " " * (16 - wlStr.length) + wlStr,
      "R            3559             6.6"))
    stitch(base, tail)
  }

  def lines(spark: SparkSession, series: DataFrame,
      headLines: Seq[String] = InflowConfig.headLinesFor("flo2d_150"),
      hRow: (Column, Column) => Column = genHRow,
      tiebreak: Seq[String] = Nil): DataFrame =
    linesMany(spark, series.withColumn("deck_id", lit("0")), headLines, hRow, tiebreak)
      .drop("deck_id")

  /** Multi-deck form: `series` carries a `deck_id` column; one window
    * partitioned by it numbers the rows and anchors t0, so N inflow decks
    * generate in parallel in one job (the anchor and row numbering are
    * per-deck state, not global), and each deck's first row writes its head
    * lines. `tiebreak` extends the line-numbering order past `time` so
    * duplicate timestamps still produce a deterministic deck (sessionize's
    * contract). */
  def linesMany(spark: SparkSession, series: DataFrame,
      headLines: Seq[String],
      hRow: (Column, Column) => Column = genHRow,
      tiebreak: Seq[String] = Nil): DataFrame = {
    import DeckFormat._
    val ordered = Window.partitionBy("deck_id")
      .orderBy(("time" +: tiebreak).map(col(_).asc): _*)
    // in time order the running minimum is the deck's first time: t0
    val rows = series.select(col("*"),
      row_number().over(ordered).as("__n"),
      min(unix_micros(col("time")))
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("__t0"))
    val elapsedH = (unix_micros(col("time")) - col("__t0")) / lit(3.6e9)
    val heads = headLines.zipWithIndex.map { case (l, i) =>
      Line(col("__n") === 1, 0, lit(i.toLong), lit(l))
    }
    emit(rows, Seq("deck_id"),
      heads :+ Line(col("__n") > 1, 1, col("__n"), hRow(elapsedH, col("value"))): _*)
  }
}

/** OUTFLOW.DAT — per-boundary tidal `S` rows under `K`/`N` headers
  * (reference: input/outflow/gen_outflow.py:95-135, 226-249).
  *
  * `boundaries` = (block_order INT, cell STRING); `tides` = (cell, time,
  * value) raw per-boundary series. The elapsed-hours anchor is the FIRST raw
  * row (sentinels included — reference anchors `tide_ts[0][0]` before the
  * −99999 skip); sentinel rows are then dropped (F3). The S rows of every
  * boundary come out of one pass over the tides partitioned by cell and
  * union with the K and N lines into one deck (§2.7).
  */
object OutflowDeck {
  def lines(spark: SparkSession, boundaries: DataFrame, tides: DataFrame,
      kCells: Seq[String], tiebreak: Seq[String] = Nil): DataFrame = {
    import DeckFormat._
    val kSection = DeckFormat.literalLines(spark, 0,
      kCells.map(c => "K" + " " * (16 - c.length) + c))
    val nLines = boundaries.select(
      lit(1).as("section"),
      (col("block_order").cast("long") * 1000000L).as("seq"),
      concat(lit("N"), rjust(col("cell"), 16), rjust(lit("1"), 16)).as("line"))
    // boundaries are dimension-sized (a handful of cells): a literal
    // cell → block-orders map stands in for a broadcast join; a cell listed
    // twice still writes its rows under both blocks, an unlisted one none
    val blockOrders = typedlit(boundaries.select(col("cell"), col("block_order").cast("long"))
      .collect().toSeq.groupMap(_.getString(0))(_.getLong(1)))
    val ordered = Window.partitionBy("cell")
      .orderBy(("time" +: tiebreak).map(col(_).asc): _*)
    // one window: in time order the running minimum is the anchor t0
    val sRows = tides
      .select(col("*"), row_number().over(ordered).as("rn"),
        min(unix_micros(col("time")))
          .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("t0_us"))
      // exact double equality, like the reference's `== -99999` — an int
      // cast would also drop legitimate values truncating to -99999
      .filter(col("value") =!= lit(Sentinels.InvalidTide))
      .withColumn("block_order", explode(blockOrders(col("cell"))))
      .select(
        lit(1).as("section"),
        (col("block_order") * 1000000L + col("rn")).as("seq"),
        concat(lit("S"),
          rjust(fixed((unix_micros(col("time")) - col("t0_us")) / lit(3.6e9), 3), 16),
          rjust(fixed(col("value"), 3), 16)).as("line"))
    stitch(kSection, nLines, sRows)
  }

  /** Archived-artifact dialect of res/flo2d_150_v2/OUTFLOW.DAT (byte-verified
    * in GoldenArtifactsSpec): K/N cells left-aligned after 14 spaces, S rows
    * numbered 1..n per boundary with `str(float)`-trimmed values and a
    * trailing space, and the literal template tail (the reference appends
    * input/outflow/tail_150_v2.txt, gen_outflow.py:250-255). Sentinel rows
    * are dropped before numbering, so emitted S rows stay contiguous. */
  def linesRes(spark: SparkSession, boundaries: DataFrame, tides: DataFrame,
      kCells: Seq[String], tailLines: Seq[String],
      tiebreak: Seq[String] = Nil): DataFrame = {
    import DeckFormat._
    val kSection = DeckFormat.literalLines(spark, 0,
      kCells.map(c => "K" + " " * 14 + c))
    val nLines = boundaries.select(
      lit(1).as("section"),
      (col("block_order").cast("long") * 1000000L).as("seq"),
      concat(lit("N" + " " * 14), ljust(col("cell"), 14), lit("1 ")).as("line"))
    val sRows = tides
      .filter(col("value") =!= lit(Sentinels.InvalidTide))
      .withColumn("rn", row_number().over(Window.partitionBy("cell")
        .orderBy(("time" +: tiebreak).map(col(_).asc): _*)))
      .join(boundaries, Seq("cell"))
      .select(
        lit(1).as("section"),
        (col("block_order").cast("long") * 1000000L + col("rn")).as("seq"),
        concat(lit("S" + " " * 14), ljust(col("rn").cast("string"), 14),
          trimmedFixed(col("value"), 3), lit(" ")).as("line"))
    stitch(kSection, nLines, sRows, literalLines(spark, 2, tailLines))
  }
}

/** Boundary-cell → tide-grid dict from the reference's outflow config JSON
  * (reference: input/outflow/config_150_v2.json, gen_outflow.py:226-249).
  * The dict's INSERTION order is the deck's block order — the reference
  * emits N blocks in iteration order of `tide_config_dict` — so parsing
  * goes through Jackson's order-preserving node tree, not a Spark JSON
  * scan (driver-side, dimension-sized: a handful of boundary cells). */
object OutflowConfig {
  /** (block_order, cell, tide_id) rows for `configKey`
    * (e.g. "tide_ids_150_v2"). */
  def boundariesFromJson(spark: SparkSession, path: String,
      configKey: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    val node = root.get(configKey)
    require(node != null && node.isObject,
      s"outflow config '$path' has no object at key '$configKey' " +
        s"(available: ${root.fieldNames.asScala.mkString(", ")})")
    import spark.implicits._
    node.fields.asScala.zipWithIndex
      .map { case (e, i) => (i, e.getKey, e.getValue.asText) }
      .toSeq.toDF("block_order", "cell", "tide_id")
  }

  /** Re-key a (cell=tide_id, time, value) tide series to boundary cells:
    * each boundary gets its own copy of its tide station's series, exactly
    * as the reference calls prepare_tide_data_set once per boundary with
    * the dict's grid id (gen_outflow.py:231-249). Broadcast join — the
    * config side is a handful of rows. */
  def tidesForBoundaries(tides: DataFrame, boundaries: DataFrame): DataFrame = {
    val dim = boundaries.select(col("cell").as("__b_cell"), col("tide_id"))
    tides.join(broadcast(dim), tides("cell") === dim("tide_id"))
      .select(col("__b_cell").as("cell"), tides("time"), tides("value"))
  }
}

/** RAINCELL.DAT — per-timestep cell-rain blocks
  * (reference: input/raincell/gen_raincell.py:99-147).
  *
  * One range scan replaces the reference's one-proc-call-per-timestep loop
  * (S3): blocks are the right-closed timestep buckets, each cell row gets the
  * model's water-supply correction (X12), a blank line closes each block.
  * Ordered by (timestep, cell); the header carries timestep count and range.
  * No window and no exchange: every line's `seq` is arithmetic, and the
  * blank lines come from the steps present, deduplicated in one task.
  */
object RaincellDeck {
  def lines(spark: SparkSession, cells: DataFrame, startTime: String, endTime: String,
      targetModel: String): DataFrame = {
    import DeckFormat._
    val (stepMin, waterSupply) = targetModel match {
      case "flo2d_250" => (5, 1.0 / (24 * 12))
      case "flo2d_150" | "flo2d_150_v2" => (15, 1.0 / (24 * 4))
      case _ => (5, 1.0 / (24 * 12))
    }
    val length = ((graft.model.SlTime.microsOf(endTime) -
      graft.model.SlTime.microsOf(startTime)) / 60000000L / stepMin).toInt
    val header = DeckFormat.literalLines(spark, 0,
      Seq(s"$stepMin $length $startTime $endTime"))
    val stepped = cells
      .withColumn("step", TimeSeriesOps.bucketRightClosedTs(col("time"), stepMin * 60L))
      .filter(col("step") > lit(startTime).cast("timestamp") &&
        col("step") <= lit(endTime).cast("timestamp"))
    // seq = epoch-seconds * 4e6 + cell; the block-closing blank sits at the
    // reserved top slot 3,999,999, so cell ids up to 3,999,998 are safe
    // (150_v2 has 39,526 — res/grids/flo2d_150_v2m.csv) and Long holds
    // through epoch-seconds ~2.3e12 (year ~74,000). Oversized ids fail
    // loudly instead of silently corrupting block order.
    val guardedCell = when(col("cell_id").cast("long") >= 3999999L,
      raise_error(concat(lit("RaincellDeck: cell_id exceeds seq capacity (3,999,998): "),
        col("cell_id").cast("string"))).cast("long"))
      .otherwise(col("cell_id").cast("long"))
    val cellRows = stepped.select(
      lit(1).as("section"),
      (unix_seconds(col("step")) * 4000000L + guardedCell).as("seq"),
      concat(col("cell_id").cast("string"), lit(" "),
        fixed(col("value") + lit(waterSupply), 3)).as("line"))
    // one blank per step present: the steps (at most `length` of them)
    // deduplicate in one task of the same stage as the cell lines, reading
    // only the time column — no exchange and no job of their own
    val blanks = stepped.select("step").coalesce(1).distinct().select(
      lit(1).as("section"),
      (unix_seconds(col("step")) * 4000000L + 3999999L).as("seq"),
      lit("").as("line"))
    stitch(header, blanks, cellRows)
  }

}

/** CHAN.DAT — template head/tail around a generated body where each channel
  * node pair takes its observed initial water level if present, else the
  * template default (reference: input/chan/gen_chan.py:129-190, J6).
  *
  * `bodyPairs` = (pair_idx, up, up_default, down, down_default);
  * `conditions` = (grid_id, wl_id, wl_id_dwn) initial-condition lookup;
  * `obsFirstWl` = (wl_id, wl) first observed value in [start, start+2h]
  * per id (S4). All three are dimension-sized → broadcast joins.
  */
object ChanDeck {
  import DeckFormat._

  /** gen_chan.py:166-180 format: cell.ljust(6) + value.rjust(6). */
  val genBodyRow: (Column, Column) => Column = (cell, value) =>
    concat(ljust(cell, 6), rjust(value, 6))

  /** Archived-artifact dialect of res/flo2d_150_v2/CHAN.DAT body rows
    * (byte-verified in GoldenArtifactsSpec): `' ' + cell + 4 spaces + value`
    * with the leading zero of `0.x` values stripped (`.5`, `.798`). */
  val resBodyRow: (Column, Column) => Column = (cell, value) =>
    concat(lit(" "), cell, lit("    "), regexp_replace(value, "^0\\.", "."))

  def lines(spark: SparkSession, model: String, bodyPairs: DataFrame,
      conditions: DataFrame, obsFirstWl: DataFrame,
      headLines: Seq[String], tailLines: Seq[String],
      bodyRow: (Column, Column) => Column = genBodyRow): DataFrame = {
    // one broadcast of the observations serves both the upstream and the
    // downstream lookup
    val wl = broadcast(obsFirstWl.select(col("wl_id").as("__obs_id"), col("wl")))
    val (upObs, downObs) = (wl.as("__up"), wl.as("__down"))
    val joined = bodyPairs
      .withColumn("grid_id",
        concat_ws("_", lit(model), col("up"), col("down")))
      .join(broadcast(conditions), Seq("grid_id"), "left")
      .join(upObs, col("wl_id") === col("__up.__obs_id"), "left")
      .join(downObs, col("wl_id_dwn") === col("__down.__obs_id"), "left")
    val (upWl, downWl) = (col("__up.wl"), col("__down.wl"))
    // reference :163-178 — when no downstream id exists, the upstream
    // observation (if any) is written for BOTH nodes of the pair
    val upVal = coalesce(upWl, col("up_default").cast("string"))
    val downVal = when(col("wl_id_dwn").isNull, coalesce(upWl, col("down_default").cast("string")))
      .otherwise(coalesce(downWl, col("down_default").cast("string")))
    // both nodes of a pair from one evaluation of the joined spine
    val pair = col("pair_idx").cast("long") * 2
    val body = emit(joined, Nil,
      Line(lit(true), 1, pair, bodyRow(col("up"), upVal)),
      Line(lit(true), 1, pair + 1, bodyRow(col("down"), downVal)))
    stitch(literalLines(spark, 0, headLines), body, literalLines(spark, 2, tailLines))
  }
}
