package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.decks.{ChanDeck, InflowDeck, OutflowDeck, RaincellDeck}
import graft.extract.FloOutputParsers

/** FLO-2D parity operators (SURVEY.md §2 S7/S8, K1 decks, X1/X2, F2, A7)
  * demonstrated on the driver's synthetic tables.
  *
  * Parser queries are ROUND-TRIPS: deterministic report text is formatted
  * from `events`, parsed back by the real S7/S8 operators, and the oracle
  * recomputes the expected frame directly — so the text → blocks → rows
  * machinery itself is what the hash compare certifies.
  *
  * Formatting determinism: all fixed-point renders use values where Java's
  * HALF_UP and C/DuckDB's round-half-even agree — 2-decimal inputs at %.2f/
  * %.3f (no rounding occurs) — so cross-engine printf is byte-identical.
  */
object ParityQueries {
  import Tables.t

  private def evBase(s: SparkSession, dir: String) =
    Tables.events(s, dir)
      .filter(col("user_id") < 6 && !isnan(col("value")))

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- S7: HYCHAN block parse round-trip --------------------------------
    "q_s7_hychan" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = evBase(s, dir).withColumn("rn", row_number().over(w))
        val headers = ev.groupBy("user_id").agg(min(lit(0)).as("z"))
          .select(col("user_id"), lit(0L).as("rn"),
            format_string("     CHANNEL HYDROGRAPH FOR ELEMENT NO:    %d", col("user_id")).as("line"))
        val data = ev.select(col("user_id"), col("rn").cast("long").as("rn"),
          format_string("   %d.0    %.2f    0.10    0.20    %.2f",
            col("rn"), col("value"), col("value") * 2).as("line"))
        val lines = headers.unionByName(data)
          .select(lit("mem").as("file"),
            (col("user_id").cast("long") * 1000000L + col("rn")).as("line_no"), col("line"))
        FloOutputParsers.parseHychan(lines)
          .select(col("element"), col("step_hours"), col("value"))
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS element, rn * 1.0 AS step_hours, value
             |FROM (SELECT user_id, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |      FROM events WHERE user_id < 6 AND NOT isnan(value))""".stripMargin)),

    // ---- S7 variant: discharge column pick (extract_discharge col 4) ------
    "q_s7_discharge" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = evBase(s, dir).withColumn("rn", row_number().over(w))
        val headers = ev.groupBy("user_id").agg(min(lit(0)).as("z"))
          .select(col("user_id"), lit(0L).as("rn"),
            format_string("     CHANNEL HYDROGRAPH FOR ELEMENT NO:    %d", col("user_id")).as("line"))
        val data = ev.select(col("user_id"), col("rn").cast("long").as("rn"),
          format_string("   %d.0    %.2f    0.10    0.20    %.2f",
            col("rn"), col("value"), col("value") * 2).as("line"))
        val lines = headers.unionByName(data)
          .select(lit("mem").as("file"),
            (col("user_id").cast("long") * 1000000L + col("rn")).as("line_no"), col("line"))
        FloOutputParsers.parseHychan(lines, valueIndex = 4)
          .groupBy("element")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_discharge"))
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS element, count(*) AS n,
             |  round(sum(value * 2), 2) AS sum_discharge
             |FROM events WHERE user_id < 6 AND NOT isnan(value)
             |GROUP BY 1""".stripMargin)),

    // ---- S8: TIMDEP block parse + −999 fill round-trip --------------------
    "q_s8_timdep" -> QueryDef(
      (s, dir) => {
        val HourNs = 3600000000000L
        val ev = evBase(s, dir)
          .withColumn("hr_ns", col("ts") - pmod(col("ts"), lit(HourNs)))
          .withColumn("blk", dense_rank().over(Window.orderBy("hr_ns")))
          .filter(col("blk") <= 48)
          .groupBy("blk", "user_id")
          .agg(round(sum("value"), 2).as("v"))
        val headers = ev.select("blk").distinct()
          .select(col("blk"), lit(-1L).as("sub"),
            format_string("   %d.0", col("blk")).as("line"))
        val data = ev.select(col("blk"), col("user_id").cast("long").as("sub"),
          format_string("    %d   0.1   0.2   0.3   0.4   %.2f",
            col("user_id"), col("v")).as("line"))
        val lines = headers.unionByName(data)
          .select(lit("mem").as("file"),
            (col("blk").cast("long") * 100L + col("sub") + 1L).as("line_no"), col("line"))
        val parsed = FloOutputParsers.parseTimdep(lines)
        val elements = ev.select(col("user_id").cast("string").as("element")).distinct()
        FloOutputParsers.fillMissing(parsed, elements)
          .select(col("element"), col("step_hours"), col("value"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, value,
             |    dense_rank() OVER (ORDER BY epoch_ns(ts) - (epoch_ns(ts) % 3600000000000)) AS blk
             |  FROM events WHERE user_id < 6 AND NOT isnan(value)),
             |cells AS (SELECT blk, user_id, round(sum(value), 2) AS v FROM ev
             |          WHERE blk <= 48 GROUP BY 1, 2),
             |blocks AS (SELECT DISTINCT blk FROM cells),
             |elems AS (SELECT DISTINCT user_id FROM cells)
             |SELECT CAST(e.user_id AS VARCHAR) AS element, b.blk * 1.0 AS step_hours,
             |  coalesce(c.v, -999.0) AS value
             |FROM blocks b CROSS JOIN elems e
             |LEFT JOIN cells c ON c.blk = b.blk AND c.user_id = e.user_id""".stripMargin)),

    // ---- K1 deck: INFLOW H-rows (anchored %.1f, W1/W3/X4/X5) --------------
    "q_deck_inflow" -> QueryDef(
      (s, dir) => {
        // x.3-valued series: %.1f never rounds, so Java and C printf agree
        val series = evBase(s, dir).filter(col("user_id") === 3)
          .select(timestamp_micros(expr("ts div 1000")).as("time"),
            (floor(col("value")) + lit(0.3)).as("value"))
        InflowDeck.lines(s, series)
      },
      Some("""WITH series AS (
             |  SELECT ts, floor(value) + 0.3 AS value,
             |    row_number() OVER (ORDER BY ts) AS rn,
             |    min(epoch_us(ts)) OVER () AS t0
             |  FROM events WHERE user_id = 3 AND NOT isnan(value)),
             |head AS (
             |  SELECT 0 AS section, CAST(row_number() OVER () - 1 AS BIGINT) AS seq, line FROM (
             |    VALUES ('0           41550'),
             |           ('C               0           41550'),
             |           ('H               0               0')) v(line)),
             |rows_ AS (
             |  SELECT 1 AS section, CAST(rn AS BIGINT) AS seq,
             |    'H' || lpad(printf('%.1f', (epoch_us(ts) - t0) / 3600000000.0), 16, ' ')
             |        || lpad(printf('%.1f', value), 16, ' ') AS line
             |  FROM series WHERE rn > 1)
             |SELECT section, seq, line FROM head
             |UNION ALL SELECT section, seq, line FROM rows_""".stripMargin)),

    // ---- K1 deck: OUTFLOW K/N/S stitch + sentinel skip (F3, §2.7 union) ---
    "q_deck_outflow" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val boundaries = Seq((0, "1"), (1, "2")).toDF("block_order", "cell")
        val tides = Tables.events(s, dir)
          .filter(col("user_id").isin(1, 2) && !isnan(col("value")))
          .select(col("user_id").cast("string").as("cell"),
            timestamp_micros(expr("ts div 1000")).as("time"),
            when(col("value") < 5, lit(-99999.0)).otherwise(col("value")).as("value"))
        OutflowDeck.lines(s, boundaries, tides, Seq("268", "1174"))
      },
      Some("""WITH tides AS (
             |  SELECT CAST(user_id AS VARCHAR) AS cell, ts,
             |    CASE WHEN value < 5 THEN -99999.0 ELSE value END AS value,
             |    CASE WHEN user_id = 1 THEN 0 ELSE 1 END AS block_order,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
             |    min(epoch_us(ts)) OVER (PARTITION BY user_id) AS t0
             |  FROM events WHERE user_id IN (1, 2) AND NOT isnan(value)),
             |k AS (SELECT 0 AS section, CAST(row_number() OVER () - 1 AS BIGINT) AS seq, line
             |      FROM (VALUES ('K             268'), ('K            1174')) v(line)),
             |n AS (SELECT 1 AS section, CAST(block_order * 1000000 AS BIGINT) AS seq,
             |        'N' || lpad(cell, 16, ' ') || lpad('1', 16, ' ') AS line
             |      FROM (SELECT DISTINCT cell, block_order FROM tides)),
             |sr AS (SELECT 1 AS section, CAST(block_order * 1000000 + rn AS BIGINT) AS seq,
             |        'S' || lpad(printf('%.3f', (epoch_us(ts) - t0) / 3600000000.0), 16, ' ')
             |            || lpad(printf('%.3f', value), 16, ' ') AS line
             |      FROM tides WHERE value <> -99999.0)
             |SELECT * FROM k UNION ALL SELECT * FROM n UNION ALL SELECT * FROM sr""".stripMargin)),

    // ---- K1 deck: CHAN body (J4 composite lookup + J6 coalesce + S4) ------
    // Channel node pairs take their first-observed initial water level when
    // the composite-key conditions lookup supplies one, else the template
    // default; a pair with no downstream id writes the UPSTREAM observation
    // for both nodes (reference: input/chan/gen_chan.py:129-178). The
    // fixture drives all four branches: obs-hit, obs-miss → default,
    // missing condition row, and NULL wl_id_dwn → upstream-for-both.
    "q_deck_chan" -> QueryDef(
      (s, dir) => {
        val nation = t(s, dir, "nation")
        def cell(k: org.apache.spark.sql.Column) =
          concat(lit("c"), k.cast("string"))
        val pairs = nation.select(
          col("n_nationkey").cast("long").as("pair_idx"),
          cell(col("n_nationkey") * 2).as("up"),
          format_string("%.2f", col("n_nationkey") * 0.25 + 1.0).as("up_default"),
          cell(col("n_nationkey") * 2 + 1).as("down"),
          format_string("%.2f", col("n_nationkey") * 0.25 + 1.5).as("down_default"))
        val conditions = nation.filter(col("n_nationkey") % 3 === 0).select(
          concat_ws("_", lit("flo2d_150_v2"),
            cell(col("n_nationkey") * 2), cell(col("n_nationkey") * 2 + 1))
            .as("grid_id"),
          concat(lit("wl"), col("n_nationkey").cast("string")).as("wl_id"),
          when(col("n_nationkey") % 2 === 0,
            concat(lit("wl"), (col("n_nationkey") + 1).cast("string")))
            .as("wl_id_dwn"))
        val obs = evBase(s, dir)
          .groupBy(col("user_id"))
          .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("v"))
          .select(concat(lit("wl"), col("user_id").cast("string")).as("wl_id"),
            format_string("%.2f", round(col("v"), 2)).as("wl"))
        ChanDeck.lines(s, "flo2d_150_v2", pairs, conditions, obs,
          Seq("CHAN HEAD A", "CHAN HEAD B"), Seq("CHAN TAIL"))
      },
      Some("""WITH pairs AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS pair_idx,
             |    'c' || CAST(n_nationkey * 2 AS VARCHAR) AS up,
             |    printf('%.2f', n_nationkey * 0.25 + 1.0) AS up_default,
             |    'c' || CAST(n_nationkey * 2 + 1 AS VARCHAR) AS down,
             |    printf('%.2f', n_nationkey * 0.25 + 1.5) AS down_default
             |  FROM nation),
             |conds AS (
             |  SELECT 'flo2d_150_v2_c' || CAST(n_nationkey * 2 AS VARCHAR)
             |      || '_c' || CAST(n_nationkey * 2 + 1 AS VARCHAR) AS grid_id,
             |    'wl' || CAST(n_nationkey AS VARCHAR) AS wl_id,
             |    CASE WHEN n_nationkey % 2 = 0
             |      THEN 'wl' || CAST(n_nationkey + 1 AS VARCHAR) END AS wl_id_dwn
             |  FROM nation WHERE n_nationkey % 3 = 0),
             |obs AS (
             |  SELECT 'wl' || CAST(user_id AS VARCHAR) AS wl_id,
             |    printf('%.2f', round(first(value ORDER BY ts, event_id), 2)) AS wl
             |  FROM events WHERE user_id < 6 AND NOT isnan(value)
             |  GROUP BY user_id),
             |j AS (
             |  SELECT p.*, c.wl_id_dwn, ou.wl AS up_wl, od.wl AS down_wl
             |  FROM pairs p
             |  LEFT JOIN conds c
             |    ON c.grid_id = 'flo2d_150_v2_' || p.up || '_' || p.down
             |  LEFT JOIN obs ou ON ou.wl_id = c.wl_id
             |  LEFT JOIN obs od ON od.wl_id = c.wl_id_dwn),
             |body AS (
             |  SELECT 1 AS section, CAST(pair_idx * 2 AS BIGINT) AS seq,
             |    rpad(up, 6, ' ') || lpad(coalesce(up_wl, up_default), 6, ' ') AS line
             |  FROM j
             |  UNION ALL
             |  SELECT 1, CAST(pair_idx * 2 + 1 AS BIGINT),
             |    rpad(down, 6, ' ') || lpad(
             |      CASE WHEN wl_id_dwn IS NULL THEN coalesce(up_wl, down_default)
             |           ELSE coalesce(down_wl, down_default) END, 6, ' ')
             |  FROM j),
             |head AS (SELECT 0 AS section, CAST(row_number() OVER () - 1 AS BIGINT) AS seq, line
             |  FROM (VALUES ('CHAN HEAD A'), ('CHAN HEAD B')) v(line)),
             |tl AS (SELECT 2 AS section, CAST(0 AS BIGINT) AS seq, 'CHAN TAIL' AS line)
             |SELECT * FROM head UNION ALL SELECT * FROM body
             |UNION ALL SELECT * FROM tl""".stripMargin)),

    // ---- K1 deck: RAINCELL blocks + water-supply correction (S3/X12) ------
    "q_deck_raincell" -> QueryDef(
      (s, dir) => {
        val start = "2024-01-01 00:00:00"
        val end = "2024-01-01 04:00:00"
        val cells = Tables.events(s, dir)
          .filter(!isnan(col("value")))
          .select(timestamp_micros(expr("ts div 1000")).as("raw_time"),
            col("user_id").as("cell_id"), col("value"))
          .withColumn("time",
            graft.ops.TimeSeriesOps.bucketRightClosedTs(col("raw_time"), 300))
          .groupBy("time", "cell_id")
          .agg(round(sum("value"), 2).as("value"))
        RaincellDeck.lines(s, cells, start, end, "flo2d_250")
      },
      // 250 water supply = 1/288 ≈ 0.003472: 2-dec value + it → %.3f exact
      Some("""WITH cells AS (
             |  SELECT epoch_ns(ts) - 1 - ((epoch_ns(ts) - 1) % 300000000000) + 300000000000 AS step_ns,
             |    user_id AS cell_id, round(sum(value), 2) AS value
             |  FROM events WHERE NOT isnan(value)
             |  GROUP BY 1, 2),
             |win AS (SELECT * FROM cells
             |  WHERE step_ns > epoch_ns(TIMESTAMP '2024-01-01 00:00:00')
             |    AND step_ns <= epoch_ns(TIMESTAMP '2024-01-01 04:00:00')),
             |hdr AS (SELECT 0 AS section, CAST(0 AS BIGINT) AS seq,
             |  '5 48 2024-01-01 00:00:00 2024-01-01 04:00:00' AS line),
             |rows_ AS (SELECT 1 AS section,
             |  CAST(step_ns / 1000000000 * 4000000 + cell_id AS BIGINT) AS seq,
             |  CAST(cell_id AS VARCHAR) || ' ' || printf('%.3f', value + 1.0 / 288) AS line
             |  FROM win),
             |blanks AS (SELECT 1 AS section,
             |  CAST(step_ns / 1000000000 * 4000000 + 3999999 AS BIGINT) AS seq, '' AS line
             |  FROM (SELECT DISTINCT step_ns FROM win))
             |SELECT * FROM hdr UNION ALL SELECT * FROM rows_ UNION ALL SELECT * FROM blanks""".stripMargin)),

    // ---- K1 deck: RAIN cumulative curve (grid join + resample + cumsum) ---
    "q_deck_rain" -> QueryDef(
      (s, dir) => {
        // series: per-5-min bucket sums of user-3 events in a 1-day window,
        // a real (time, value) rain series shape
        val start = "2024-01-01 00:00:00"
        val end = "2024-01-02 00:00:00"
        val series = Tables.events(s, dir)
          .filter(col("user_id") === 3 && !isnan(col("value")))
          .select(timestamp_micros(expr("ts div 1000")).as("raw_time"), col("value"))
          .withColumn("time",
            graft.ops.TimeSeriesOps.bucketRightClosedTs(col("raw_time"), 300))
          .groupBy("time").agg(round(sum("value"), 2).as("value"))
        graft.decks.RainDeck.lines(s, series, start, end, "flo2d_250")
      },
      Some("""WITH series AS (
             |  SELECT to_timestamp((epoch_ns(ts)-1 - ((epoch_ns(ts)-1) % 300000000000)
             |           + 300000000000) / 1000000000) AS time,
             |         round(sum(value), 2) AS value
             |  FROM events WHERE user_id = 3 AND NOT isnan(value) GROUP BY 1),
             |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
             |  TIMESTAMP '2024-01-02 00:00:00', INTERVAL 5 MINUTE)) AS time),
             |joined AS (SELECT g.time, s.value FROM grid g JOIN series s USING (time)
             |  WHERE s.value IS NOT NULL AND s.value >= 0),
             |cum AS (SELECT time, value,
             |  sum(value) OVER (ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             |  sum(value) OVER () AS total,
             |  row_number() OVER (ORDER BY time) AS rn,
             |  (epoch_us(time) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) / 3600000000.0 AS eh
             |  FROM joined),
             |rrows AS (SELECT 1 AS section, CAST(rn AS BIGINT) AS seq,
             |  'R              ' || rpad(printf('%.3f', eh), 14, ' ')
             |    || printf('%.3f', CASE WHEN total > 0 THEN c / total ELSE 0 END) || ' ' AS line
             |  FROM cum),
             |hdr AS (
             |  SELECT 0 AS section, CAST(0 AS BIGINT) AS seq, ' 0             0 ' AS line
             |  UNION ALL
             |  SELECT 0, 1, ' ' || printf('%.3f', coalesce((SELECT max(total) FROM cum), 0.0))
             |    || '         5             0             0 ')
             |SELECT * FROM hdr UNION ALL SELECT * FROM rrows""".stripMargin)),

    // ---- X1/X2: datetime parse/format + interval arithmetic (SL offset) ---
    "q_x1_datetime" -> QueryDef(
      (s, dir) => {
        t(s, dir, "orders").filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("formatted"),
            date_format(col("o_orderdate") + expr("INTERVAL 5 HOURS 30 MINUTES"),
              "yyyy-MM-dd HH:mm:ss").as("sl_time"),
            ((unix_micros(col("o_orderdate").cast("timestamp")) / lit(3.6e9))).as("epoch_h"))
      },
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS formatted,
             |  strftime(o_orderdate + INTERVAL '5 hours 30 minutes', '%Y-%m-%d %H:%M:%S') AS sl_time,
             |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) / 3600000000.0 AS epoch_h
             |FROM orders WHERE o_orderkey < 2000""".stripMargin)),

    // ---- F2: forecast-horizon suffix filter per series --------------------
    "q_f2_horizon" -> QueryDef(
      (s, dir) => {
        // cutoff is a µs-multiple → raw `>= cutoff` ≡ truncated `>= cutoff`,
        // stated on the native column so it pushes to the parquet scan
        // (partition pruning at scale)
        val cutoff = 1704067200000000000L + 15L * 24 * 3600000000000L
        Tables.eventsRawFiltered(s, dir)(_.geqNs(cutoff))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_after"), min("ts").as("first_ts"))
      },
      Some(s"""SELECT user_id, count(*) AS n_after, min(epoch_ns(ts)) AS first_ts
              |FROM events WHERE epoch_ns(ts) >= ${1704067200000000000L + 15L * 24 * 3600000000000L}
              |GROUP BY user_id""".stripMargin)),

    // ---- As-of join (time-series lookup join; DuckDB native ASOF oracle) --
    "q_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = evBase(s, dir)
        val trades = ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select("user_id", "event_id", "ts", "value")
        val quotes = ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("user_id"), col("ts"), col("value").as("px"))
        graft.ops.TimeSeriesOps.asofJoin(trades, quotes, Seq("user_id"), timeCol = "ts")
          .select("user_id", "event_id", "value", "asof_px")
      },
      Some("""WITH l AS (SELECT user_id, event_id, ts, value FROM events
             |    WHERE event_id % 2 = 0 AND user_id < 6 AND NOT isnan(value)),
             |r AS (SELECT user_id, ts, value AS px FROM events
             |    WHERE event_id % 2 = 1 AND user_id < 6 AND NOT isnan(value))
             |SELECT l.user_id AS user_id, l.event_id AS event_id, l.value AS value,
             |  r.px AS asof_px
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // ---- As-of join, NATIVE operator form: custom LogicalPlan → Strategy
    // → streaming sort-merge AsOfJoinExec (one buffered right row; no
    // window buffer, no union). Same oracle as q_asof_join — the operator
    // is an execution change, never a semantics change -------------------
    "q_asof_native" -> QueryDef(
      (s, dir) => {
        val ev = evBase(s, dir)
        val trades = ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select("user_id", "event_id", "ts", "value")
        val quotes = ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("user_id"), col("ts"), col("value").as("px"))
        graft.ops.TimeSeriesOps.asofJoinNative(trades, quotes, Seq("user_id"),
            timeCol = "ts", rightTiebreak = Seq("px"))
          .select("user_id", "event_id", "value", "asof_px")
      },
      Some("""WITH l AS (SELECT user_id, event_id, ts, value FROM events
             |    WHERE event_id % 2 = 0 AND user_id < 6 AND NOT isnan(value)),
             |r AS (SELECT user_id, ts, value AS px FROM events
             |    WHERE event_id % 2 = 1 AND user_id < 6 AND NOT isnan(value))
             |SELECT l.user_id AS user_id, l.event_id AS event_id, l.value AS value,
             |  r.px AS asof_px
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // ---- Interval/range join (bucketed equi-join + exact refine) ----------
    "q_range_join" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(!isnan(col("value")))
          .withColumn("t", timestamp_micros(expr("ts div 1000")))
        val intervals = ev.filter(col("user_id") === 0 && pmod(col("event_id"), lit(50)) === 0)
          .select(col("event_id").as("interval_id"), col("t").as("start"),
            (col("t") + expr("INTERVAL 2 HOURS")).as("end"))
        val points = ev.filter(col("user_id").between(1, 3))
          .select(col("user_id"), col("t").as("time"), col("value"))
        graft.ops.TimeSeriesOps.rangeJoin(
            points.withColumn("k", lit(1)), intervals.withColumn("k", lit(1)), Seq("k"))
          .groupBy("interval_id")
          .agg(count(lit(1)).as("n_points"), round(sum("value"), 2).as("sum_value"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, ts, value FROM events WHERE NOT isnan(value)),
             |i AS (SELECT event_id AS interval_id, ts AS s, ts + INTERVAL 2 HOURS AS e
             |      FROM ev WHERE user_id = 0 AND event_id % 50 = 0),
             |p AS (SELECT ts, value FROM ev WHERE user_id BETWEEN 1 AND 3)
             |SELECT interval_id, count(*) AS n_points, round(sum(value), 2) AS sum_value
             |FROM p JOIN i ON p.ts BETWEEN i.s AND i.e
             |GROUP BY 1""".stripMargin)),

    // ---- Sessionization (gap-based session windows, batch form) -----------
    "q_sessionize" -> QueryDef(
      (s, dir) => {
        val ev = evBase(s, dir)
          .withColumn("t", timestamp_micros(expr("ts div 1000")))
        graft.ops.TimeSeriesOps.sessionize(ev, Seq("user_id"), "t", gapSeconds = 1800,
            tiebreak = Seq("event_id"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            (max(col("ts")) - min(col("ts"))).as("span_ns"))
      },
      // (ts, event_id) tiebreak in BOTH engines: duplicate (user_id, ts)
      // rows otherwise land in sessions in whichever tie order each window
      // pass picks, flipping the hash while rows_match stays green.
      // session_id CAST AS BIGINT: DuckDB's integer window sum is HUGEINT,
      // which pandas renders float64 ("0.0") — hash-diverges from Spark's
      // long ("0") even when every value is equal.
      Some("""WITH g AS (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
             |         WHEN epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000 THEN 1
             |         ELSE 0 END AS is_new
             |  FROM events WHERE user_id < 6 AND NOT isnan(value)
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (SELECT user_id, ts,
             |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM g)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  max(epoch_ns(ts)) - min(epoch_ns(ts)) AS span_ns
             |FROM sess GROUP BY 1, 2""".stripMargin)),

    // ---- Time-weighted average: sample-and-hold integral over an
    // irregular series — a plain avg() over-weights chatty periods. One
    // per-user sort (lead) + one hash aggregate ---------------------------
    "q_twap" -> QueryDef(
      (s, dir) => {
        val from = 1704067200000000000L
        val to = from + 30L * 24 * 3600000000000L
        graft.ops.TimeSeriesOps.timeWeightedAvg(
          evBase(s, dir).select("user_id", "ts", "event_id", "value"),
          Seq("user_id"), "ts", "value", from, to, tiebreak = Seq("event_id"))
          .select(col("user_id"), round(col("twap"), 4).as("twap"), col("n_obs"))
      },
      Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value
              |  FROM events WHERE user_id < 6 AND NOT isnan(value)
              |    AND epoch_ns(ts) >= ${1704067200000000000L}
              |    AND epoch_ns(ts) < ${1704067200000000000L + 30L * 24 * 3600000000000L}),
              |w AS (SELECT user_id, value,
              |    (coalesce(lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id),
              |      ${1704067200000000000L + 30L * 24 * 3600000000000L}) - t)::DOUBLE AS w
              |  FROM e)
              |SELECT user_id, round(sum(value * w) / sum(w), 4) AS twap,
              |  count(*) AS n_obs
              |FROM w GROUP BY 1""".stripMargin)),

    // ---- OHLC bar compaction: tick-grade series -> per-bucket
    // open/high/low/close bars; open/close via min_by/max_by on a
    // (time, id) key so duplicate timestamps pick deterministically ------
    "q_ohlc" -> QueryDef(
      (s, dir) => graft.ops.TimeSeriesOps.ohlcBars(
        evBase(s, dir).select("user_id", "ts", "event_id", "value"),
        Seq("user_id"), "ts", "value", stepSeconds = 86400,
        tiebreak = Seq("event_id")),
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value,
             |    (epoch_ns(ts) - 1) - ((epoch_ns(ts) - 1) % 86400000000000)
             |      + 86400000000000 AS bucket_ns
             |  FROM events WHERE user_id < 6 AND NOT isnan(value))
             |SELECT user_id, bucket_ns,
             |  arg_min(value, printf('%019d|%010d', t, event_id)) AS open,
             |  max(value) AS high, min(value) AS low,
             |  arg_max(value, printf('%019d|%010d', t, event_id)) AS close,
             |  count(*) AS n_obs
             |FROM e GROUP BY 1, 2""".stripMargin)),

    // ---- IDW spatial interpolation: the k-nearest upgrade of S5's
    // nearest-station lookup (FLO-2D raincell maps cells to ONE gauge;
    // Shepard 1/d² weighting over k=4 is the standard hydrology step up).
    // Stations broadcast; weighted sums fold a rank-sorted neighbor array
    // left-to-right so float accumulation order is pinned ------------------
    "q_idw_interp" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(!isnan(col("value")))
        val stations = ev.groupBy("user_id").agg(max("value").as("obs"))
          .select(col("user_id").as("station_id"),
            pmod(col("user_id") * 37, lit(100)).as("x"),
            pmod(col("user_id") * 73, lit(100)).as("y"),
            col("obs"))
        val targets = s.range(25).select(col("id").as("cell_id"),
          pmod(col("id") * 13, lit(100)).as("x"),
          pmod(col("id") * 29, lit(100)).as("y"))
        graft.ops.SpatialOps.idwInterpolate(
          targets, stations, "cell_id", "station_id", "obs", k = 4)
      },
      Some("""WITH st AS (SELECT user_id AS sid,
             |    (user_id * 37) % 100 AS sx, (user_id * 73) % 100 AS sy,
             |    max(value) AS sv
             |  FROM events WHERE NOT isnan(value) GROUP BY 1, 2, 3),
             |tg AS (SELECT i AS cell_id, (i * 13) % 100 AS x, (i * 29) % 100 AS y
             |  FROM range(25) t(i)),
             |d AS (SELECT cell_id, sid, sv,
             |    (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2,
             |    row_number() OVER (PARTITION BY cell_id
             |      ORDER BY (x - sx) * (x - sx) + (y - sy) * (y - sy), sid) AS rn
             |  FROM tg CROSS JOIN st),
             |nb AS (SELECT cell_id,
             |    list(struct_pack(rn := rn, d2 := d2, v := sv) ORDER BY rn) AS nb
             |  FROM d WHERE rn <= 4 GROUP BY 1)
             |SELECT cell_id, round(CASE WHEN nb[1].d2 = 0 THEN nb[1].v
             |  ELSE list_sum(list_transform(nb, e -> e.v / e.d2::DOUBLE))
             |     / list_sum(list_transform(nb, e -> 1.0 / e.d2::DOUBLE)) END, 5) AS idw_value
             |FROM nb""".stripMargin)),

    // ---- Linear gap-fill interpolation: NULL runs lerp between nearest
    // non-null neighbors (synthetic gaps: every 7th event). Two bounded
    // window frames over one per-user sort; lerp fraction is double
    // division of exact ns longs, so engines agree bit for bit ------------
    "q_interp_gaps" -> QueryDef(
      (s, dir) => {
        val ev = evBase(s, dir)
          .withColumn("v",
            when(pmod(col("event_id"), lit(7)) === 0, lit(null)).otherwise(col("value")))
          .select("user_id", "event_id", "ts", "v")
        graft.ops.TimeSeriesOps.interpolateGaps(ev, Seq("user_id"), "ts", "v",
            tiebreak = Seq("event_id"))
          .select(col("user_id"), col("event_id"),
            round(col("value_interp"), 5).as("v_interp"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t,
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
             |  FROM events WHERE user_id < 6 AND NOT isnan(value)),
             |w AS (SELECT user_id, event_id, t, v,
             |    last_value(v IGNORE NULLS) OVER wp AS pv,
             |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS pt,
             |    first_value(v IGNORE NULLS) OVER wn AS nv,
             |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER wn AS nt
             |  FROM e
             |  WINDOW wp AS (PARTITION BY user_id ORDER BY t, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wn AS (PARTITION BY user_id ORDER BY t, event_id
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, event_id,
             |  round(CASE WHEN v IS NOT NULL THEN v
             |             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
             |               CASE WHEN nt = pt THEN pv
             |                    ELSE pv + (nv - pv) * ((t - pt)::DOUBLE / (nt - pt)::DOUBLE)
             |               END
             |        END, 5) AS v_interp
             |FROM w""".stripMargin)),

    // ---- Rolling z-score anomaly flag: mean/std of the 20 PRECEDING
    // observations (current excluded). Fixed-point integerization makes
    // the window sums exact whole numbers in ANY summation order — the
    // only way sliding-frame float aggregation matches across engines
    // (Spark recomputes frames, DuckDB segment-trees them) ----------------
    "q_rolling_zscore" -> QueryDef(
      (s, dir) => {
        val ev = evBase(s, dir).select("user_id", "event_id", "ts", "value")
        graft.ops.TimeSeriesOps.rollingZScore(ev, Seq("user_id"), "ts", "value",
            lookback = 20, minObs = 5, tiebreak = Seq("event_id"))
          .select(col("user_id"), col("event_id"), round(col("z"), 5).as("z"),
            // coalesce keeps the flag non-null: a row with no score is "not
            // an anomaly", and nullable booleans render differently across
            // pandas paths (None vs NaN) breaking the hash compare
            coalesce(abs(col("z")) > 3, lit(false)).as("anomaly"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t,
             |    CAST(round(value * 1000, 0) AS BIGINT) AS x
             |  FROM events WHERE user_id < 6 AND NOT isnan(value)),
             |w AS (SELECT user_id, event_id, x,
             |    count(x) OVER win AS n, sum(x) OVER win AS s1, sum(x * x) OVER win AS s2
             |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
             |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
             |z AS (SELECT user_id, event_id,
             |    CASE WHEN n >= 5 AND (n * s2 - s1 * s1) > 0 THEN
             |      (x::DOUBLE - s1::DOUBLE / n::DOUBLE)
             |      / sqrt((n * s2 - s1 * s1)::DOUBLE / (n * (n - 1))::DOUBLE)
             |    END AS z
             |  FROM w)
             |SELECT user_id, event_id, round(z, 5) AS z,
             |  coalesce(abs(z) > 3, FALSE) AS anomaly FROM z""".stripMargin)),

    // ---- Exact interpolated percentiles (Spark percentile = quantile_cont)
    "q_percentile" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).filter(!isnan(col("value")))
          .groupBy("event_type")
          .agg(
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.95)"), 4).as("p95"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
             |  round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n
             |FROM events WHERE NOT isnan(value)
             |GROUP BY event_type""".stripMargin)),

    // ---- X10: regex extraction/matching (utc-offset & model patterns) -----
    "q_x10_regex" -> QueryDef(
      (s, dir) => {
        t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"),
            coalesce(nullif(regexp_extract(col("text"), "([0-9]+)", 1), lit("")), lit("-"))
              .as("first_num"),
            col("text").rlike("[A-Za-z]+ing\\b").as("has_gerundish"))
      },
      Some("""SELECT doc_id,
             |  coalesce(nullif(regexp_extract(text, '([0-9]+)', 1), ''), '-') AS first_num,
             |  regexp_matches(text, '[A-Za-z]+ing\b') AS has_gerundish
             |FROM documents WHERE doc_id < 300""".stripMargin)),

    // ---- J4: composite string-key lookup join (broadcast dim) -------------
    "q_j4_composite" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val dim = Seq(("A_F", 1.0), ("N_O", 2.0), ("R_F", 3.0))
          .toDF("flag_status", "factor")
        t(s, dir, "lineitem")
          .withColumn("flag_status",
            concat_ws("_", col("l_returnflag"), col("l_linestatus")))
          .join(broadcast(dim), Seq("flag_status"))
          .groupBy("flag_status")
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity") * col("factor")), 2).as("weighted_qty"))
      },
      Some("""WITH dim(flag_status, factor) AS (VALUES ('A_F', 1.0), ('N_O', 2.0), ('R_F', 3.0))
             |SELECT l_returnflag || '_' || l_linestatus AS flag_status,
             |  count(*) AS n, round(sum(l_quantity * factor), 2) AS weighted_qty
             |FROM lineitem JOIN dim ON l_returnflag || '_' || l_linestatus = flag_status
             |GROUP BY 1""".stripMargin)),

    // ---- A7: per-element ordered series packing (collect for sink) --------
    "q_a7_series_pack" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir)
          .filter(col("user_id") < 10 && !isnan(col("value")))
          .groupBy("user_id")
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("value")))),
              x => format_string("%.2f", x.getField("value"))), ",").as("series_csv"))
      },
      Some("""SELECT user_id,
             |  string_agg(printf('%.2f', value), ',' ORDER BY ts, event_id) AS series_csv
             |FROM events WHERE user_id < 10 AND NOT isnan(value)
             |GROUP BY user_id""".stripMargin))
  )
}
