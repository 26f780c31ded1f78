package graft.extract

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** FLO-2D simulation-output parsers — SURVEY.md §2 S7/S8.
  *
  * The reference walks HYCHAN.OUT / TIMDEP.OUT with a single-threaded
  * state machine (reference: output/extract_water_level.py:454-523 and
  * :540-572). Here the same block semantics are declarative: number the
  * lines, tag marker lines, propagate the last marker down to its block's
  * rows with `last(..., ignoreNulls)` over an ordered window, then filter
  * and project the data rows. Every step after line numbering is Catalyst
  * built-ins (whole-stage codegen, no UDFs).
  *
  * Scale posture: the window partitions by file, so a directory of N
  * output files parses with N-way parallelism; one file is one sort —
  * the same work the single-node reference does, minus the Python loop.
  */
object FloOutputParsers {

  val LinesSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("line_no", LongType, nullable = false),
    StructField("line", StringType, nullable = true)))

  /** Read text file(s) into ordered `(file, line_no, line)` rows.
    * `zipWithIndex` preserves Hadoop split order, which for text inputs is
    * file order — the standard distributed line-numbering technique. */
  def readLines(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.textFile(path)
      .select(input_file_name().as("file"), col("value").as("line"))
    val rdd = raw.rdd.zipWithIndex.map { case (r, i) =>
      Row(r.getString(0), i, r.getString(1))
    }
    spark.createDataFrame(rdd, LinesSchema)
  }

  /** Wrap already-ordered in-memory lines (tests, round-trip queries). */
  def fromOrderedLines(df: DataFrame): DataFrame = df.select("file", "line_no", "line")

  /** Header marker: `line.startswith('CHANNEL HYDROGRAPH FOR ELEMENT NO:', 5)`
    * (reference: output/extract_water_level.py:464). 1-based substring pos 6. */
  private val HychanHeader = "CHANNEL HYDROGRAPH FOR ELEMENT NO:"
  private def isHychanHeader = substring(col("line"), 6, HychanHeader.length) === lit(HychanHeader)

  private def tokens = split(trim(col("line")), "\\s+")

  /** Parse HYCHAN.OUT blocks into `(file, element, step_hours, value)`.
    *
    * `valueIndex` selects the report column: 1 = water-level elevation
    * (reference: output/extract_water_level.py:492-494), 4 = discharge
    * (reference: output/extract_discharge.py:479-480). Non-numeric values
    * are skipped, mirroring the reference's isfloat/NaN guard
    * (reference: output/extract_water_level.py:496-500).
    *
    * Reserved token: truncated headers are invalidated by carrying the
    * in-band sentinel `"__INVALID__"` (and TIMDEP uses a NaN block time the
    * same way). A data file whose element token is literally `__INVALID__`
    * would be conflated with a truncated header — acceptable for this fixed
    * FLO-2D format (element tokens are numeric grid ids); switch to an
    * out-of-band validity struct before generalizing this parser.
    */
  def parseHychan(lines: DataFrame, valueIndex: Int = 1): DataFrame = {
    val w = Window.partitionBy("file").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      // a TRUNCATED header (no element token) must invalidate its block,
      // not let rows fall through to the previous element: carry a sentinel
      // forward and drop the block's rows below
      .withColumn("__hdr_elem", when(isHychanHeader,
        coalesce(get(tokens, lit(5)), lit("__INVALID__"))))
      .withColumn("element", last(col("__hdr_elem"), ignoreNulls = true).over(w))
      .filter(col("element").isNotNull && col("element") =!= "__INVALID__" &&
        !isHychanHeader)
      .withColumn("__tok", tokens)
      // get(), not getItem(): a truncated/garbage line with fewer tokens
      // than valueIndex must skip (NULL), not abort the job under ANSI
      .withColumn("step_hours", get(col("__tok"), lit(0)).try_cast("double"))
      .withColumn("value", get(col("__tok"), lit(valueIndex)).try_cast("double"))
      // data row: first token numeric (reference :489); value numeric (F4)
      .filter(col("step_hours").isNotNull && col("value").isNotNull && !isnan(col("value")))
      .select("file", "element", "step_hours", "value")
  }

  /** Parse TIMDEP.OUT into `(file, element, step_hours, value)`: a line with
    * exactly one token opens a block and is the block's model time in hours;
    * following `grid … value@col5` rows belong to it (reference:
    * output/extract_water_level.py:540-572, column pick :109-128). */
  def parseTimdep(lines: DataFrame, valueIndex: Int = 5): DataFrame = {
    val w = Window.partitionBy("file").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nTok = when(trim(col("line")) === "", 0).otherwise(size(tokens))
    lines
      // same invalidation rule: a single-token line that does NOT parse as
      // a time closes the running block (NaN sentinel) instead of letting
      // following rows attach to the previous time
      .withColumn("__blk_ts", when(nTok === 1,
        coalesce(get(tokens, lit(0)).try_cast("double"), lit(Double.NaN))))
      .withColumn("step_hours", last(col("__blk_ts"), ignoreNulls = true).over(w))
      .filter(col("step_hours").isNotNull && !isnan(col("step_hours")) && nTok > 1)
      .withColumn("__tok", tokens)
      .withColumn("element", get(col("__tok"), lit(0)))
      .withColumn("value", get(col("__tok"), lit(valueIndex)).try_cast("double"))
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select("file", "element", "step_hours", "value")
  }

  /** Densify a parsed TIMDEP frame: every (block, wanted element) pair gets a
    * row, absent readings filled with `missing` = −999 (reference:
    * output/extract_water_level.py:560-566). `elements` is a one-column
    * DataFrame of wanted element ids (broadcast — it is a station map).
    *
    * The densify join's left side only ever holds wanted elements, so
    * `parsed` is semi-joined to the broadcast station set first: only
    * station rows reach the join's shuffle, not every cell of the report
    * (TIMDEP lists the whole grid). Blocks still come from all of
    * `parsed`, so a block without any station reading still densifies. */
  def fillMissing(parsed: DataFrame, elements: DataFrame,
      missing: Double = graft.model.Sentinels.MissingOutput): DataFrame = {
    val elemCol = elements.columns.head
    val wanted = broadcast(elements.select(col(elemCol).as("element")).distinct())
    val blocks = parsed.select("file", "step_hours").distinct()
    blocks
      .crossJoin(wanted)
      .join(parsed.join(wanted, Seq("element"), "left_semi"),
        Seq("file", "element", "step_hours"), "left")
      .na.fill(missing, Seq("value"))
  }

  // --------------------------------------------------------------------
  // Fast single-file path: carry-based marker propagation.
  //
  // The window form above shuffles every line into one sort per file. For
  // ONE large report that serializes the whole parse. This path instead:
  //   pass 1 (parallel): each partition resolves rows against markers seen
  //     locally, emits rows before its first marker as "unresolved", and
  //     reports its last marker;
  //   driver: prefix-scan of the per-partition last markers (bytes, not
  //     data) → carry for each partition;
  //   pass 2 (cheap): only unresolved head rows get their carry applied.
  // Lines never span HDFS-style splits (the line reader re-anchors), so a
  // marker is always wholly inside one partition.
  // --------------------------------------------------------------------

  /** Parse one HYCHAN.OUT with partition-parallel carry propagation;
    * semantics identical to `parseHychan(readLines(...))`. */
  def parseHychanFile(spark: SparkSession, path: String, valueIndex: Int = 1): DataFrame =
    parseWithCarry[String](spark, path,
      marker = l =>
        if (l.length > 5 && l.startsWith(HychanHeader, 5)) {
          val t = l.trim.split("\\s+")
          // truncated header: block INVALIDATED (matches the window path's
          // sentinel), never attributed to the previous element
          if (t.length > 5) Some(t(5)) else Some("__INVALID__")
        } else None,
      row = (l, elem) => {
        val t = l.trim.split("\\s+")
        if (elem != "__INVALID__" && t.length > valueIndex) {
          val step = toDoubleOrNull(t(0))
          val v = toDoubleOrNull(t(valueIndex))
          if (step != null && v != null && !v.asInstanceOf[Double].isNaN)
            Some((elem, step.asInstanceOf[Double], v.asInstanceOf[Double]))
          else None
        } else None
      })

  /** Parse one TIMDEP.OUT with partition-parallel carry propagation;
    * semantics identical to `parseTimdep(readLines(...))`. */
  def parseTimdepFile(spark: SparkSession, path: String, valueIndex: Int = 5): DataFrame =
    parseWithCarry[java.lang.Double](spark, path,
      marker = l => {
        val t = l.trim.split("\\s+")
        // unparseable single-token line CLOSES the running block (NaN
        // sentinel, matching the window path) instead of letting following
        // rows attach to the previous time
        if (t.length == 1 && t(0).nonEmpty) {
          val d = toDoubleOrNull(t(0))
          Some(java.lang.Double.valueOf(
            if (d == null) Double.NaN else d.asInstanceOf[Double]))
        } else None
      },
      row = (l, blk) => {
        val t = l.trim.split("\\s+")
        if (!blk.isNaN && t.length > valueIndex) {
          val v = toDoubleOrNull(t(valueIndex))
          if (v != null && !v.asInstanceOf[Double].isNaN)
            Some((t(0), blk.doubleValue(), v.asInstanceOf[Double]))
          else None
        } else None
      })

  /** Shared carry machinery: `marker` extracts a block marker from a line,
    * `row` parses a data line under the current marker into
    * (element, step_hours, value). */
  private def parseWithCarry[M](spark: SparkSession, path: String,
      marker: String => Option[M],
      row: (String, M) => Option[(String, Double, Double)]): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val lines = spark.sparkContext.textFile(path)
    // pass 1: (resolvedRow | unresolvedLine), plus per-partition last marker
    val tagged = lines.mapPartitionsWithIndex { (pid, it) =>
      var current: Option[M] = None
      it.flatMap { l =>
        marker(l) match {
          case m @ Some(_) => current = m; Iterator.empty
          case None => current match {
            case Some(m) => row(l, m).map(r => (pid, true, l, r)).iterator
            case None => Iterator.single((pid, false, l, null.asInstanceOf[(String, Double, Double)]))
          }
        }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val lastMarkers: Array[Option[M]] = lines.mapPartitionsWithIndex { (pid, it) =>
      var last: Option[M] = None
      it.foreach(l => marker(l).foreach(m => last = Some(m)))
      Iterator.single(pid -> last)
    }.collect().sortBy(_._1).map(_._2)
    // carry(p) = last marker emitted by any earlier partition
    val carries: Array[Option[M]] = lastMarkers.scanLeft(Option.empty[M]) {
      case (acc, cur) => cur.orElse(acc)
    }.dropRight(1)
    val bc = spark.sparkContext.broadcast(carries)

    val rows = tagged.mapPartitionsWithIndex { (_, it) =>
      it.flatMap { case (pid, resolved, l, r) =>
        if (resolved) Iterator.single(r)
        else bc.value(pid).flatMap(m => row(l, m)).iterator
      }
    }.map { case (e, s, v) => Row(path, e, s, v) }

    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("element", StringType, nullable = true),
      StructField("step_hours", org.apache.spark.sql.types.DoubleType, nullable = true),
      StructField("value", org.apache.spark.sql.types.DoubleType, nullable = true)))
    // localCheckpoint materializes the parse eagerly so the cached pass-1
    // RDD and the carry broadcast can be released NOW — the engine's posture
    // is a long-lived cron service, and leaving one persisted RDD + one
    // broadcast per extraction behind leaks executor memory across runs
    val out = spark.createDataFrame(rows, schema).localCheckpoint()
    tagged.unpersist(blocking = false)
    bc.destroy()
    out
  }

  private def toDoubleOrNull(s: String): Any =
    try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }

  /** Model-hours → wall-clock timestamp: `base + hours` with µs precision,
    * plus an optional UTC-offset shift applied to every point
    * (reference: output/extract_water_level.py:501-503 and the
    * shift-before-upsert at :184-190). */
  def stepToTimestamp(df: DataFrame, baseTime: String,
      stepCol: String = "step_hours", out: String = "time",
      offsetMicros: Long = 0L): DataFrame =
    df.withColumn(out,
      timestamp_micros((lit(graft.model.SlTime.microsOf(baseTime) + offsetMicros) +
        (col(stepCol) * lit(3.6e9)).cast("long"))))

  /** `[+-]HH:MM` UTC-offset string → microseconds (X2/X10; reference:
    * output/extract_water_level.py:80-106, getUTCOffset with default=True).
    * Like Python's `re.match`, the pattern anchors at the start but ignores
    * trailing text; anything non-matching means "+00:00" — no shift. */
  def utcOffsetMicros(utcOffset: String): Long =
    "^[+-][0-9]{2}:[0-9]{2}".r.findFirstIn(utcOffset) match {
      case Some(s) =>
        val sign = if (s.charAt(0) == '-') -1L else 1L
        val mins = s.substring(1, 3).toLong * 60L + s.substring(4, 6).toLong
        sign * mins * 60L * 1000000L
      case None => 0L
    }
}
