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
  * output files parses with N-way parallelism. One file takes the carry
  * parse below instead: it reads the file once, split across every core,
  * and with a station set it keeps only station rows past that read (a
  * TIMDEP report lists the whole grid; an extraction stores a few dozen
  * of its cells).
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
    * DataFrame of wanted element ids — a station map, dimension-sized, so
    * it is collected once and rides in the plan as a literal set. */
  def fillMissing(parsed: DataFrame, elements: DataFrame,
      missing: Double = graft.model.Sentinels.MissingOutput): DataFrame =
    densify(parsed, elements.select(col(elements.columns.head).cast("string"))
      .collect().map(_.getString(0)).distinct.toSeq, missing)

  /** [[fillMissing]] against a station set already on the driver. One
    * shuffle: each block's station readings are grouped once (map-side, so
    * only station readings and one row per block cross it), then every
    * block expands against the station set. Blocks come from all of
    * `parsed`, so a block without any station reading still densifies. */
  private[extract] def densify(parsed: DataFrame, stations: Seq[String],
      missing: Double = graft.model.Sentinels.MissingOutput): DataFrame = {
    val reading = when(col("element").isin(stations: _*),
      struct(col("element"), col("value")))
    parsed.groupBy("file", "step_hours").agg(collect_list(reading).as("__readings"))
      .select(col("file"), col("step_hours"), col("__readings"),
        explode(typedLit(stations)).as("element"))
      .select(col("file"), col("element"), col("step_hours"),
        explode_outer(transform(
          filter(col("__readings"), r => r("element") === col("element")),
          r => r("value"))).as("value"))
      .na.fill(missing, Seq("value"))
  }

  // --------------------------------------------------------------------
  // Fast single-file path: carry-based marker propagation.
  //
  // The window form above shuffles every line into one sort per file. For
  // ONE large report that serializes the whole parse. This path reads the
  // file once instead:
  //   pass 1 (parallel, one job): each partition resolves rows against
  //     markers seen locally, keeps the data rows before its first marker
  //     unresolved, and ends with its last marker; the items are
  //     checkpointed as they are computed;
  //   driver: prefix-scan of the per-partition last markers (bytes, not
  //     data) → carry for each partition;
  //   pass 2 (over the checkpoint, lazy): only unresolved head rows get
  //     their carry applied.
  // Given a station set, pass 1 keeps station rows only and drops any
  // other line after reading its first token; TIMDEP also keeps one row of
  // each block that has a data row, so `fillMissing` sees the same blocks.
  // Lines never span HDFS-style splits (the line reader re-anchors), so a
  // marker is always wholly inside one partition.
  // --------------------------------------------------------------------

  /** Parse one HYCHAN.OUT with partition-parallel carry propagation;
    * semantics identical to `parseHychan(readLines(...))`. With `stations`,
    * only the blocks of those elements are kept. */
  def parseHychanFile(spark: SparkSession, path: String, valueIndex: Int = 1,
      stations: Option[Set[String]] = None): DataFrame =
    parseWithCarry[String](spark, path, stations, blockRows = false,
      marker = l =>
        if (l.length > 5 && l.startsWith(HychanHeader, 5)) {
          val t = tokenize(l)
          // truncated header: block INVALIDATED (matches the window path's
          // sentinel), never attributed to the previous element
          if (t.length > 5) Some(t(5)) else Some("__INVALID__")
        } else None,
      data = l => {
        val t = tokenize(l)
        if (t.length > valueIndex) {
          val step = toDoubleOrNull(t(0))
          val v = toDoubleOrNull(t(valueIndex))
          if (step != null && v != null && !v.asInstanceOf[Double].isNaN)
            Some((null, step.asInstanceOf[Double], v.asInstanceOf[Double]))
          else None
        } else None
      },
      resolve = (r, elem) => if (elem == "__INVALID__") None else Some((elem, r._2, r._3)),
      element = (_, block) => block)

  /** Parse one TIMDEP.OUT with partition-parallel carry propagation;
    * semantics identical to `parseTimdep(readLines(...))`. With `stations`,
    * only those elements' rows are kept, plus one row of every block that
    * has any data row. */
  def parseTimdepFile(spark: SparkSession, path: String, valueIndex: Int = 5,
      stations: Option[Set[String]] = None): DataFrame =
    parseWithCarry[Double](spark, path, stations, blockRows = true,
      // unparseable single-token line CLOSES the running block (NaN
      // sentinel, matching the window path) instead of letting following
      // rows attach to the previous time
      marker = l => singleToken(l).map { t =>
        val d = toDoubleOrNull(t)
        if (d == null) Double.NaN else d.asInstanceOf[Double]
      },
      data = l => {
        val t = tokenize(l)
        if (t.length > valueIndex) {
          val v = toDoubleOrNull(t(valueIndex))
          if (v != null && !v.asInstanceOf[Double].isNaN)
            Some((t(0), Double.NaN, v.asInstanceOf[Double]))
          else None
        } else None
      },
      resolve = (r, blk) => if (blk.isNaN) None else Some((r._1, blk, r._3)),
      element = (l, _) => Some(firstToken(l)))

  /** One pass-1 item: a row resolved in its partition, a data row read
    * before the partition's first marker (`blockRow`: kept only to stand
    * for its block), or the partition's last marker. */
  private sealed trait Carried
  private final case class Resolved(row: (String, Double, Double)) extends Carried
  private final case class Head(row: (String, Double, Double), blockRow: Boolean)
    extends Carried
  private final case class LastMarker(marker: Option[Any]) extends Carried

  /** Shared carry machinery. `marker` reads a block marker from a line;
    * `data` reads a data line on its own into a partial
    * (element, step_hours, value); `resolve` completes it under its block's
    * marker (None: the block is invalid); `element` names the element a
    * line in a block would be stored under, from as little of the line as
    * possible (None: known only once its block is). With `stations`, a line
    * whose element is not a station is dropped unread, except that
    * `blockRows` keeps each block's first data row in each partition. */
  private def parseWithCarry[M](spark: SparkSession, path: String,
      stations: Option[Set[String]], blockRows: Boolean,
      marker: String => Option[M],
      data: String => Option[(String, Double, Double)],
      resolve: ((String, Double, Double), M) => Option[(String, Double, Double)],
      element: (String, Option[M]) => Option[String]): DataFrame = {
    val sc = spark.sparkContext
    val filtered = stations.isDefined
    val tagged = sc.textFile(path, sc.defaultParallelism).mapPartitions { it =>
      var current: Option[M] = None
      // whether this partition still owes the current block a row
      var owed = filtered && blockRows
      val items = it.flatMap { l =>
        marker(l) match {
          case m @ Some(_) => current = m; owed = filtered && blockRows; None
          case None =>
            val wanted = stations.forall(s => element(l, current).forall(s.contains))
            if (!wanted && !owed) None
            else {
              val item: Option[Carried] = current match {
                case Some(m) => data(l).flatMap(resolve(_, m)).map(Resolved)
                case None => data(l).map(Head(_, blockRow = !wanted))
              }
              if (item.nonEmpty) owed = false
              item
            }
        }
      }
      items ++ Iterator.single(LastMarker(current))
    }.localCheckpoint()

    val lastMarkers: Array[Option[M]] = tagged.mapPartitionsWithIndex { (pid, it) =>
      it.collect { case LastMarker(m) => pid -> m.asInstanceOf[Option[M]] }
    }.collect().sortBy(_._1).map(_._2)
    // carry(p) = last marker emitted by any earlier partition
    val carries: Array[Option[M]] = lastMarkers.scanLeft(Option.empty[M]) {
      case (acc, cur) => cur.orElse(acc)
    }.dropRight(1)

    val rows = tagged.mapPartitionsWithIndex { (pid, it) =>
      val carry = carries(pid)
      it.flatMap {
        case Resolved(r) => Some(r)
        case Head(r, blockRow) =>
          carry.flatMap(resolve(r, _))
            .filter(full => blockRow || stations.forall(_.contains(full._1)))
        case _ => None
      }
    }.map { case (e, s, v) => Row(path, e, s, v) }

    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("element", StringType, nullable = true),
      StructField("step_hours", org.apache.spark.sql.types.DoubleType, nullable = true),
      StructField("value", org.apache.spark.sql.types.DoubleType, nullable = true)))
    // the local checkpoint is the pass-1 cache: it holds the kept rows
    // only, and the ContextCleaner releases it with the returned frame —
    // no persisted RDD or broadcast outlives the extraction that used it
    spark.createDataFrame(rows, schema)
  }

  private def toDoubleOrNull(s: String): Any =
    try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }

  // `l.trim.split("\\s+")` without the regex: `String.split` compiles its
  // pattern on every call. `trim` drops every char <= ' ' at both ends;
  // `\s` is exactly these six.
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def trimStart(l: String): Int = {
    var i = 0
    while (i < l.length && l.charAt(i) <= ' ') i += 1
    i
  }
  private def trimEnd(l: String): Int = {
    var i = l.length
    while (i > 0 && l.charAt(i - 1) <= ' ') i -= 1
    i
  }
  private def tokenEnd(l: String, from: Int, end: Int): Int = {
    var i = from
    while (i < end && !isSpace(l.charAt(i))) i += 1
    i
  }

  /** The tokens of `l.trim.split("\\s+")`. */
  private def tokenize(l: String): Array[String] = {
    val end = trimEnd(l)
    var i = trimStart(l)
    if (i >= end) return Array("")
    val out = Array.newBuilder[String]
    while (i < end) {
      val j = tokenEnd(l, i, end)
      out += l.substring(i, j)
      i = j
      while (i < end && isSpace(l.charAt(i))) i += 1
    }
    out.result()
  }

  /** `tokenize(l)(0)`, reading no further than its end. */
  private def firstToken(l: String): String = {
    val end = trimEnd(l)
    val start = math.min(trimStart(l), end)
    l.substring(start, tokenEnd(l, start, end))
  }

  /** The line's only token, if it has exactly one non-empty token. */
  private def singleToken(l: String): Option[String] = {
    val end = trimEnd(l)
    val start = trimStart(l)
    if (start < end && tokenEnd(l, start, end) == end) Some(l.substring(start, end))
    else None
  }

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
