package graft.extract

import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, TextInputFormat}
import org.apache.spark.rdd.{HadoopRDD, RDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** FLO-2D simulation-output parsers — SURVEY.md §2 S7/S8.
  *
  * The reference walks HYCHAN.OUT / TIMDEP.OUT with a single-threaded
  * state machine (reference: output/extract_water_level.py:454-523 and
  * :540-572) and tokenizes each line with Python's `line.split()`. Here
  * one parse does both, whatever the lines come from: a file, a
  * directory or a glob of files (read as Hadoop text splits, at least one
  * per core), or an ordered `(file, line_no, line)` frame. It reads
  * ordered `(file, line)` partitions, and its one invariant is that only a
  * partition's first file may continue from the previous partition: each
  * partition resolves rows against the markers it reads, every change of
  * file restarts the block state, and a prefix scan of the partitions'
  * ends hands a partition the previous partition's open block only when
  * both are in the same file. So one file splits across every core, a directory of N
  * files parses in at least N tasks, and each file's blocks are its own.
  * With a station set, only station rows are kept past the read (a TIMDEP
  * report lists the whole grid; an extraction stores a few dozen of its
  * cells).
  */
object FloOutputParsers {

  /** Header marker: `line.startswith('CHANNEL HYDROGRAPH FOR ELEMENT NO:', 5)`
    * (reference: output/extract_water_level.py:464). */
  private val HychanHeader = "CHANNEL HYDROGRAPH FOR ELEMENT NO:"

  /** Parse HYCHAN.OUT blocks from a file, a directory or a glob into
    * `(file, element, step_hours, value)`.
    *
    * `valueIndex` selects the report column: 1 = water-level elevation
    * (reference: output/extract_water_level.py:492-494), 4 = discharge
    * (reference: output/extract_discharge.py:479-480). Non-numeric values
    * are skipped, mirroring the reference's isfloat/NaN guard
    * (reference: output/extract_water_level.py:496-500). With `stations`,
    * only the blocks of those elements are kept.
    *
    * Reserved token: a truncated header invalidates its block by carrying
    * the in-band sentinel `"__INVALID__"` (TIMDEP uses a NaN block time the
    * same way). A data file whose element token is literally `__INVALID__`
    * would be conflated with a truncated header — acceptable for this fixed
    * FLO-2D format (element tokens are numeric grid ids); switch to an
    * out-of-band validity struct before generalizing this parser.
    */
  def parseHychanFile(spark: SparkSession, path: String, valueIndex: Int = 1,
      stations: Option[Set[String]] = None): DataFrame =
    hychan(spark, pathLines(spark, path), valueIndex, stations)

  /** [[parseHychanFile]] over an ordered `(file, line_no, line)` frame. */
  def parseHychan(lines: DataFrame, valueIndex: Int = 1): DataFrame =
    hychan(lines.sparkSession, frameLines(lines), valueIndex, None)

  /** Parse TIMDEP.OUT from a file, a directory or a glob into
    * `(file, element, step_hours, value)`: a line with exactly one token
    * opens a block and is the block's model time in hours; following
    * `grid … value@col5` rows belong to it (reference:
    * output/extract_water_level.py:540-572, column pick :109-128). With
    * `stations`, only those elements' rows are kept, plus one row of every
    * block that has any data row. */
  def parseTimdepFile(spark: SparkSession, path: String, valueIndex: Int = 5,
      stations: Option[Set[String]] = None): DataFrame =
    timdep(spark, pathLines(spark, path), valueIndex, stations)

  /** [[parseTimdepFile]] over an ordered `(file, line_no, line)` frame. */
  def parseTimdep(lines: DataFrame, valueIndex: Int = 5): DataFrame =
    timdep(lines.sparkSession, frameLines(lines), valueIndex, None)

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
  // The carry parse: marker propagation over ordered (file, line)
  // partitions.
  //   pass 1 (parallel, one job): each partition resolves rows against
  //     markers seen locally, keeps the data rows of its first file before
  //     that file's first marker unresolved, drops a later file's rows
  //     before its first marker (no block holds them), and ends with its
  //     first and last file and the block open at its end; the items are
  //     checkpointed as they are computed;
  //   collect: prefix scan of the per-partition ends (bytes, not data) →
  //     carry for each partition, the open block of the previous non-empty
  //     partition when that partition ended in this one's first file;
  //   pass 2 (over the checkpoint, lazy): only unresolved head rows get
  //     their carry applied.
  // Given a station set, pass 1 keeps station rows only and drops any
  // other line after reading its first token; TIMDEP also keeps one row of
  // each block that has a data row, so `fillMissing` sees the same blocks.
  // Lines never span Hadoop splits (the line reader re-anchors), so a
  // marker is always wholly inside one partition.
  // --------------------------------------------------------------------

  /** The lines of a file, a directory or a glob, each with its file: Hadoop
    * text splits, each file's in offset order, `defaultParallelism` at
    * least, so one file still splits across every core. */
  private def pathLines(spark: SparkSession, path: String): RDD[(String, String)] = {
    val sc = spark.sparkContext
    sc.hadoopFile(path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .asInstanceOf[HadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, it) =>
        val file = split.asInstanceOf[FileSplit].getPath.toString
        it.map { case (_, line) => (file, line.toString) }
      }
  }

  /** An ordered `(file, line_no, line)` frame in file order: one exchange
    * keyed by file, so each file's lines sit sorted in one partition. */
  private[graft] def byFile(lines: DataFrame): DataFrame =
    lines.select("file", "line_no", "line")
      .repartition(col("file")).sortWithinPartitions("file", "line_no")

  /** [[byFile]] as `(file, line)` partitions; a null line reads as blank. */
  private def frameLines(lines: DataFrame): RDD[(String, String)] =
    byFile(lines).rdd.map(r => (r.getString(0), if (r.isNullAt(2)) "" else r.getString(2)))

  private def hychan(spark: SparkSession, lines: RDD[(String, String)], valueIndex: Int,
      stations: Option[Set[String]]): DataFrame =
    parseWithCarry[String](spark, lines, stations, blockRows = false,
      marker = l =>
        if (l.length > 5 && l.startsWith(HychanHeader, 5)) {
          val t = tokenize(l)
          // truncated header: block INVALIDATED, never attributed to the
          // previous element
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

  private def timdep(spark: SparkSession, lines: RDD[(String, String)], valueIndex: Int,
      stations: Option[Set[String]]): DataFrame =
    parseWithCarry[Double](spark, lines, stations, blockRows = true,
      // unparseable single-token line CLOSES the running block (NaN
      // sentinel) instead of letting following rows attach to the
      // previous time
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

  /** One pass-1 item: a row of `file` resolved in its partition, a data
    * row of the partition's first file read before that file's first
    * marker (`blockRow`: kept only to stand for its block), or the
    * partition's end: its first and last file and the block open there. */
  private sealed trait Carried
  private final case class Resolved(file: String, row: (String, Double, Double))
    extends Carried
  private final case class Head(row: (String, Double, Double), blockRow: Boolean)
    extends Carried
  private final case class End(first: String, last: String, open: Option[Any])
    extends Carried

  /** The carry parse. `marker` reads a block marker from a line; `data`
    * reads a data line on its own into a partial (element, step_hours,
    * value); `resolve` completes it under its block's marker (None: the
    * block is invalid); `element` names the element a line in a block would
    * be stored under, from as little of the line as possible (None: known
    * only once its block is). With `stations`, a line whose element is not
    * a station is dropped unread, except that `blockRows` keeps each
    * block's first data row in each partition.
    *
    * The local checkpoint is the pass-1 cache: it holds the kept rows
    * only, and the ContextCleaner releases it with the returned frame — no
    * persisted RDD or broadcast outlives the parse that used it. Its trade,
    * one read of the input for holding the kept rows until the frame is
    * released, is the same for a directory, a glob or a frame as for one
    * file. */
  private def parseWithCarry[M](spark: SparkSession, lines: RDD[(String, String)],
      stations: Option[Set[String]], blockRows: Boolean,
      marker: String => Option[M],
      data: String => Option[(String, Double, Double)],
      resolve: ((String, Double, Double), M) => Option[(String, Double, Double)],
      element: (String, Option[M]) => Option[String]): DataFrame = {
    val filtered = stations.isDefined
    val tagged = lines.mapPartitions { it =>
      var first: String = null
      var file: String = null
      var current: Option[M] = None
      // whether this partition still owes the current block a row
      var owed = filtered && blockRows
      val items = it.flatMap { case (f, l) =>
        if (file == null) { first = f; file = f }
        else if (f != file) { file = f; current = None }
        marker(l) match {
          case m @ Some(_) => current = m; owed = filtered && blockRows; None
          case None if current.isEmpty && file != first => None
          case None =>
            val wanted = stations.forall(s => element(l, current).forall(s.contains))
            if (!wanted && !owed) None
            else {
              val item: Option[Carried] = current match {
                case Some(m) => data(l).flatMap(resolve(_, m)).map(Resolved(file, _))
                case None => data(l).map(Head(_, blockRow = !wanted))
              }
              if (item.nonEmpty) owed = false
              item
            }
        }
      }
      items ++ (if (file == null) Iterator.empty else Iterator.single(End(first, file, current)))
    }.localCheckpoint()

    val ends: Map[Int, End] = tagged.mapPartitionsWithIndex { (pid, it) =>
      it.collect { case e: End => pid -> e }
    }.collect().toMap
    // carries(p): the block open where the last non-empty partition before
    // p ended, when it ended in p's first file
    val carries = new Array[Option[M]](tagged.getNumPartitions)
    var before = Option.empty[End]
    for (p <- carries.indices) {
      carries(p) = before.filter(e => ends.get(p).exists(_.first == e.last))
        .flatMap(_.open.asInstanceOf[Option[M]])
      ends.get(p).foreach { e =>
        before = Some(if (e.open.isEmpty && e.first == e.last) e.copy(open = carries(p)) else e)
      }
    }

    val rows = tagged.mapPartitionsWithIndex { (pid, it) =>
      val carry = carries(pid)
      val first = ends.get(pid).map(_.first).orNull
      it.flatMap {
        case Resolved(f, (e, s, v)) => Some(Row(f, e, s, v))
        case Head(r, blockRow) =>
          carry.flatMap(resolve(r, _))
            .filter(full => blockRow || stations.forall(_.contains(full._1)))
            .map { case (e, s, v) => Row(first, e, s, v) }
        case _ => None
      }
    }

    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("element", StringType, nullable = true),
      StructField("step_hours", DoubleType, nullable = true),
      StructField("value", DoubleType, nullable = true)))
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
