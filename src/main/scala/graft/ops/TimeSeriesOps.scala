package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational middle layer of the engine — SURVEY.md §2.3-§2.6, §7 step 3.
  *
  * Every operator here is expressed with Catalyst built-ins so predicate
  * pushdown, column pruning and whole-stage codegen apply unchanged; nothing
  * needs a custom Expression for parity (SURVEY.md §4). All operators take
  * and return DataFrames so they compose into the deck/extract pipelines.
  *
  * Scale notes (100 TB posture):
  *  - series-local windows (`cumulativeSum`, `anchorElapsedHours`) partition
  *    by series id so each series sorts within one task; a window without a
  *    partition key would funnel all data through a single task.
  *  - joins against dimensions are expected to be broadcast by the caller.
  */
object TimeSeriesOps {

  /** Right-closed bucket label (A2 helper): maps `time` to the RIGHT edge of
    * its `(t-step, t]` tumbling bucket. Pure long arithmetic via `pmod` — no
    * division — so bucket edges are never subject to floating-point boundary
    * error (epoch nanos exceed 2^53 and do not round-trip through double).
    * Matches pandas `resample(freq, label='right', closed='right')`
    * (reference: input/rain/gen_rain.py:162-163).
    */
  def bucketRightClosedTs(time: Column, stepSeconds: Long): Column = {
    val stepUs = lit(stepSeconds * 1000000L)
    val us = unix_micros(time) - lit(1L)
    timestamp_micros(us - pmod(us, stepUs) + stepUs)
  }

  /** Same, for a raw epoch-nanoseconds LONG column (returns epoch ns of the
    * right edge). */
  def bucketRightClosedNs(ns: Column, stepSeconds: Long): Column = {
    val stepNs = lit(stepSeconds * 1000000000L)
    val x = ns - lit(1L)
    x - pmod(x, stepNs) + stepNs
  }

  /** Right-closed tumbling resample + sum (A2): 5-min → 15-min with the
    * bucket labeled by its right edge (reference: input/rain/gen_rain.py:162-163).
    * One shuffle on (keys, bucket); partial aggregation is map-side.
    */
  def resampleRightClosedSum(
      df: DataFrame,
      stepSeconds: Long,
      timeCol: String = "time",
      valueCol: String = "value",
      keys: Seq[String] = Nil): DataFrame = {
    val bucket = bucketRightClosedTs(col(timeCol), stepSeconds)
    df.groupBy((keys.map(col) :+ bucket.as(timeCol)): _*)
      .agg(sum(col(valueCol)).as(valueCol))
  }

  private def seriesWindow(orderCol: String, keys: Seq[String],
      tiebreak: Seq[String] = Nil) = {
    val order = (orderCol +: tiebreak).map(col(_).asc)
    val base = if (keys.isEmpty) Window.orderBy(order: _*)
    else Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  /** Running cumulative sum in time order (A4/W2, reference:
    * input/rain/gen_rain.py:175-179). Partition by series keys at scale.
    * `tiebreak` extends the ordering past `timeCol` so duplicate timestamps
    * still get a total order (same contract as [[sessionize]]). */
  def cumulativeSum(
      df: DataFrame,
      valueCol: String = "value",
      timeCol: String = "time",
      keys: Seq[String] = Nil,
      out: String = "cum",
      tiebreak: Seq[String] = Nil): DataFrame =
    df.withColumn(out, sum(col(valueCol)).over(seriesWindow(timeCol, keys, tiebreak)))

  /** Scale-safe GLOBAL running sum over an exact (integer) value column —
    * the distributed two-pass prefix scan that replaces a single-partition
    * `sum() OVER (ORDER BY …)` window when the scanned data is NOT already
    * reduced to a bounded domain:
    *
    *   1. bucket by a DETERMINISTIC monotone image of the leading order
    *      column ([[orderedBucketKey]], calibrated by a lazy broadcast
    *      (min, max) — equal keys co-locate, bucket ids ascend with the
    *      key), running sum per bucket in parallel;
    *   2. per-bucket totals (one row per bucket — cluster-sized, not
    *      data-sized) get a prefix-scan offset; each row adds its
    *      bucket's offset.
    *
    * Restricted to LONG values on purpose: integer addition re-associates
    * exactly, so the result is bit-identical to the sequential window no
    * matter where partition boundaries fall — a double version would drift
    * ulps vs single-pass evaluation and fail exact oracle hashing. Callers
    * with 2-decimal money scale to cents first.
    *
    * `orderCols` must be a per-row total order (add a tiebreak id if the
    * time key can repeat) — same determinism rule as every window here. */
  /** Monotone DOUBLE image of an order column, for deterministic ordered
    * bucketing: numerics cast through double; dates/timestamps via their
    * epoch day/micro counts; strings via their first 8 UTF-8 bytes read
    * as an unsigned big-endian integer (hex digits are order-isomorphic
    * to unsigned byte order — which is exactly how Spark compares
    * strings — and right-padding with '0' keeps shorter keys prefixes).
    * Non-strict monotone: ties and >8-byte-shared-prefix keys collapse
    * into one bucket, which only affects spread, never order. */
  private def orderedBucketKey(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case StringType =>
        conv(rpad(substring(hex(col(c)), 1, 16), 16, "0"), 16, 10)
          .cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case _: NumericType => col(c).cast("double")
      case _ => lit(0.0) // degenerate single bucket: correct, unspread
    }
  }

  def scanCumSumLong(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      out: String = "cum",
      numParts: Int = 0): DataFrame =
    scanCumSumsLong(df, orderCols, Seq(valueCol), Seq(out), numParts)

  /** Multi-column form of [[scanCumSumLong]]: k running sums over ONE
    * bucketed two-pass scan — same exchanges, same windows, k columns
    * riding along (the PR-sweep's TP and predicted-positive cumulatives
    * are the motivating pair; computing them as two separate scans would
    * re-execute the upstream aggregate once per column). */
  def scanCumSumsLong(
      df: DataFrame,
      orderCols: Seq[String],
      valueCols: Seq[String],
      outs: Seq[String],
      numParts: Int = 0): DataFrame = {
    require(valueCols.nonEmpty && valueCols.length == outs.length,
      s"need one output name per value column, got $valueCols -> $outs")
    val n = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordered = orderCols.map(col)
    // Lineage cut (round 17, guide §3.3/§7.2): the input subtree is
    // referenced TWICE below (the min/max calibration aggregate and the
    // bucketed main branch), and COMPOSED scans — strideInterleave chains
    // two of these, epochOrder/packChunks feed one into further joins —
    // multiply those references: q_mix_interleave's physical plan carried
    // 64 separate parquet scans / 160 Exchanges of the same 300-row input
    // (measured 4.1 s for a sub-second query). A LAZY local checkpoint
    // (no extra job — the first action materializes it, MEMORY_AND_DISK)
    // makes every reference read one materialized copy. Callers pass
    // narrow (id, key, value) projections, so at 100 TB this stores the
    // §8 "lightweight proxy", never payload columns.
    val in = df.localCheckpoint(false)
    // The bucket id MUST be a pure function of the DATA, never of the
    // physical layout. The windowed rows and the per-partition totals are
    // two plan branches that each re-execute this subtree, and the
    // original `repartitionByRange + spark_partition_id()` pinned the
    // bucket to RangePartitioner's SAMPLED boundaries — which are not
    // stable across executions (the sampling seed derives from the RDD
    // id), so the totals could describe a different layout than the rows
    // they join onto, silently corrupting the scan with duplicate/gapped
    // offsets. Not hypothetical: the 250 k-conv `sft_export_e2e` scale section
    // measured 4 199 mean tokens inside 4 096-token windows (duplicate
    // global positions), drifting run to run; small fixtures never see it
    // because boundary sampling is exact at tiny row counts. (A persist
    // pins one layout for ONE action but re-corrupts on any later action
    // over the same subtree — the composed CorpusPrep does exactly that —
    // so determinism, not caching, is the fix.)
    //
    // `orderedBucket` maps the first order column through a MONOTONE
    // numeric image (numerics as doubles; strings via their first 8 UTF-8
    // bytes, order-isomorphic to Spark's byte-wise string comparison)
    // calibrated by a lazy broadcast (min, max) — deterministic on every
    // re-execution, and one full-data exchange cheaper than the range
    // shuffle (which still needed a hash(__pid) exchange for the window).
    // Uniform-ish keys (ids, digests, days) spread evenly; a pathological
    // key set sharing one 8-byte prefix degrades to fewer buckets —
    // slower, never wrong.
    val parted = in
      .crossJoin(broadcast(in.groupBy().agg(
        min(orderedBucketKey(in, orderCols.head)).as("__kmin"),
        max(orderedBucketKey(in, orderCols.head)).as("__kmax"))))
      .withColumn("__pid",
        // NULL keys take bucket 0: Spark's ascending sort is nulls-FIRST,
        // so a null leading key must land below every non-null bucket for
        // the cross-bucket offsets to describe the sequential-window order
        // (least() skips nulls, which would otherwise shove them into the
        // LAST bucket and hand them every earlier bucket's offset)
        when(orderedBucketKey(in, orderCols.head).isNull, lit(0))
          .when(col("__kmin").isNull, lit(0))
          .when(col("__kmax") <= col("__kmin"), lit(0))
          .otherwise(least(
            floor((orderedBucketKey(in, orderCols.head) - col("__kmin"))
              / (col("__kmax") - col("__kmin")) * n),
            lit(n - 1))).cast("int"))
      .drop("__kmin", "__kmax")
      .repartition(n, col("__pid"))
    val local = Window.partitionBy("__pid").orderBy(ordered.map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = valueCols.zipWithIndex.foldLeft(parted) {
      case (d, (v, i)) => d.withColumn(s"__local$i", sum(col(v)).over(local))
    }
    // the offset scan runs over ONE row per partition — bounded by cluster
    // width, not data volume; the constant partition key keeps it a single
    // (tiny) window without tripping the global-window warning
    val offW = Window.partitionBy(lit(0)).orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ptots = valueCols.zipWithIndex.map {
      case (v, i) => sum(col(v)).as(s"__ptot$i")
    }
    // per-bucket totals come from `parted` (pre-window), not `withLocal`:
    // summing the raw value columns per __pid needs no running sums, and
    // reading the shared repartition Exchange directly lets ReuseExchange
    // serve both branches instead of re-running the sort+window (round 17)
    val offsets = valueCols.indices.foldLeft(
        parted.groupBy("__pid").agg(ptots.head, ptots.tail: _*)) {
        (d, i) => d.withColumn(s"__off$i",
          coalesce(sum(col(s"__ptot$i")).over(offW), lit(0L)))
      }
      .select(col("__pid") +: valueCols.indices.map(i => col(s"__off$i")): _*)
    val joined = valueCols.indices.foldLeft(
        withLocal.join(broadcast(offsets), Seq("__pid"))) {
      (d, i) => d.withColumn(outs(i), col(s"__local$i") + col(s"__off$i"))
    }
    joined.drop("__pid")
      .drop(valueCols.indices.flatMap(i => Seq(s"__local$i", s"__off$i")): _*)
  }

  /** Normalized cumulative fraction (A5): `cum/total` when total > 0 else 0
    * (reference: input/rain/gen_rain.py:181-186). */
  def normalizedCumulative(
      df: DataFrame,
      valueCol: String = "value",
      timeCol: String = "time",
      keys: Seq[String] = Nil,
      out: String = "frac",
      tiebreak: Seq[String] = Nil): DataFrame = {
    val full = {
      val base = if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keys.map(col): _*)
      base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    }
    val withCum = cumulativeSum(df, valueCol, timeCol, keys, "__cum", tiebreak)
    withCum
      .withColumn("__total", sum(col(valueCol)).over(full))
      .withColumn(out, when(col("__total") > 0, col("__cum") / col("__total")).otherwise(lit(0.0)))
      .drop("__cum", "__total")
  }

  /** Anchor-first elapsed hours (W1/X3): every row gets hours elapsed since
    * the series' first timestamp (reference: input/inflow/gen_150_inflow.py:107-108,
    * input/outflow/gen_outflow.py:110). */
  def anchorElapsedHours(
      df: DataFrame,
      timeCol: String = "time",
      keys: Seq[String] = Nil,
      out: String = "elapsed_h"): DataFrame = {
    val full = {
      val base = if (keys.isEmpty) Window.partitionBy()
      else Window.partitionBy(keys.map(col): _*)
      base
    }
    df.withColumn(
      out,
      (unix_micros(col(timeCol)) - min(unix_micros(col(timeCol))).over(full)) / lit(3.6e9))
  }

  /** Forecast-horizon filter (F2): keep rows at/after the cutoff. On sorted
    * input this equals the reference's suffix slice
    * (reference: output/extract_water_level.py:139-160). */
  def horizonFilter(df: DataFrame, cutoff: Column, timeCol: String = "time"): DataFrame =
    df.filter(col(timeCol) >= cutoff)

  /** Negative → null → dropped (F5, reference:
    * input/rain/gen_rain.py:113-116,153,165). */
  def dropNegatives(df: DataFrame, valueCol: String = "value"): DataFrame =
    df.withColumn(valueCol, when(col(valueCol) < 0, lit(null)).otherwise(col(valueCol)))
      .na.drop(Seq(valueCol))

  /** As-of join: each left row picks up the latest right value with
    * `right.time <= left.time` within the same key group (the time-series
    * join Spark lacks natively). Implemented as union + ordered window
    * rather than a custom SparkPlan: one shuffle on the keys, one
    * within-partition sort — the same cost as a sort-merge join, and ties
    * at equal time resolve to the right row being visible (ASOF `>=`
    * semantics). Right columns surface as `asof_<col>` (null when no prior
    * right row exists). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String = "time"): DataFrame = {
    val rightVals = right.columns.filterNot(c => keys.contains(c) || c == timeCol)
    val leftCols = left.columns
    // right values travel as ONE struct so the picked row is atomic: a
    // right row with some NULL fields is still chosen whole, never mixed
    // field-by-field with an older row
    val rStructType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c).copy(name = c)))
    val lTagged = left
      .withColumn("__src", lit(1))
      .select((keys.map(col) :+ col(timeCol) :+ col("__src")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol).map(col) :+
        lit(null).cast(rStructType).as("__r"): _*)
    val rTagged = right
      .withColumn("__src", lit(0))
      .select((keys.map(col) :+ col(timeCol) :+ col("__src")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightVals.map(col): _*).as("__r"): _*)
    // struct joins the ordering after (time, src) so duplicate right
    // (key, time) rows resolve to a deterministic winner (max tuple)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("__src").asc, col("__r").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = lTagged.unionByName(rTagged)
      .withColumn("__last_r", last(col("__r"), ignoreNulls = true).over(w))
    joined.filter(col("__src") === 1)
      .select(leftCols.map(col) ++
        rightVals.map(c => col("__last_r").getField(c).as(s"asof_$c")): _*)
  }

  /** The NATIVE formulation of [[asofJoin]]: a custom logical node planned
    * by `graft.plans.AsOfJoinStrategy` into a streaming sort-merge
    * `AsOfJoinExec` (one buffered right row per partition — no window
    * buffer, no unioned wide schema; same exchange count as the window
    * form, strictly less per-row movement). Semantics identical to
    * [[asofJoin]] when `rightTiebreak` lists the right value columns (the
    * window form's max-struct rule for right rows tied on (key, time)).
    * `timeCol` must be LongType (epoch-ns domain) and non-null on both
    * sides. AsOfJoinParitySpec pins the equivalence on random fixtures. */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String = "time", rightTiebreak: Seq[String] = Nil): DataFrame = {
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    val rightVals = rPlan.output
      .filterNot(a => keys.contains(a.name) || a.name == timeCol)
    // default tiebreak = every ORDERABLE right value column: the window
    // form always resolves tied right (key, time) rows to the max value
    // struct, and the native form must be deterministic by default too —
    // an empty tiebreak would leave ties in shuffle-arrival order
    val tiebreak =
      if (rightTiebreak.nonEmpty) rightTiebreak
      else rightVals.filter(a =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(a.dataType)).map(_.name)
    val renamed = rightVals.map(a =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"asof_${a.name}", a.dataType, nullable = true)())
    org.apache.spark.sql.GraftBridge.dataset(left.sparkSession,
      graft.plans.AsOfJoinPlan(lPlan, rPlan, keys, timeCol, tiebreak,
        lPlan.output ++ renamed))
  }

  /** [[asofJoinNative]] with SALTED keys for skew: a hot key (one device,
    * one symbol holding 90% of the rows) lands its whole group on ONE task
    * under the plain ClusteredDistribution — custom physical nodes opt out
    * of AQE's skew-join splitting, so at 100× that task IS the stage. The
    * salt splits each key's LEFT rows across `saltBuckets` sub-groups
    * (deterministic hash of the time value — any spread works, the result
    * is salt-invariant) and REPLICATES the right side into every bucket,
    * so each bucket still sees the key's full right history: the output
    * is row-identical to the unsalted join (AsOfJoinScaleSpec pins it),
    * while the hot key's work fans out `saltBuckets` ways. Cost: the
    * right side shuffles ×saltBuckets — the standard salting trade, worth
    * it when the right side is the small (quote/dimension) stream. */
  def asofJoinNativeSalted(left: DataFrame, right: DataFrame,
      keys: Seq[String], timeCol: String = "time",
      rightTiebreak: Seq[String] = Nil, saltBuckets: Int = 8): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    if (saltBuckets == 1)
      return asofJoinNative(left, right, keys, timeCol, rightTiebreak)
    val salted = left.withColumn("__salt",
      pmod(xxhash64(col(timeCol)), lit(saltBuckets)).cast("int"))
    val buckets = typedlit((0 until saltBuckets).toList)
    val replicated = right.withColumn("__salt", explode(buckets))
    asofJoinNative(salted, replicated, keys :+ "__salt", timeCol,
      rightTiebreak).drop("__salt")
  }

  /** Interval (range) join: pair each point with every interval containing
    * it, without a theta cross join. Intervals explode to the coarse
    * buckets they cover; points join their own bucket (equi-join on
    * keys+bucket — shuffle bounded by bucket fan-out) and the exact
    * `[start, end]` predicate refines. Each qualifying (point, interval)
    * pair appears exactly once because a point lives in exactly one bucket.
    * Size `bucketSeconds` near the typical interval length: fan-out stays
    * O(1) per interval and selectivity stays high. */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
      pointTime: String = "time", startCol: String = "start", endCol: String = "end",
      bucketSeconds: Long = 3600L): DataFrame = {
    val stepUs = bucketSeconds * 1000000L
    // integer `div`, not `/`: double division would lose exactness on
    // epoch-scale longs and truncate instead of floor for negatives
    val pBucket = expr(s"unix_micros($pointTime) div ${stepUs}L")
    val iBuckets = sequence(
      expr(s"unix_micros($startCol) div ${stepUs}L"),
      expr(s"unix_micros($endCol) div ${stepUs}L"))
    val p = points.withColumn("__bucket", pBucket)
    val i = intervals.withColumn("__bucket", explode(iBuckets))
    p.join(i, keys :+ "__bucket")
      .filter(col(pointTime).between(col(startCol), col(endCol)))
      .drop("__bucket")
  }

  /** Gap-based sessionization: rows more than `gapSeconds` after their
    * predecessor start a new session; emits a per-key `session_id`
    * (0-based). One key shuffle + one ordered window — the batch analogue
    * of streaming session windows.
    *
    * `tiebreak` columns extend the window ordering past `timeCol` so
    * duplicate timestamps within a key resolve to ONE total order: without
    * it, the lag pass and the running-sum pass may sort ties differently
    * (within Spark and across engines), assigning tied rows to sessions
    * nondeterministically. Pass a unique id column whenever duplicate
    * (key, time) rows are possible. */
  def sessionize(df: DataFrame, keys: Seq[String], timeCol: String = "time",
      gapSeconds: Long = 1800L, out: String = "session_id",
      tiebreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(timeCol) +: tiebreak.map(col)).map(_.asc): _*)
    val prev = lag(unix_micros(col(timeCol)), 1).over(w)
    val isNew = when(prev.isNull, 0L)
      .otherwise((unix_micros(col(timeCol)) - prev > gapSeconds * 1000000L).cast("long"))
    df.withColumn(out,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Linear gap-fill interpolation per series: each NULL run takes the
    * straight line between its nearest non-null neighbors in time order;
    * leading/trailing gaps (no neighbor on one side) stay NULL. The
    * analytics-side upgrade of the reference's sentinel densify (S8: TIMDEP
    * gaps become −999 rows and are dropped — output/extract_*.py). Shape:
    * two frame-bounded aggregates (last-non-null-before incl. current,
    * first-non-null-after) over ONE partition-by-key sort — no self-join,
    * no explode, each series sorts within its task. Duplicate timestamps
    * need `tiebreak` for a total order; a neighbor at the SAME timestamp
    * short-circuits to the previous value (0/0 guard). `timeCol` is any
    * numeric (epoch-ns long in the query suite); the lerp fraction is
    * double division of exact longs, so engines agree bit for bit. */
  def interpolateGaps(df: DataFrame, keys: Seq[String],
      timeCol: String = "time", valueCol: String = "value",
      tiebreak: Seq[String] = Nil, out: String = "value_interp"): DataFrame = {
    require(keys.nonEmpty, "partition keys required (unpartitioned = one task)")
    val order = (col(timeCol) +: tiebreak.map(col)).map(_.asc)
    val base = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol)
    val t = col(timeCol)
    val pv = last(v, ignoreNulls = true).over(wPrev)
    val pt = last(when(v.isNotNull, t), ignoreNulls = true).over(wPrev)
    val nv = first(v, ignoreNulls = true).over(wNext)
    val nt = first(when(v.isNotNull, t), ignoreNulls = true).over(wNext)
    val interp = when(v.isNotNull, v)
      .when(pv.isNotNull && nv.isNotNull,
        when(nt === pt, pv)
          .otherwise(pv + (nv - pv) * ((t - pt).cast("double") / (nt - pt).cast("double"))))
    df.withColumn(out, interp)
  }

  /** Rolling z-score anomaly flag per series: each value scored against the
    * mean/stddev of the `lookback` PRECEDING observations (current row
    * excluded — an outlier never masks itself). The cross-engine trap here
    * is float window sums: sliding-frame aggregation order differs between
    * engines (Spark recomputes frames; DuckDB segment-trees them), so
    * double accumulation diverges in ULPs. This op therefore integerizes
    * first — `scale`-fixed-point longs — making Σx and Σx² EXACT whole
    * numbers in any summation order; mean/std/z derive from those two
    * integers per row, bit-identical everywhere. std uses the (n·Σx² −
    * (Σx)²)/(n·(n−1)) sample form on the integer sums. Rows with fewer than
    * `minObs` preceding observations or zero variance get NULL z. */
  def rollingZScore(df: DataFrame, keys: Seq[String],
      timeCol: String = "time", valueCol: String = "value",
      lookback: Int = 20, minObs: Int = 5, scale: Long = 1000L,
      tiebreak: Seq[String] = Nil, out: String = "z"): DataFrame = {
    require(keys.nonEmpty, "partition keys required (unpartitioned = one task)")
    require(minObs >= 2, "variance needs at least 2 observations")
    val order = (col(timeCol) +: tiebreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(-lookback.toLong, -1L)
    // exactness domain: varNum = n·Σx² − (Σx)² needs n²·x² ≤ Long.Max —
    // beyond it the long arithmetic wraps SILENTLY under non-ANSI mode
    // (negative varNum → z suppressed, or wrapped-positive → wrong z).
    // Values outside the domain fail LOUDLY instead; callers with larger
    // magnitudes lower `scale`.
    val maxAbs = math.sqrt(Long.MaxValue.toDouble) / lookback
    val xRaw = round(col(valueCol) * scale, 0).cast("long")
    val x = when(abs(xRaw) > lit(maxAbs),
      raise_error(concat(lit(s"rollingZScore: |value|*$scale exceeds the " +
        s"exact fixed-point domain (${maxAbs.toLong} at lookback $lookback) — " +
        "lower `scale`: got "), col(valueCol).cast("string"))))
      .otherwise(xRaw)
    val n = count(x).over(w)
    val s1 = sum(x).over(w)
    val s2 = sum(x * x).over(w)
    val varNum = (n * s2 - s1 * s1).cast("double")
    val sd = sqrt(varNum / (n * (n - lit(1L))).cast("double"))
    val mean = s1.cast("double") / n.cast("double")
    val z = when(n >= minObs && varNum > 0,
      (x.cast("double") - mean) / sd)
    df.withColumn(out, z)
  }

  /** Skew-safe broadcast-replicated join: every row of the SMALL side is
    * replicated `saltFactor` times with a salt column, the big side salts by
    * `pmod(hash, saltFactor)` — a hot key's rows spread over `saltFactor`
    * tasks instead of funneling into one. Use when AQE's skew-join split
    * can't help (e.g. the skew is in a window/groupBy feeding the join).
    * Result is identical to `big.join(small, keys)`. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltFactor: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(saltFactor)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, keys :+ "__salt").drop("__salt")
  }

  /** Two-stage salted aggregation: partial sums over (keys, salt) first, so
    * a hot group's input spreads across `saltFactor` reducers before the
    * final (tiny) combine. Same result as `df.groupBy(keys).agg(sum)`. */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
      saltFactor: Int, out: String = "sum_value"): DataFrame =
    df.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(saltFactor)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(out))

  /** Time-weighted average per series over `[fromNs, toNs)`: each
    * observation's value holds until the next observation (step/sample-and-
    * hold semantics — the sensor-network convention), weighted by its hold
    * duration; the last observation holds to `toNs`, and the first segment
    * starts at the first observation (not `fromNs` — no value exists
    * before it). Irregular sampling is the POINT: a plain avg() over-weights
    * chatty periods. Shape: one per-key sort carries the lead, then one
    * hash aggregate; weighted sums are Σ v·w / Σ w over exact ns-long
    * durations — w is exact, and the sum order nondeterminism of doubles is
    * neutralized by rounding the QUOTIENT, whose inputs differ only in
    * addend order (callers needing bit-exact cross-engine parity compare
    * rounded, as q_twap does). */
  def timeWeightedAvg(df: DataFrame, keys: Seq[String], timeCol: String,
      valueCol: String, fromNs: Long, toNs: Long,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(fromNs < toNs, s"empty window [$fromNs, $toNs)")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(timeCol) +: tiebreak.map(col)).map(_.asc): _*)
    val in = df.filter(col(timeCol) >= fromNs && col(timeCol) < toNs)
    val nextT = coalesce(lead(col(timeCol), 1).over(w), lit(toNs))
    val weighted = in
      .withColumn("__w", (nextT - col(timeCol)).cast("double"))
    weighted.groupBy(keys.map(col): _*)
      .agg(
        (sum(col(valueCol) * col("__w")) / sum(col("__w"))).as("twap"),
        count(lit(1)).as("n_obs"))
  }

  /** OHLC bar aggregation: per (keys, right-closed bucket) the opening
    * value (earliest observation, ties by `tiebreak`), high, low, and
    * closing value (latest) — the compaction step that turns tick-grade
    * series into chart/feature-grade bars. One hash aggregate with
    * map-side partials: open/close via min_by/max_by on a (time, tiebreak…)
    * struct key, so duplicate timestamps still pick a deterministic row.
    *
    * NaN observations are DROPPED up front when the value column is
    * floating-point: Spark's total order sorts NaN greatest, so a NaN row
    * would poison `high` (plain max) but not `low`/`open`/`close`
    * (min / struct-keyed min_by·max_by) — a half-poisoned bar is worse
    * than either answer. Dropped rows do not count toward `n_obs`. */
  def ohlcBars(df: DataFrame, keys: Seq[String], timeCol: String,
      valueCol: String, stepSeconds: Long,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val in = df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.DoubleType
         | org.apache.spark.sql.types.FloatType =>
        df.filter(!isnan(col(valueCol)))
      case _ => df
    }
    val bucket = bucketRightClosedNs(col(timeCol), stepSeconds).as("bucket_ns")
    val orderKey = struct((col(timeCol) +: tiebreak.map(col)): _*)
    in.groupBy((keys.map(col) :+ bucket): _*)
      .agg(
        min_by(col(valueCol), orderKey).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), orderKey).as("close"),
        count(lit(1)).as("n_obs"))
  }

  /** Dimension-history (SCD type-2) interval build: attribute observations
    * (key, time, attrs…) become per-key validity intervals
    * `[effective_from, effective_to)`, `effective_to` NULL for the current
    * version — the warehouse-side history the reference's run-metadata
    * upserts (K2/K3) overwrite away. Consecutive observations with
    * UNCHANGED attributes collapse into one interval (re-observation never
    * mints a spurious version; comparison is null-safe `<=>`). Shape: one
    * per-key sort carries the change-flag lag, the running version sum,
    * the per-version collapse AND the effective_to lead — Catalyst reuses
    * the (key) partitioning throughout, so it is one exchange end to end.
    * `tiebreak` totals the order under duplicate timestamps. */
  def dimensionHistory(df: DataFrame, keys: Seq[String], timeCol: String,
      attrCols: Seq[String], tiebreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty && attrCols.nonEmpty, "keys and attrCols required")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(timeCol) +: tiebreak.map(col)).map(_.asc): _*)
    val changed = attrCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val isFirst = row_number().over(w) === 1
    val ver = sum(when(isFirst || changed, 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val byVer = df.withColumn("__ver", ver)
      .groupBy((keys :+ "__ver").map(col): _*)
      .agg(min(col(timeCol)).as("effective_from"),
        attrCols.map(c => min(col(c)).as(c)): _*) // attrs constant per version
    // version joins the lead ordering: two versions can share effective_from
    // under duplicate timestamps, and without the tiebreak the open (NULL)
    // interval could land on the STALE version — inverted history
    val wk = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("effective_from").asc, col("__ver").asc)
    byVer
      .withColumn("version", col("__ver"))
      .withColumn("effective_to", lead(col("effective_from"), 1).over(wk))
      .drop("__ver")
  }

  /** Point-in-time enrichment over a [[dimensionHistory]]-shaped interval
    * table: each observation (keys…, timeCol, …) picks up the dimension
    * version VALID at its time — `effective_from <= t` and
    * (`effective_to` NULL or `t < effective_to`). Because the intervals
    * tile each key's timeline without overlap (PropertySpec pins this),
    * every observation matches AT MOST one version; observations before a
    * key's first interval (or with no key) keep NULL attributes via the
    * left join. Returns the observation columns plus the history's
    * non-key columns (attrs, version, effective_from/to).
    *
    * Scale shape: an equi-join on the keys with the interval test as a
    * residual range predicate — plans as a hash join whose probe side is
    * the observation stream and whose build side is versions-per-key
    * (dimension-sized; wrap in `broadcast(...)` upstream when it fits).
    * Never an interval cross product. The alternative formulation — the
    * native as-of join on `effective_from` — trades the residual for a
    * merge but loses the NULL-attrs-before-first-interval contract. */
  def pointInTimeJoin(obs: DataFrame, hist: DataFrame, keys: Seq[String],
      timeCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    // both sides' non-key columns land in the output verbatim — a shared
    // name would produce a DataFrame with duplicate columns that fails on
    // first by-name access downstream; reject it loudly here instead
    val clash = obs.columns.toSet
      .intersect(hist.columns.toSet -- keys)
    require(clash.isEmpty,
      s"observation and history sides share non-key column(s) " +
        s"${clash.mkString(", ")} — rename before joining")
    val cond = keys.map(k => obs(k) === hist(k)).reduce(_ && _) &&
      obs(timeCol) >= hist("effective_from") &&
      (hist("effective_to").isNull || obs(timeCol) < hist("effective_to"))
    val histCols = hist.columns.filterNot(keys.contains).map(hist(_))
    obs.join(hist, cond, "left")
      .select(obs.columns.map(obs(_)) ++ histCols: _*)
  }

  /** Series hash id (X14): sha256 of the `;`-joined metadata, the engine-side
    * equivalent of db_adapter's `generate_timeseries_id`
    * (reference call site: output/extract_water_level.py:211). */
  def seriesHashId(metaCols: Column*): Column =
    sha2(concat_ws(";", metaCols: _*), 256)

  /** String series-selection key (X15), e.g. `rainfall_{obsId}_{name}_MDPA`
    * (reference: input/rain/gen_rain.py:130). */
  def seriesKey(parts: Column*): Column = concat_ws("_", parts: _*)

  /** Forecast skill scores per series — the verification step downstream
    * of the extract pipeline (reference: the extracted HYCHAN/TIMDEP
    * forecasts get compared against observed gauges; this is that
    * comparison as one operator): per key group over the (key, time)
    * inner join of forecast and observation, n, MAE, RMSE, bias
    * (mean forecast − observed) and the Nash-Sutcliffe efficiency
    * NSE = 1 − Σe²/Σ(o − ō)² — hydrology's standard skill score (1 =
    * perfect, 0 = no better than the mean-observation forecast,
    * negative = worse). NSE's denominator uses the computational
    * identity Σ(o − ō)² = Σo² − (Σo)²/n so the whole report is ONE
    * map-side-combined aggregate over the join — no second
    * mean-centering pass; the identity is plain double arithmetic, so
    * any engine replays it term for term. NSE is NULL for constant
    * observations (zero variance — skill undefined, not perfect).
    *
    * Scale shape: one (key, time) equi-join (forecast and observation
    * stores co-partition on the same series keys) + one grouped
    * aggregate; nothing but the matched pairs shuffles. */
  def forecastSkill(fcst: DataFrame, obs: DataFrame, keyCols: Seq[String],
      timeCol: String, fcstCol: String, obsCol: String,
      roundTo: Int = 5): DataFrame = {
    require(keyCols.nonEmpty, "forecastSkill needs at least one series key")
    val joinCols = keyCols :+ timeCol
    val joined = fcst
      .select((joinCols.map(col) :+ col(fcstCol).cast("double").as("__f")): _*)
      .join(obs.select(
        (joinCols.map(col) :+ col(obsCol).cast("double").as("__o")): _*),
        joinCols)
    val e = col("__f") - col("__o")
    val nD = count(lit(1)).cast("double")
    val ssErr = sum(e * e)
    val ssObs = sum(col("__o") * col("__o")) - sum(col("__o")) * sum(col("__o")) / nD
    joined.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      round(avg(abs(e)), roundTo).as("mae"),
      round(sqrt(avg(e * e)), roundTo).as("rmse"),
      round(avg(e), roundTo).as("bias"),
      round(when(ssObs > 0, lit(1.0) - ssErr / ssObs), roundTo).as("nse"))
  }
}
