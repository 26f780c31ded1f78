package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Alone, SparkSpec}
import graft.ops.TimeSeriesOps

/** Scale posture of the native as-of operator (round-16 task): the
  * interpreted streaming merge must beat (or match) the window form once
  * data dwarfs fixed costs — pinned at ~10× the driver fixture's as-of
  * slice — and the salted wrapper must neutralize single-key skew, which
  * the plain ClusteredDistribution cannot (custom nodes opt out of AQE
  * skew splitting). */
class AsOfJoinScaleSpec extends SparkSpec {

  /** Deterministic synthetic trades/quotes. `hotFrac` routes that share
    * of rows to key 0 (the one-symbol-dominates shape). */
  private def side(n: Long, nKeys: Int, hotFrac: Double,
      valName: String, offset: Long): DataFrame = {
    val base = spark.range(n)
    val hotCut = (n * hotFrac).toLong
    base.select(
      when(col("id") < hotCut, 0L)
        .otherwise(pmod(col("id"), lit(nKeys.toLong))).as("k"),
      (col("id") * 1000L + offset).as("time"),
      pmod(col("id"), lit(97L)).cast("double").as(valName))
  }

  private def timeMin(passes: Int)(body: => Unit): Double =
    (1 to passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min

  /** Min-of-N for TWO bodies, passes INTERLEAVED a-b-a-b: sequential
    * min-of-N-each lets one-directional drift (GC buildup, page-cache
    * state, a co-tenant arriving mid-test) bias whichever side ran
    * second — measured ratios swung 0.69–1.21 run to run before
    * interleaving. */
  private def timeMinPair(passes: Int)(a: => Unit)(b: => Unit): (Double, Double) = {
    var bestA = Double.MaxValue
    var bestB = Double.MaxValue
    (1 to passes).foreach { _ =>
      val t0 = System.nanoTime(); a
      bestA = math.min(bestA, (System.nanoTime() - t0) / 1e9)
      val t1 = System.nanoTime(); b
      bestB = math.min(bestB, (System.nanoTime() - t1) / 1e9)
    }
    (bestA, bestB)
  }

  test("salted == unsalted: the salt never changes the answer (skewed fixture)") {
    val trades = side(50000, 16, 0.9, "v", 0)
    val quotes = side(50000, 16, 0.9, "px", 500)
    def rows(df: DataFrame) =
      df.select("k", "time", "v", "asof_px").collect()
        .map(_.mkString("|")).sorted.toSeq
    val plain = rows(TimeSeriesOps.asofJoinNative(
      trades, quotes, Seq("k"), "time"))
    val salted = rows(TimeSeriesOps.asofJoinNativeSalted(
      trades, quotes, Seq("k"), "time", saltBuckets = 8))
    assert(salted === plain, "salting must be result-invariant")
  }

  test("10x fixture scale: native merge <= window form (strictly less movement)", Alone) {
    withTimingLock {
    val n = 400000L
    val trades = side(n, 16, 0.0, "v", 0)
    val quotes = side(n, 16, 0.0, "px", 500)
    // force the asof column: a bare count() lets Catalyst PRUNE the
    // window computation out of the window form (the Bench caveat),
    // while the opaque native node cannot be pruned — hash-summing the
    // joined value makes both forms do the operator's actual work
    def force(df: DataFrame): Unit =
      df.agg(sum(xxhash64(col("asof_px"), col("v")) % 1048576)).head()
    def native() = force(TimeSeriesOps.asofJoinNative(
      trades, quotes, Seq("k"), "time"))
    def window() = force(TimeSeriesOps.asofJoin(
      trades, quotes, Seq("k"), "time"))
    native(); window() // warm: JIT + codegen outside the timed window
    // round 17: the merge is WholeStageCodegen'd (the SMJ stage-start
    // pattern) — pin that the executed plan actually fuses it (the `*(N)`
    // marker), so a silent fallback to the interpreted path can't hide
    val planStr = org.apache.spark.sql.GraftBridge.finalPlanString(
      TimeSeriesOps.asofJoinNative(trades, quotes, Seq("k"), "time")
        .agg(sum(xxhash64(col("asof_px"), col("v")) % 1048576)))
    assert("\\*\\(\\d+\\) AsOfJoin".r.findFirstIn(planStr).nonEmpty,
      "AsOfJoin must sit inside a WholeStageCodegen stage:\n" +
        planStr.take(1200))
    val (tN, tW) = timeMinPair(4)(native())(window())
    info(f"asof at ${n / 1000}k/side: native $tN%.2f s, window $tW%.2f s " +
      f"(ratio ${tN / tW}%.2f)")
    // measured after codegen (quiet 32-core host, interleaved min-of-4):
    // the merge+downstream-agg is one generated loop (r16's interpreted
    // merge sat at ~1.0× of the window form); the bound asserts the
    // codegen win sticks with margin for timer noise; a FOREIGN-loaded
    // host cancels instead of failing (assertTiming).
    assertTiming(tN <= tW * 0.9,
      f"codegen'd native merge must beat the window form at scale: " +
        f"native $tN%.2f s vs window $tW%.2f s")
    }
  }

  test("skew: one key holding 90% completes within 2x of uniform when salted") {
    withTimingLock {
    val n = 400000L
    val uniT = side(n, 64, 0.0, "v", 0)
    val uniQ = side(n, 64, 0.0, "px", 500)
    val hotT = side(n, 64, 0.9, "v", 0)
    val hotQ = side(n, 64, 0.9, "px", 500)
    def force(df: DataFrame): Unit =
      df.agg(sum(xxhash64(col("asof_px"), col("v")) % 1048576)).head()
    def uniform() = force(TimeSeriesOps.asofJoinNative(
      uniT, uniQ, Seq("k"), "time"))
    def hotSalted() = force(TimeSeriesOps.asofJoinNativeSalted(
      hotT, hotQ, Seq("k"), "time", saltBuckets = 2))
    uniform(); hotSalted() // warm
    val (tU, tS) = timeMinPair(3)(uniform())(hotSalted())
    info(f"asof skew at ${n / 1000}k/side: uniform $tU%.2f s, " +
      f"hot-salted $tS%.2f s (ratio ${tS / tU}%.2f)")
    assertTiming(tS <= tU * 2.0,
      f"salting must keep the hot-key join within 2x of uniform: " +
        f"salted $tS%.2f s vs uniform $tU%.2f s")
    }
  }
}
