package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-layout clustering — the write-side complement of
  * partition pruning. A lake queried by EITHER of two dimensions (say
  * station id AND time bucket, or language AND length band) cannot serve
  * both from a single-column sort: files tight on the sort key are
  * full-width on every other column, so min-max skipping only prunes one
  * access path. Interleaving the dimensions' bits (Morton / Z-order — the
  * technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`) makes file-level
  * min-max ranges tight on BOTH columns at once; LayoutSpec measures the
  * effect directly.
  */
object Layout {

  /** Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns — column `a` occupies even bit positions,
    * `b` odd. The expression is an UNROLLED mask/shift sum (2·bits codegen'd
    * integer terms, no HOF lambda, no UDF), so it rides whole-stage codegen
    * and replays exactly in any engine with `&`/`<<`. Inputs are masked to
    * their low `bits` bits up front, so out-of-range values — INCLUDING
    * negatives, whose arithmetic shiftright would otherwise sign-extend
    * ones into every interleaved position — fold deterministically onto
    * the low bits. Folding preserves nothing of the original ordering,
    * so for meaningful locality the caller should still bucket values
    * into [0, 2^bits) (offset-shift negative domains first); the mask
    * guarantees the key is merely non-local, never corrupt. */
  def zOrderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val mask = lit((1L << bits) - 1)
    val aa = a.cast("long").bitwiseAND(mask)
    val bb = b.cast("long").bitwiseAND(mask)
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(aa, i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftright(bb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** Per-(state, quadrant) OUTPUT DIGIT and NEXT STATE of the 4-state
    * Hilbert-curve machine, indexed `state * 4 + (2·xbit + ybit)`. The
    * tables are derived from (and exhaustively verified against — see
    * LayoutSpec) the classic iterative xy2d algorithm: the four states
    * are the orientations {identity, swap, swap+flip, flip} the loop's
    * per-level rotation composes, so the sequential rotate-in-place
    * becomes a pure per-level table lookup whose only carried value is
    * the 2-bit state — an UNROLLABLE expression (O(bits) lookups) where
    * the literal rotation would nest the whole coordinate transform
    * per level. */
  private val HilbertDigit: Seq[Long] =
    Seq(0L, 1L, 3L, 2L, 0L, 3L, 1L, 2L, 2L, 1L, 3L, 0L, 2L, 3L, 1L, 0L)
  private val HilbertNext: Seq[Long] =
    Seq(1L, 0L, 2L, 0L, 0L, 3L, 1L, 1L, 2L, 2L, 0L, 3L, 3L, 1L, 3L, 2L)

  /** Hilbert-curve key of two non-negative integer columns — Z-order's
    * better-locality sibling: Morton order jumps across the square at
    * every quadrant seam (the classic diagonal-jump artifact), while the
    * Hilbert traversal is ADJACENT at every step, so contiguous key
    * ranges (→ files) cover tighter rectangles for the same file count
    * (LakeZorderSpec measures hilbert ≤ zorder mean bounding-box area).
    * Unrolled state-transition-table form: per level one digit lookup +
    * one state lookup over 16-element literal arrays — whole-stage
    * codegen'd, no HOF lambda, no UDF, and engine-replayable (the
    * q_hilbert_key oracle replays the identical tables in SQL).
    * Out-of-range/negative inputs mask onto the low `bits` like
    * [[zOrderKey]]. */
  def hilbertKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val mask = lit((1L << bits) - 1)
    val x = a.cast("long").bitwiseAND(mask)
    val y = b.cast("long").bitwiseAND(mask)
    val dig = typedlit(HilbertDigit)
    val nxt = typedlit(HilbertNext)
    var state: Column = lit(0L)
    var acc: Column = lit(0L)
    for (lvl <- (bits - 1) to 0 by -1) {
      val q = shiftright(x, lvl).bitwiseAND(lit(1L)) * lit(2L) +
        shiftright(y, lvl).bitwiseAND(lit(1L))
      val idx = (state * lit(4L) + q + lit(1L)).cast("int")
      acc = acc + shiftleft(element_at(dig, idx), 2 * lvl)
      state = element_at(nxt, idx)
    }
    acc
  }

  /** The clustering key for a named curve — the `--curve` surface. */
  def curveKey(curve: String, a: Column, b: Column, bits: Int): Column =
    curveKeyN(curve, Seq(a, b), bits)

  /** [[curveKey]] generalized to d ∈ [2, 4] columns (round 17): real
    * layouts cluster 3–4 dimensions (source × lang × time-bucket), and a
    * 2-D key leaves the third access path full-width per file. */
  def curveKeyN(curve: String, cols: Seq[Column], bits: Int): Column =
    curve match {
      case "zorder" => zOrderKeyN(cols, bits)
      case "hilbert" =>
        if (cols.length == 2) hilbertKey(cols(0), cols(1), bits)
        else hilbertKeyN(cols, bits)
      case other => throw new IllegalArgumentException(
        s"unknown clustering curve '$other' — zorder or hilbert")
    }

  /** d-dimensional Morton key: bit `i` of column `j` lands at interleaved
    * position `d·i + j` (the 2-column [[zOrderKey]] layout, generalized).
    * Same unrolled mask/shift discipline: d·bits codegen'd terms, no HOF,
    * no UDF, engine-replayable. */
  def zOrderKeyN(cols: Seq[Column], bits: Int): Column = {
    val d = cols.length
    require(d >= 2 && d <= 4, s"zOrderKeyN clusters 2-4 columns, got $d")
    require(bits >= 1 && bits * d <= 62,
      s"bits must satisfy 1 <= bits and bits*$d <= 62, got $bits")
    val mask = lit((1L << bits) - 1)
    val masked = cols.map(_.cast("long").bitwiseAND(mask))
    val terms = for (i <- 0 until bits; j <- 0 until d)
      yield shiftleft(shiftright(masked(j), i).bitwiseAND(lit(1L)), d * i + j)
    terms.reduce(_ + _)
  }

  // ---- d-dimensional Hilbert (round 17) -----------------------------------
  //
  // The 2-D machine's 4 states generalize to the reachable (entry, dir)
  // pairs of Hamilton's compact-Hilbert formulation (Hamilton,
  // "Compact Hilbert Indices", Dalhousie CS-2006-07; same construction as
  // Butz 1971): per level the d coordinate bits form a subcell index z,
  // the state transforms z into the canonical frame, the Gray-code
  // inverse of the transformed z is the output digit, and the state
  // advances by the digit's entry/direction rules. Everything below
  // derives the DIGIT/NEXT tables for that machine ONCE, driver-side, by
  // BFS from the initial state — the per-row expression stays the 2-D
  // form: one digit lookup + one state lookup per level over literal
  // arrays, whole-stage codegen'd, no UDF, engine-replayable (the
  // q_hilbert3_key oracle replays the identical tables in SQL).

  private def grayCode(i: Long): Long = i ^ (i >> 1)
  /** Inverse Gray code = prefix-XOR from the MSB (doubling trick). */
  private def grayCodeInv(g: Long): Long = {
    var b = g
    var sh = 1
    while (sh < 64) { b ^= b >>> sh; sh <<= 1 }
    b
  }
  private def rotr(b: Long, r: Int, d: Int): Long = {
    val rr = ((r % d) + d) % d
    ((b >> rr) | (b << (d - rr))) & ((1L << d) - 1)
  }
  private def rotl(b: Long, r: Int, d: Int): Long = rotr(b, d - (r % d), d)
  private def ntz(i: Long): Int = java.lang.Long.numberOfTrailingZeros(i)

  /** Entry point of canonical subcell `w` (Hamilton eq. for e(i)). */
  private def hEntry(w: Long): Long =
    if (w == 0L) 0L else grayCode(2L * ((w - 1L) / 2L))

  /** Intra-subcell direction of canonical subcell `w` (Hamilton d(i)). */
  private def hDir(w: Long, d: Int): Int =
    if (w == 0L) 0
    else if (w % 2 == 0) ntz(w) % d   // g(w-1) = ntz(w) for even w
    else ntz(w + 1) % d               // g(w)   = ntz(w+1) for odd w

  /** The generated machine for dimension `d`: reachable (entry, dir)
    * states BFS-numbered from the initial (0, 0), with flat
    * `digit(state·2^d + z)` and `next(state·2^d + z)` tables — exactly
    * the 2-D literal-table shape, derived instead of hand-written. */
  private[graft] final case class HilbertMachine(d: Int, nStates: Int,
      digit: IndexedSeq[Long], next: IndexedSeq[Long])

  private[graft] def hilbertMachine(d: Int): HilbertMachine = {
    require(d >= 2 && d <= 4, s"hilbert machine supports 2-4 dims, got $d")
    val size = 1 << d
    val states = scala.collection.mutable.ArrayBuffer[(Long, Int)]((0L, 0))
    val stateId = scala.collection.mutable.HashMap[(Long, Int), Int]((0L, 0) -> 0)
    val digit = scala.collection.mutable.ArrayBuffer[Long]()
    val next = scala.collection.mutable.ArrayBuffer[Long]()
    var cursor = 0
    while (cursor < states.size) {
      val (e, dir) = states(cursor)
      for (z <- 0L until size.toLong) {
        val l = rotr(z ^ e, dir + 1, d)
        val w = grayCodeInv(l)
        val e2 = e ^ rotl(hEntry(w), dir + 1, d)
        val dir2 = (dir + hDir(w, d) + 1) % d
        val key = (e2, dir2)
        val id2 = stateId.getOrElseUpdate(key, { states += key; states.size - 1 })
        digit += w
        next += id2.toLong
      }
      cursor += 1
    }
    HilbertMachine(d, states.size, digit.toIndexedSeq, next.toIndexedSeq)
  }

  private[graft] lazy val Hilbert3 = hilbertMachine(3)
  private[graft] lazy val Hilbert4 = hilbertMachine(4)

  /** Driver-side reference model (specs + table derivation cross-check):
    * coords → Hilbert index via the same machine, interpreted. Axis
    * convention: `coords(j)` contributes bit j of the subcell index —
    * shared with [[hilbertKeyN]] and the SQL replay. */
  private[graft] def hilbertModel(coords: Seq[Long], bits: Int): Long = {
    val d = coords.length
    val m = hilbertMachine(d)
    var state = 0L
    var acc = 0L
    for (lvl <- (bits - 1) to 0 by -1) {
      val z = coords.indices.foldLeft(0L) { (a, j) =>
        a | (((coords(j) >> lvl) & 1L) << j)
      }
      val idx = (state * (1 << d) + z).toInt
      acc = (acc << d) | m.digit(idx)
      state = m.next(idx)
    }
    acc
  }

  /** d-dimensional Hilbert key over d ∈ [3, 4] non-negative integer
    * columns (2-D stays on the hand-written [[hilbertKey]] tables, which
    * the q_hilbert_key oracle pins). Same unrolled form: per level one
    * digit lookup + one state lookup over literal arrays sized
    * states·2^d (d=3: 96, d=4: 192 entries) — whole-stage codegen, no
    * UDF. Out-of-range/negative inputs mask onto the low `bits`. */
  def hilbertKeyN(cols: Seq[Column], bits: Int): Column = {
    val d = cols.length
    require(d >= 3 && d <= 4,
      s"hilbertKeyN clusters 3-4 columns (use hilbertKey for 2), got $d")
    require(bits >= 1 && bits * d <= 62,
      s"bits must satisfy 1 <= bits and bits*$d <= 62, got $bits")
    val m = if (d == 3) Hilbert3 else Hilbert4
    val mask = lit((1L << bits) - 1)
    val xs = cols.map(_.cast("long").bitwiseAND(mask))
    val dig = typedlit(m.digit)
    val nxt = typedlit(m.next)
    var state: Column = lit(0L)
    var acc: Column = lit(0L)
    for (lvl <- (bits - 1) to 0 by -1) {
      val z = xs.zipWithIndex.map { case (x, j) =>
        shiftleft(shiftright(x, lvl).bitwiseAND(lit(1L)), j): Column
      }.reduce(_ + _)
      val idx = (state * lit((1 << d).toLong) + z + lit(1L)).cast("int")
      acc = acc + shiftleft(element_at(dig, idx), d * lvl)
      state = element_at(nxt, idx)
    }
    acc
  }

  /** Range-partition and sort a frame by its space-filling-curve key
    * (Z-order by default) over d ∈ [2, 4] columns: each output partition
    * (→ file) covers one contiguous curve range — a small BOX in d-space,
    * so min-max skipping prunes every clustered access path. `nFiles`
    * bounds the file count; at 100 TB pick it from target file size
    * (~1 GB). */
  def writeClusteredN(df: DataFrame, cols: Seq[Column], bits: Int,
      nFiles: Int, curve: String = "zorder"): DataFrame = {
    val keyed = df.withColumn("__z", curveKeyN(curve, cols, bits))
    keyed.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}
