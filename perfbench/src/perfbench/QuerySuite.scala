package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Engine queries from `SparkEntry.queries`, each built and then fully
  * materialized through a `noop` write (not `count()`, which lets Catalyst
  * prune projections nobody reads), over the committed sf0.001 fixture.
  *
  * The suite is a fixed selection of one to three queries per family (eleven in all): the
  * full 231-query registry takes about two minutes per pass on four cores,
  * longer than one run may last. The seed sets the order the queries run
  * in. Each query's row count and order-insensitive content hash are pinned
  * in `query_pins.tsv`. */
final class QuerySuite(spark: SparkSession, seed: Long, root: String) extends Workload {
  import QuerySuite._

  private val fixture = s"$root/perfbench/fixtures/sf0.001"
  private val pinFile = Paths.get(root, "perfbench", "query_pins.tsv")
  private val order = new scala.util.Random(seed).shuffle(Selected.map(_._1))
  private val family = Selected.toMap
  private var pins = Map.empty[String, (Long, Long)]
  private val built = mutable.Map.empty[String, DataFrame]

  def units: Double = Selected.size

  /** The registry runs many queries in one long-lived session. Five passes
    * bring the JIT near its steady state before the timed passes. */
  override def warmPasses: Int = 5

  def generate(): Unit = {
    require(Files.isDirectory(Paths.get(fixture)), s"missing fixture $fixture")
    pins = Files.readAllLines(pinFile).asScala.filterNot(_.startsWith("#")).map { l =>
      val f = l.split('\t')
      f(0) -> (f(2).toLong, java.lang.Long.parseUnsignedLong(f(3), 16))
    }.toMap
    require(Selected.forall(q => pins.contains(q._1)),
      s"query_pins.tsv lacks ${Selected.map(_._1).filterNot(pins.contains).mkString(", ")}")
  }

  def iterate(it: Iter): Unit = {
    built.clear()
    val queries = graft.SparkEntry.queries
    order.foreach { q =>
      val f = family(q)
      it.op(q, s"queries.$f/$q") {
        val df = it.tracer.span(s"queries.$f.construct")(queries(q)(spark, fixture))
        it.tracer.span(s"queries.$f.execute")(
          df.write.format("noop").mode("overwrite").save())
        built(q) = df
      }
    }
  }

  /** Re-executes each query of the first measured pass to hash its rows.
    * That pass already repeats the warm passes' calls in the same session;
    * re-executing the others too would cost one pass of the run's seconds
    * each. Every pass's ops still fail on any error. */
  def check(it: Iter): Unit = if (it.index == 0) {
    it.ops.filter(_.error.isEmpty).foreach { o =>
      val (rows, hash) = contentHash(built(o.name))
      val (r, h) = pins(o.name)
      o.require(rows == r && hash == h,
        f"${o.name}: $rows rows, hash $hash%016x; pinned $r rows, hash $h%016x")
    }
  }

}

object QuerySuite {
  /** (query, family). */
  val Selected: Seq[(String, String)] = Seq(
    "q_dedup_minhash" -> "dedup", "q_stream_c4" -> "streaming", "q_ann_ivf" -> "ann",
    "q_text_winnow" -> "trainprep", "q_mm_dhash" -> "multimodal",
    "q_deck_raincell" -> "flood")

  /** Row count and the wrapping sum of a 64-bit hash of every row: equal
    * for equal multisets of rows, whatever their order. Doubles are hashed
    * at nine significant digits, so summation order does not change it. */
  def contentHash(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += hash64(render(r)) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d == 0.0) "0" else if (d.isNaN) "NaN" else String.format(java.util.Locale.US, "%.9g", Double.box(d))
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "\u0002" + render(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros().toPlainString
    case o => o.toString
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }
}
