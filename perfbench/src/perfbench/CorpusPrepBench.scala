package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.CorpusPrep

/** One `CorpusPrep.run` over a corpus generated from the seed: repetition
  * gate, PII redaction, transitive near-dup dedup, containment dedup and
  * pack chunking, with the chunks written out.
  *
  * The corpus is built so the survivors are known exactly:
  *  - `Sups` unique documents of 40 random tokens, all kept;
  *  - one true-prefix sub-document (its first 30 tokens) for every fourth
  *    of them, dropped by containment dedup (token-set Jaccard 0.75 keeps
  *    them out of near-dup dedup);
  *  - `Clusters` near-dup clusters of `ClusterSize` variants of one base
  *    document, each variant replacing one token with a token of its own
  *    (pairwise Jaccard 38/42 = 0.905, or 39/41 = 0.951 for two variants
  *    that replaced the same position). Each cluster closes to one keeper.
  *
  * The clusters hold 2 × C(650, 2) = 421,850 near-dup pairs; with 16
  * hashes in 4-row bands a 0.905 pair becomes a candidate with probability
  * 0.988, so about 417 k verified edges (414,091–419,626 over seeds 1–12)
  * enter connected components, above `Dedup.DefaultLocalFinishEdges`
  * (400 k): the distributed closure runs, not the driver-local finish.
  * Few unique docs and few, large clusters keep the cold call short. */
final class CorpusPrepBench(spark: SparkSession, seed: Long, inDir: String) extends Workload {
  import CorpusPrepBench._

  def units: Double = Docs.toDouble

  /** Doc ids: unique docs, then sub-docs, then cluster variants. */
  def generate(): Unit = {
    FloodDay.deleteTree(Paths.get(inDir))
    val id = col("id")
    val subOff = Sups.toLong
    val clusterOff = subOff + Subs
    // (doc_id, base, len, replaced position, replacement)
    val docs = spark.range(Docs).select(
      id.as("doc_id"),
      when(id < subOff, id)
        .when(id < clusterOff, (id - subOff) * 4)
        .otherwise(lit(1L << 40) + floor((id - clusterOff) / ClusterSize)).as("base"),
      when(id >= subOff && id < clusterOff, lit(SubTokens)).otherwise(lit(SupTokens)).as("len"),
      when(id >= clusterOff, pmod(id - clusterOff, lit(ClusterSize.toLong)) % SupTokens + 1)
        .otherwise(lit(0L)).as("pos"),
      concat(lit("x"), floor((id - clusterOff) / ClusterSize).cast("string"), lit("_"),
        pmod(id - clusterOff, lit(ClusterSize.toLong)).cast("string")).as("repl"))
    docs.select(col("doc_id"), concat_ws(" ", transform(sequence(lit(1), col("len")), j =>
      when(j.cast("long") === col("pos"), col("repl")).otherwise(token(col("base"), j))))
      .as("text"))
      .repartition(8)
      .write.parquet(s"$inDir/corpus.parquet")
  }

  private def token(base: Column, j: Column): Column =
    concat(lit("w"), pmod(xxhash64(lit(seed), base, j), lit(Vocab)).cast("string"))

  private def out(it: Iter) = s"$inDir/out_${it.index + 1}"

  override def reset(it: Iter): Unit = FloodDay.deleteTree(Paths.get(out(it)))

  private var stats = Map.empty[String, Long]

  def iterate(it: Iter): Unit = {
    stats = Map.empty
    it.op("CorpusPrep", "cli.corpus_prep") {
      stats = CorpusPrep.run(spark, Map(
        "in" -> s"$inDir/corpus.parquet", "out" -> out(it),
        "repetition-gate" -> "true", "redact" -> "true",
        "dedup" -> "transitive", "dedup-hashes" -> "16", "dedup-rows-per-band" -> "4",
        "containment-dedup" -> "0.9", "chunk-mode" -> "pack", "budget" -> "4096"))
    }
  }

  def check(it: Iter): Unit = it.ops.filter(_.error.isEmpty).foreach { o =>
    o.require(stats.get("docs_in").contains(Docs), s"docs_in ${stats.get("docs_in")}")
    o.require(stats.get("docs_out").contains(Survivors),
      s"docs_out ${stats.get("docs_out")}, expected $Survivors")
    val ids = spark.read.parquet(s"${out(it)}/chunks").select("doc_id")
    val r = ids.agg(
      count(lit(1)),
      sum(when(col("doc_id") < Sups, 1L).otherwise(0L)),
      sum(when(col("doc_id") >= Sups && col("doc_id") < Sups + Subs, 1L).otherwise(0L)),
      countDistinct(when(col("doc_id") >= Sups + Subs,
        floor((col("doc_id") - Sups - Subs) / ClusterSize)))).head()
    o.require(r.getLong(0) == Survivors && r.getLong(1) == Sups && r.getLong(2) == 0L &&
      r.getLong(3) == Clusters,
      s"chunk assignments: ${r.getLong(0)} rows, ${r.getLong(1)} unique docs, " +
        s"${r.getLong(2)} sub-docs, ${r.getLong(3)} clusters kept")
    it.counts("corpus_prep.docs_in") = Docs.toDouble
    it.counts("corpus_prep.docs_out") = stats.getOrElse("docs_out", 0L).toDouble
  }
}

object CorpusPrepBench {
  val Sups = 200
  val Subs: Int = Sups / 4
  val Clusters = 2
  val ClusterSize = 650
  val SupTokens = 40
  val SubTokens = 30
  val Vocab = 50000L
  val Docs: Long = Sups.toLong + Subs + Clusters.toLong * ClusterSize
  val Survivors: Long = Sups.toLong + Clusters
}
