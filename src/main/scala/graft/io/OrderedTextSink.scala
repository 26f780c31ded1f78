package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered single-file text sink — SURVEY.md §2 K1/S10.
  *
  * The reference builds each DAT deck by appending formatted lines to one
  * local file (reference: input/raincell/gen_raincell.py:35-42,
  * input/outflow/gen_outflow.py:39-52). Distributed equivalent: every
  * upstream task formats its own lines and shuffles them to one partition,
  * which sorts them on the deck's (section, seq) keys and streams the file.
  *
  * Scale posture: formatting stays parallel; the sort spills past memory,
  * and the one sorted stream is inherent to "one text file" output. There is
  * no global `orderBy`: its range partitioner samples the keys by
  * recomputing the whole upstream, only for one writer to read every range
  * in turn anyway.
  */
object OrderedTextSink {

  /** The one sorted partition of `lineCol` that [[writeSingleFile]] writes:
    * a single-partition exchange, then a sort within it. */
  def singleStream(df: DataFrame, orderCols: Seq[String] = Seq("section", "seq"),
      lineCol: String = "line"): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(orderCols.map(col): _*)
      .select(col(lineCol))

  /** Sort by `orderCols` and write `lineCol` as ONE text file at `path`.
    * Writes through a temp directory then moves the single part file. */
  def writeSingleFile(df: DataFrame, path: String,
      orderCols: Seq[String] = Seq("section", "seq"),
      lineCol: String = "line"): Unit = {
    val tmp = path + ".__tmp__"
    singleStream(df, orderCols, lineCol).write.mode("overwrite").text(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.toArray.map(_.toString)
        .filter(p => p.split('/').last.startsWith("part-")).sorted.head
      finally listing.close()
    Files.move(Paths.get(part), Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(tmp))
  }

  /** Idempotency guard (K6): reference skips generation when the target file
    * already exists (reference: input/raincell/gen_raincell.py:246-260). */
  def ifAbsent(path: String)(gen: => Unit): Boolean = {
    if (Files.exists(Paths.get(path))) false
    else { gen; true }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      val children = try listing.toArray(Array.ofDim[java.nio.file.Path](_))
        finally listing.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }
}
