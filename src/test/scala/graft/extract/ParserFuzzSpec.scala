package graft.extract

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzz the FLO-2D block parser: arbitrary garbage interleaved with valid
  * structure must never crash the parse, never emit a row from garbage, and
  * always emit exactly the rows the valid fragments define — the same rows
  * whether the lines arrive as an ordered frame or as a file. */
class ParserFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(77L + i)))

  private val garbageGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr.map(_.take(40)),
    Gen.const(""),
    Gen.const("   "),
    Gen.const("NaN NaN NaN"),
    Gen.const("1.5"), // numeric but wrong arity
    Gen.const("TIME = abc"), // marker-like but unparseable payload
    Gen.listOfN(3, Gen.chooseNum(-1e9, 1e9)).map(_.mkString("  ")),
    // led or ended by the separators Python's split() strips besides ' '
    Gen.oneOf("\t", "\u000B", "\f", "\r").flatMap(c =>
      Gen.oneOf(Gen.const(c), Gen.const(c + "1.5"), Gen.const("7.25" + c),
        Gen.asciiPrintableStr.map(g => c + g.take(20) + c))))

  /** The rows parsed from `lines` as an ordered frame and as a file, which
    * must be equal; the frame's rows. */
  private def parseBothWays(lines: Seq[String], fromFrame: DataFrame => DataFrame,
      fromFile: String => DataFrame): Array[org.apache.spark.sql.Row] = {
    def rows(df: DataFrame) = df.select("element", "step_hours", "value").collect()
    val frame = rows(fromFrame(lines.zipWithIndex.map { case (l, i) => ("f", i.toLong, l) }
      .toDF("file", "line_no", "line")))
    val f = Files.createTempDirectory("fuzz").resolve("REPORT.OUT")
    Files.writeString(f, lines.mkString("\n"))
    val file = rows(fromFile(f.toString))
    assert(frame.map(_.toSeq).toSeq.sortBy(_.toString) ===
      file.map(_.toSeq).toSeq.sortBy(_.toString))
    frame
  }

  // numeric garbage INSIDE an open block is indistinguishable from data by
  // design (the reference accepts any numeric row there too) - so strict
  // row-count checks use non-numeric garbage after the header, and numeric
  // garbage goes before it, where no block is open yet
  private val nonNumericGarbage: Gen[String] = Gen.oneOf(
    Gen.alphaStr.map(_.take(30)), Gen.const(""), Gen.const("   "),
    Gen.const("NaN NaN NaN"), Gen.const("TIME = abc"))

  test("HYCHAN parser survives garbage and keeps only well-formed data rows") {
    val valid = Seq(
      "     CHANNEL HYDROGRAPH FOR ELEMENT NO:    123\t",
      "\t1.00\t11.00\t1.10\t4.40\t0.0",
      "\u000B     2.00   12.00   1.20    4.80    0.0\f")
    val lines = sample(garbageGen, 120) ++ valid ++ sample(nonNumericGarbage, 60)
    val rows = parseBothWays(lines, FloOutputParsers.parseHychan(_, valueIndex = 1),
      FloOutputParsers.parseHychanFile(spark, _, valueIndex = 1))
    assert(rows.length == 2, s"expected the 2 valid rows, got ${rows.length}")
    assert(rows.forall(_.getAs[String]("element") == "123"))
  }

  test("TIMDEP parser survives garbage blocks") {
    val valid = Seq(
      "\f   1.50\r",
      "\r     10   1.1   2.2   3.3   4.4   5.5\u000B",
      "\t11\t1.1\t2.2\t3.3\t4.4\t6.6")
    val lines = sample(garbageGen, 120) ++ valid ++ sample(nonNumericGarbage, 60)
    val rows = parseBothWays(lines, FloOutputParsers.parseTimdep(_),
      FloOutputParsers.parseTimdepFile(spark, _))
    // rows attach to the nearest preceding single-token time marker; the
    // two valid cells must survive with their block time and col-5 value
    assert(rows.exists(r => r.getAs[String]("element") == "10"
      && r.getAs[Double]("value") == 5.5))
    assert(rows.exists(r => r.getAs[String]("element") == "11"
      && r.getAs[Double]("value") == 6.6))
  }
}
