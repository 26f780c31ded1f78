package graft

import scala.util.control.NonFatal

import graft.obs.{SparkWork, Work}
import org.apache.spark.sql.SparkSession

/** For each named query: dump the formatted physical plan to
  * `<planDir>/<name>_<tag>.txt`, then time `count()` (the bench's action)
  * over a warmup and `passes` measured runs. Prints per-pass seconds and the
  * last pass's counters; that pass's full [[graft.obs.Work]] report (jobs,
  * stages, stream micro-batch phases and plans) goes to
  * `<planDir>/<name>_<tag>_work.txt`.
  *
  * `runMain graft.Profile <q1,q2,...> [sfDir] [planDir] [tag] [passes]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val planDir = args.lift(2).getOrElse("plans/r17")
    val tag = args.lift(3).getOrElse("before")
    val passes = args.lift(4).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, names, sfDir, planDir, tag, passes)
    finally spark.stop()
  }

  /** Profiles each query in turn and returns its last pass's work, or None
    * when the query failed; a failed query is reported FAILED and the rest
    * still run. */
  def run(spark: SparkSession, names: Seq[String], sfDir: String,
      planDir: String, tag: String, passes: Int): Seq[(String, Option[Work])] = {
    require(passes > 0, s"passes must be positive, got $passes")
    new java.io.File(planDir).mkdirs()
    def write(file: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(planDir, file), text)
    names.map { name =>
      name -> (try {
        val fn = SparkEntry.queries(name)
        // plan dump (pre-execution, AQE isFinalPlan=false — the shape audit)
        val planTxt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        write(s"${name}_$tag.txt", planTxt)
        val ex = planTxt.linesIterator.count(_.contains("Exchange"))
        fn(spark, sfDir).count() // warmup
        val works = (1 to passes).map(_ =>
          SparkWork.measure(spark)(fn(spark, sfDir).count())._2)
        val w = works.last
        write(s"${name}_${tag}_work.txt", w.report)
        println(f"$name%-26s ${works.map(p => f"${p.seconds}%6.3f").mkString(" ")}  " +
          f"jobs=${w.jobs.size}%3d stages=${w.stages.size}%3d tasks=${w.tasks}%4d " +
          f"shufW=${w.shuffleWriteBytes / 1024}%6d KB shufR=${w.shuffleReadBytes / 1024}%6d KB " +
          f"spill=${w.spillBytes / 1024}%d KB exch=$ex")
        Some(w)
      } catch { case NonFatal(e) =>
        println(f"$name%-26s FAILED ${String.valueOf(e.getMessage).take(120)}")
        None
      })
    }
  }
}
