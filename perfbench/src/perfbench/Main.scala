package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One public call or one query, with the error that failed it, if any. An
  * output check that does not hold fails the op it checks. */
final class Op(val name: String) {
  var secs = 0.0
  var error: Option[String] = None
  def fail(msg: String): Unit = if (error.isEmpty) {
    error = Some(msg)
    System.err.println(s"[perfbench] FAILED $name: $msg")
  }
  def require(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** State of one workload iteration: its ops, the times at which named
  * results became ready, and counts the workload reports. */
final class Iter(val tracer: Tracer, val index: Int) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val marks = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  private val t0 = System.nanoTime()

  def sinceStart: Double = (System.nanoTime() - t0) / 1e9

  /** Runs one public call as an op inside a span named `span`. */
  def op[T](name: String, span: String)(body: => T): (Op, Option[T]) = {
    val o = new Op(name)
    ops += o
    val s = System.nanoTime()
    val r =
      try Some(tracer.span(span)(body))
      catch {
        case NonFatal(e) =>
          o.fail(s"${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          None
      }
    o.secs = (System.nanoTime() - s) / 1e9
    (o, r)
  }

  /** An op that could not run because an op it depends on failed. */
  def skipped(name: String, why: String): Op = {
    val o = new Op(name)
    ops += o
    o.fail(s"not run: $why")
    o
  }

  def mark(name: String): Unit = marks(name) = sinceStart
}

trait Workload {
  /** Input units one iteration processes, for `throughput_per_s`. */
  def units: Double
  /** Untimed passes of the workload that end set-up; a workload with any
    * then repeats for the run's seconds. Workloads whose production form is
    * one call per process (the CLIs) have none and measure that first call. */
  def warmPasses: Int = 0
  final def warm: Boolean = warmPasses > 0
  /** Writes this workload's inputs (from the seed) and preloads the stores;
    * called once, during set-up. */
  def generate(): Unit
  /** Untimed reset before each iteration. */
  def reset(it: Iter): Unit = ()
  /** The timed part of one iteration: the public calls. */
  def iterate(it: Iter): Unit
  /** Untimed output checks of the iteration just run. */
  def check(it: Iter): Unit
  /** Workload metrics printed beside the gated ones. */
  def report(iters: Seq[Iter]): Seq[(String, Double, String)] = Nil
}

object Main {
  /** Exits as soon as the result is written (or the run failed): the caller
    * removes the work directory, and Spark's own shutdown clean-up of it
    * would only add seconds to every run. */
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def run(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val root = a("root")
    val work = a("work")
    val launchMs = a.get("launch-ms").map(_.toDouble)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val resultFile = a("result")
    val traceFile = a.get("trace-file")

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // deep enough call-site stacks to reach the engine frame of each job
      .config("spark.callstack.depth", "200")
    val session = graft.SparkEntry.configure(spark).getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(traced)
    val recorder = new SparkRecorder(session)
    if (traced) recorder.install()
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    val wl: Workload = workload match {
      case "flood_day" => new FloodDay(session, seed, s"$work/in")
      case "query_suite" => new QuerySuite(session, seed, root)
      case "corpus_prep" => new CorpusPrepBench(session, seed, s"$work/in")
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val genS = timed(wl.generate())
    // warm passes (for workloads that run warm in production): JIT, class
    // loading and Spark's lazy set-up, checked like every measured iteration
    val warmIters = (1 to wl.warmPasses).map(_ => new Iter(new Tracer(false), -1))
    val warmS = timed(warmIters.foreach { w => wl.reset(w); wl.iterate(w); wl.check(w) })
    val setupS = sessionS + genS + warmS

    var checkS = 0.0
    val iters = mutable.ArrayBuffer.empty[Iter]
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    // a warm workload repeats until `seconds` have passed (checks included,
    // so a slow host runs fewer iterations rather than a longer run); a cold
    // one measures its single first call
    val loopStart = System.nanoTime()
    var i = 0
    while (i == 0 || (wl.warm && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      val it = new Iter(tracer, i)
      tracer.run = i
      wl.reset(it)
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val from = tracer.nowMs
      val wall = timed(tracer.span("run")(wl.iterate(it)))
      val to = tracer.nowMs
      cpuS += (cpuNs() - cpu0) / 1e9
      val gcS = (gcMs() - gc0) / 1000.0
      walls += wall
      System.err.println(f"[perfbench] iteration $i: $wall%.3f s")
      checkS += timed(wl.check(it))
      iters += it
      if (traced) {
        recorder.drain()
        layerRows += LayerMetrics.of(it, tracer.spans.filter(_.run == i), recorder,
          from, to, wall, gcS, cpus)
      }
      i += 1
    }

    val ops = (warmIters.flatMap(_.ops) ++ iters.flatMap(_.ops)).toSeq
    val measuredOps = iters.flatMap(_.ops).toSeq
    val failed = measuredOps.count(_.error.nonEmpty)
    val correct = ops.forall(_.error.isEmpty)
    val makespan = median(walls.toSeq)
    val opSecs = measuredOps.map(_.secs)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("makespan_s", makespan, "s"),
      ("throughput_per_s", wl.units / makespan, "units/s"),
      ("cpu_s", median(cpuS.toSeq), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("op_p95_s", percentile(opSecs, 0.95), "s"))
    val extra = Seq(("failed_frac", failed.toDouble / measuredOps.size, "ratio"),
      ("op_p50_s", percentile(opSecs, 0.50), "s"),
      ("iterations", iters.size.toDouble, "count"),
      ("setup.session_s", sessionS, "s"), ("setup.generate_s", genS, "s"),
      ("setup.warm_s", warmS, "s"), ("check_s", checkS, "s")) ++
      wl.report(iters.toSeq)

    val metrics =
      if (traced) LayerMetrics.Names.map { case (k, unit) =>
        (k, median(layerRows.map(_.getOrElse(k, 0.0)).toSeq), unit)
      }
      else e2e
    Files.writeString(Paths.get(resultFile),
      s"""{"workload":${Json.str(workload)},"seed":$seed,"correct":$correct,""" +
        s""""attempted":${measuredOps.size},"failed":$failed,""" +
        s""""metrics":${Json.metrics(metrics)},"report":${Json.metrics(extra)}}""")
    traceFile.filter(_ => traced).foreach { f =>
      Files.writeString(Paths.get(f), TraceDump.json(workload, seed, tracer.spans, recorder,
        layerRows.toSeq, walls.toSeq))
    }
  }

  def timed(f: => Unit): Double = {
    val s = System.nanoTime()
    f
    (System.nanoTime() - s) / 1e9
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (q in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Peak resident set of this process (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status)) {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } else (Runtime.getRuntime.totalMemory() / 1048576.0)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}
