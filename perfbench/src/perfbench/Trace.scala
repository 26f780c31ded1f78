package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Times are epoch
  * milliseconds with sub-millisecond digits, so they line up with the
  * epoch-millisecond times Spark's listener events carry. */
final case class Span(id: Int, parent: Int, run: Int, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Span recorder. Spans live in memory and are written out when the run
  * ends. With tracing off, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val wall0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var run = 0

  def nowMs: Double = wall0Ms + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val start = nowMs
      open = id :: open
      try f
      finally {
        open = open.tail
        done += Span(id, open.headOption.getOrElse(-1), run, name, start, nowMs)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, callSite: String,
    module: String, stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, runMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, shuffleRecords: Long, spillBytes: Long)
final case class TaskRec(stageId: Int, attempt: Int, launchMs: Long, finishMs: Long)
final case class PhaseRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Collects Spark job, stage and task counters, and the Catalyst phase times
  * of every action, for attribution to spans afterwards by time. */
final class SparkRecorder(spark: SparkSession) extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private val execStacks = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execStacks.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the call-site stack of the job's result stage; jobs that AQE submits
    // from its own threads carry it only on their SQL execution
    val stageStack = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val execStack = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execStacks.get(id.toLong))).getOrElse("")
    val stack = if (Layers.engineFrames(stageStack).nonEmpty) stageStack else execStack
    val (site, module) = Layers.attribute(stack)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, site, module, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmit.put((si.stageId, si.attemptNumber()),
      si.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null)
      stages.add(StageRec(si.stageId, si.attemptNumber(), m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    if (ti != null) tasks.add(TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      phases.add(PhaseRec(at, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
      .sortBy(_.id)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.filter(s => ids.contains(s.id)).toSeq
  }

  def tasksOf(ss: Seq[StageRec]): Seq[TaskRec] = {
    val ids = ss.map(s => (s.id, s.attempt)).toSet
    tasks.asScala.filter(t => ids.contains((t.stageId, t.attempt))).toSeq
  }

  def submitOf(t: TaskRec): Long = stageSubmit.getOrDefault((t.stageId, t.attempt), t.launchMs)

  def phasesIn(fromMs: Double, toMs: Double): Seq[PhaseRec] =
    phases.asScala.filter(p => p.atMs >= fromMs && p.atMs <= toMs).toSeq
}

object Layers {
  private val Frame = """graft\.[\w.$]+\((\w+)\.scala:(\d+)\)""".r

  private val ModuleOfFile = Map(
    "Decks" -> "decks", "OrderedTextSink" -> "decks",
    "FloOutputParsers" -> "extract", "ExtractPipeline" -> "extract",
    "JdbcUpsertSink" -> "jdbc", "LakeMerge" -> "lake",
    "Dedup" -> "dedup", "TrainPrep" -> "trainprep")

  /** Engine frames of a call-site stack, innermost first, as (file, line). */
  def engineFrames(stack: String): Seq[(String, String)] =
    Frame.findAllMatchIn(Option(stack).getOrElse("")).map(m => (m.group(1), m.group(2))).toSeq

  /** A job's call site and module: the innermost engine frame in a named
    * module (`TimeSeriesOps` called from `TrainPrep` counts as trainprep),
    * else the innermost engine frame, else "other". */
  def attribute(stack: String): (String, String) = {
    val frames = engineFrames(stack)
    frames.find(f => ModuleOfFile.contains(f._1))
      .map(f => (s"${f._1}.scala:${f._2}", ModuleOfFile(f._1)))
      .orElse(frames.headOption.map(f => (s"${f._1}.scala:${f._2}", f._1)))
      .getOrElse(("", "other"))
  }

  /** Total length of the union of `intervals`, clipped to [from, to]. */
  def covered(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
