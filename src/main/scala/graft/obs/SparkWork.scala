package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

final case class JobWork(id: Int, site: String, tasks: Int, wallMs: Long)

/** The Spark work a [[SparkWork.measure]] block started: its jobs, completed
  * stages, the progress of each micro-batch of the streams it ran (whose
  * `durationMs` splits the batch into latestOffset, queryPlanning, walCommit,
  * addBatch, commitOffsets, ...), and each micro-batch's physical plan
  * (which `explain()` on the stream or its sink never shows). `seconds` is
  * the block's wall time. */
final case class Work(seconds: Double, jobs: Seq[JobWork], stages: Seq[StageInfo],
    batches: Seq[StreamingQueryProgress], batchPlans: Seq[String]) {
  private def sum(f: TaskMetrics => Long): Long = stages.map(s => f(s.taskMetrics)).sum
  def tasks: Int = stages.map(_.numTasks).sum
  def cpuMs: Long = sum(_.executorCpuTime) / 1000000
  def shuffleWriteBytes: Long = sum(_.shuffleWriteMetrics.bytesWritten)
  def shuffleWriteRecords: Long = sum(_.shuffleWriteMetrics.recordsWritten)
  def shuffleReadBytes: Long = sum(_.shuffleReadMetrics.totalBytesRead)
  def spillBytes: Long = sum(_.diskBytesSpilled)
  def peakStageShuffleWrite: Long =
    stages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).maxOption.getOrElse(0L)

  /** Totals, one line per job, stage and micro-batch, then the plans. */
  def report: String = (Seq(
    f"seconds=$seconds%.3f jobs=${jobs.size} stages=${stages.size} tasks=$tasks " +
      s"cpu_ms=$cpuMs shuffle_write_bytes=$shuffleWriteBytes shuffle_write_records=" +
      s"$shuffleWriteRecords shuffle_read_bytes=$shuffleReadBytes spill_bytes=$spillBytes") ++
    jobs.map(j => f"job ${j.id}%5d ${j.wallMs}%6d ms tasks=${j.tasks}%4d  ${j.site}") ++
    stages.map { s =>
      val m = s.taskMetrics
      f"stage ${s.stageId}%5d ${s.completionTime.get - s.submissionTime.get}%6d ms " +
        f"cpu=${m.executorCpuTime / 1000000}%6d ms tasks=${s.numTasks}%4d " +
        s"shuffle_write=${m.shuffleWriteMetrics.bytesWritten} B " +
        s"(${m.shuffleWriteMetrics.recordsWritten} records) " +
        s"shuffle_read=${m.shuffleReadMetrics.totalBytesRead} B  ${s.name}"
    } ++
    batches.map(b => s"batch ${b.name} #${b.batchId} rows=${b.numInputRows} " +
      b.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")) ++
    batchPlans.zipWithIndex.map { case (p, i) => s"== micro-batch plan ${i + 1} ==\n$p" }
  ).mkString("", "\n", "\n")
}

/** The one meter of Spark work for the measurement tools (`Profile`,
  * `Scale`).
  *
  * A block's work is told apart from the rest of the SparkContext's by a
  * job tag set on the calling thread for the block. Spark copies a thread's
  * tags onto the jobs it submits, onto the threads AQE and stream execution
  * start from it, and onto SQL-execution and stream-start events, so the
  * counts are the block's own even while other threads share the context.
  * Stream events travel the context's listener bus, so streams on cloned
  * sessions (`StreamParity`'s per-conf sessions) are covered too. */
object SparkWork {
  /** Runs `body` and returns its value with the work it started. The
    * listener bus is drained before the counts are read, so they are
    * complete without waiting for events to settle. */
  def measure[T](spark: SparkSession)(body: => T): (T, Work) = {
    val sc = spark.sparkContext
    val recorder = new Recorder(s"graft-obs-${java.util.UUID.randomUUID()}")
    sc.addSparkListener(recorder)
    sc.addJobTag(recorder.tag)
    try {
      val t0 = System.nanoTime()
      val result = body
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListenerBus(spark)
      (result, recorder.work(seconds))
    } finally {
      sc.removeJobTag(recorder.tag)
      sc.removeSparkListener(recorder)
    }
  }

  private final class Recorder(val tag: String) extends SparkListener {
    private val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val streamRuns = ConcurrentHashMap.newKeySet[String]()
    private val jobs = new ConcurrentLinkedQueue[JobWork]()
    private val stages = new ConcurrentLinkedQueue[StageInfo]()
    private val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val plans = new ConcurrentLinkedQueue[String]()

    def work(seconds: Double): Work = Work(seconds, jobs.asScala.toSeq.sortBy(_.id),
      stages.asScala.toSeq.sortBy(_.stageId), batches.asScala.toSeq, plans.asScala.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      // "spark.job.tags" (SparkContext.SPARK_JOB_TAGS): the submitter's tags
      if (Option(e.properties).exists(_.getProperty("spark.job.tags", "")
          .split(",").contains(tag))) {
        jobStarts.put(e.jobId, e)
        e.stageIds.foreach(stageIds.add)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(JobWork(e.jobId,
        s.stageInfos.lastOption.fold("?")(_.name), s.stageInfos.map(_.numTasks).sum,
        e.time - s.time)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId) && e.stageInfo.taskMetrics != null)
        stages.add(e.stageInfo)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: QueryStartedEvent if s.jobTags.contains(tag) =>
        streamRuns.add(s.runId.toString)
      case p: QueryProgressEvent if streamRuns.contains(p.progress.runId.toString) =>
        batches.add(p.progress)
      // a micro-batch execution's description names its stream's run id;
      // the sink's write nests a second execution of the same plan
      case x: SparkListenerSQLExecutionStart if x.jobTags.contains(tag) &&
          x.rootExecutionId.forall(_ == x.executionId) &&
          streamRuns.asScala.exists(x.description.contains) =>
        plans.add(x.physicalPlanDescription)
      case _ =>
    }
  }
}
