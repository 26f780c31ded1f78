package graft.obs

import graft.SparkSpec
import graft.streaming.StreamParity
import org.apache.spark.sql.functions._

class SparkWorkSpec extends SparkSpec {
  test("back-to-back measures of one shuffle action report identical counts") {
    // 4 map tasks, each holding all 97 keys: partial aggregation writes
    // exactly 4 × 97 shuffle records. A fresh DataFrame per action, so the
    // second does not reuse the first one's shuffle output.
    def action() =
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
        .collect().length
    val (n1, w1) = SparkWork.measure(spark)(action())
    val (n2, w2) = SparkWork.measure(spark)(action())
    assert(n1 == 97 && n2 == 97)
    assert(w1.shuffleWriteRecords == 388, w1.report)
    assert(w1.jobs.nonEmpty && w1.stages.nonEmpty, w1.report)
    assert((w1.jobs.size, w1.stages.size, w1.tasks, w1.shuffleWriteRecords) ==
      (w2.jobs.size, w2.stages.size, w2.tasks, w2.shuffleWriteRecords),
      s"first:\n${w1.report}\nsecond:\n${w2.report}")
  }

  test("a stream on a cloned session reports its batch phases and micro-batch plan") {
    val (out, w) = SparkWork.measure(spark) {
      StreamParity.resampleComplete(spark, "perfbench/fixtures/sf0.001", 900)
    }
    assert(out.count() > 0)
    assert(w.batches.exists(_.durationMs.containsKey("addBatch")), w.report)
    assert(w.batchPlans.count(_.contains("StateStoreSave")) == 1, w.report)
  }
}
