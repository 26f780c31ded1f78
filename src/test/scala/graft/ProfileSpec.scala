package graft

class ProfileSpec extends SparkSpec {
  test("a failing query is reported FAILED and the queries after it still run") {
    val dir = java.nio.file.Files.createTempDirectory("profile_spec").toFile
    val res = Profile.run(spark, Seq("q_no_such_query", "q_stream_c4"),
      "perfbench/fixtures/sf0.001", dir.getPath, "t", passes = 1)
    assert(res.map(_._1) == Seq("q_no_such_query", "q_stream_c4"))
    assert(res.head._2.isEmpty)
    val w = res(1)._2.getOrElse(fail("q_stream_c4 was not profiled"))
    assert(w.jobs.nonEmpty && w.batches.nonEmpty, w.report)
    val work = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "q_stream_c4_t_work.txt").toPath), "UTF-8")
    assert(work == w.report)
    assert(work.contains("== micro-batch plan 1 ==") && work.contains("addBatch="), work)
    assert(new java.io.File(dir, "q_stream_c4_t.txt").isFile)
  }
}
