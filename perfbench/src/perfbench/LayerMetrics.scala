package perfbench

/** Per-layer metrics of one traced iteration, from its spans, the Spark jobs
  * that started inside it, and the counts the workload reported. Every
  * workload reports every name; a layer a workload does not touch reads 0. */
object LayerMetrics {
  val QueryFamilies = Seq("dedup", "streaming", "ann", "trainprep", "multimodal", "flood")
  val JobModules = Seq("decks", "extract", "jdbc", "lake", "dedup", "trainprep")

  val Names: Seq[(String, String)] = Seq(
    "cli.gen_raincell_s" -> "s", "cli.gen_small_decks_s" -> "s",
    "decks.job_s" -> "s", "decks.lines" -> "count", "decks.bytes" -> "bytes",
    "cli.extract_forecast_s" -> "s", "extract.job_s" -> "s", "extract.points" -> "count",
    "jdbc.job_s" -> "s", "jdbc.points" -> "count",
    "lake.merge_s" -> "s", "lake.job_s" -> "s", "lake.partitions_rewritten" -> "count",
    "lake.rows_rewritten_per_upserted" -> "ratio") ++
    QueryFamilies.flatMap(f => Seq(s"queries.$f.construct_s" -> "s",
      s"queries.$f.execute_s" -> "s", s"queries.$f.jobs" -> "count")) ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s", "spark.slot_busy_frac" -> "ratio", "spark.driver_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_records" -> "count", "spark.spill_bytes" -> "bytes",
    "cli.corpus_prep_s" -> "s", "dedup.job_s" -> "s", "trainprep.job_s" -> "s",
    "corpus_prep.shuffle_records_per_doc" -> "ratio", "corpus_prep.docs_out" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "jvm.gc_s" -> "s",
    "trace.makespan_s" -> "s", "trace.unattributed_s" -> "s")

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = Layers.covered(
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      s.id -> (s.durMs - cover)
    }.toMap
  }

  /** Layer name of a span: the part before any `/` (`cli.gen_small_decks/GenRain`
    * counts toward `cli.gen_small_decks`). */
  def layerOf(span: Span): String = span.name.takeWhile(_ != '/')

  def of(it: Iter, spans: Seq[Span], rec: SparkRecorder, fromMs: Double, toMs: Double,
      wallS: Double, gcS: Double, slots: Int): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val self = selfMs(spans)
    spans.foreach { s =>
      val l = layerOf(s)
      if (l == "run") m("trace.unattributed_s") += self(s.id) / 1000.0
      else m(l + "_s") += self(s.id) / 1000.0
    }
    val jobs = rec.jobsIn(fromMs, toMs)
    jobs.foreach { j =>
      if (JobModules.contains(j.module) && j.endMs >= j.startMs)
        m(s"${j.module}.job_s") += (j.endMs - j.startMs) / 1000.0
    }
    // query families: jobs started inside a family's construct/execute spans
    spans.filter(s => s.name.startsWith("queries.") && s.name.count(_ == '.') == 2).foreach { s =>
      val fam = s.name.split('.')(1)
      m(s"queries.$fam.jobs") += jobs.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
    }
    val stages = rec.stagesOf(jobs)
    val tasks = rec.tasksOf(stages)
    m("spark.jobs") = jobs.size
    m("spark.stages") = stages.size
    m("spark.tasks") = tasks.size
    m("spark.task_wait_s") = tasks.map(t => math.max(0L, t.launchMs - rec.submitOf(t))).sum / 1000.0
    m("spark.slot_busy_frac") =
      tasks.map(t => math.max(0L, t.finishMs - t.launchMs)).sum / 1000.0 / (slots * wallS)
    val jobCover = Layers.covered(
      jobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)), fromMs, toMs)
    m("spark.driver_s") = (toMs - fromMs - jobCover) / 1000.0
    m("spark.executor_run_s") = stages.map(_.runMs).sum / 1000.0
    m("spark.executor_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("spark.shuffle_write_bytes") = stages.map(_.shuffleWriteBytes).sum.toDouble
    m("spark.shuffle_read_bytes") = stages.map(_.shuffleReadBytes).sum.toDouble
    m("spark.shuffle_records") = stages.map(_.shuffleRecords).sum.toDouble
    m("spark.spill_bytes") = stages.map(_.spillBytes).sum.toDouble
    val phases = rec.phasesIn(fromMs, toMs)
    m("catalyst.analysis_ms") = phases.map(_.analysisMs).sum.toDouble
    m("catalyst.optimization_ms") = phases.map(_.optimizationMs).sum.toDouble
    m("catalyst.planning_ms") = phases.map(_.planningMs).sum.toDouble
    m("jvm.gc_s") = gcS
    m("trace.makespan_s") = wallS
    it.counts.foreach { case (k, v) => m(k) = v }
    if (it.counts.contains("corpus_prep.docs_in"))
      m("corpus_prep.shuffle_records_per_doc") =
        m("spark.shuffle_records") / it.counts("corpus_prep.docs_in")
    m.toMap
  }
}

/** The traced run's full record: every span, every job with its module, and
  * the per-iteration layer metrics. */
object TraceDump {
  def json(workload: String, seed: Long, spans: Seq[Span], rec: SparkRecorder,
      layers: Seq[Map[String, Double]], walls: Seq[Double]): String = {
    val self = LayerMetrics.selfMs(spans)
    val spanJs = spans.sortBy(s => (s.run, s.startMs)).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_ms":${Json.num(self(s.id))}}"""
    }
    val runSpans = spans.filter(_.name == "run")
    val jobJs = runSpans.flatMap(r => rec.jobsIn(r.startMs, r.endMs).map(j => (r.run, j)))
      .map { case (run, j) =>
        s"""{"run":$run,"job":${j.id},"module":${Json.str(j.module)},""" +
          s""""call_site":${Json.str(j.callSite)},"start_ms":${j.startMs},"end_ms":${j.endMs}}"""
      }
    val layerJs = layers.map(l => Json.metrics(
      LayerMetrics.Names.map { case (k, u) => (k, l.getOrElse(k, 0.0), u) }))
    s"""{"workload":${Json.str(workload)},"seed":$seed,""" +
      s""""walls_s":[${walls.map(Json.num).mkString(",")}],""" +
      s""""layers_per_iteration":[${layerJs.mkString(",\n")}],""" +
      s""""spans":[${spanJs.mkString(",\n")}],""" +
      s""""jobs":[${jobJs.mkString(",\n")}]}"""
  }
}
