package perfbench

/** Per-layer figures of a traced run and its span tree. Each figure is a
  * median per op over the workload's primary ops; counts use only the
  * fixed first cycles (`Op.counted`) so they repeat exactly for a seed. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "api.parse_ms" -> "ms",
    "storage.build_ms" -> "ms",
    "storage.build_jobs" -> "count",
    "storage.exec_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count",
    "sched.stages" -> "count",
    "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms",
    "scan.bytes_read" -> "bytes",
    "scan.files_read" -> "count",
    "index.cells_probed_frac" -> "ratio",
    "index.build_ms" -> "ms",
    "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes",
    "shuffle.spill_bytes" -> "bytes",
    "commit.ms" -> "ms",
    "commit.jobs" -> "count",
    "commit.bytes_written" -> "bytes",
    "commit.files_written" -> "count",
    "pipeline.pairs_ms" -> "ms",
    "pipeline.components_ms" -> "ms",
    "pipeline.pairs" -> "count",
    "pipeline.kept_docs" -> "count")
  val names: Seq[String] = units.map(_._1)
  def unit(n: String): String = units.toMap.getOrElse(n, "")

  /** Milliseconds of [a, b] covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var reach = a
    spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  private def callStart(o: Op): Long = o.startMs + o.parseNs / 1000000
  private def buildEnd(o: Op): Long = callStart(o) + o.buildNs / 1000000

  def metrics(ops: Seq[Op], probe: Probe): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    val counted = ok.filter(_.counted)
    def med(xs: Seq[Op])(f: (Op, OpCounters) => Double): Double =
      Workload.median(xs.map(o => f(o, probe.counters(o.group))))
    val ivf = counted.filter(_.kind == "knn_ivf")
    val dedup = ok.filter(_.kind == "dedup")
    Map(
      "api.parse_ms" -> med(ok)((o, _) => o.parseNs / 1e6),
      "storage.build_ms" -> med(ok)((o, _) => o.buildNs / 1e6),
      "storage.build_jobs" -> med(counted)((o, c) => c.jobSpans.count(_._2 <= buildEnd(o)).toDouble),
      "storage.exec_ms" -> med(ok)((o, _) => o.execNs / 1e6),
      "catalyst.analysis_ms" -> med(ok)((_, c) => c.analysisMs),
      "catalyst.optimization_ms" -> med(ok)((_, c) => c.optimizationMs),
      "catalyst.planning_ms" -> med(ok)((_, c) => c.planningMs),
      "sched.jobs" -> med(counted)((_, c) => c.jobs.toDouble),
      "sched.stages" -> med(counted)((_, c) => c.stages.toDouble),
      "sched.tasks" -> med(counted)((_, c) => c.tasks.toDouble),
      "sched.driver_gap_ms" -> med(ok) { (o, c) =>
        val a = callStart(o)
        (o.endMs - a - covered(c.jobSpans.toSeq.map(j => (j._2, j._3)), a, o.endMs)).toDouble
      },
      "scan.bytes_read" -> med(counted)((_, c) => c.bytesRead.toDouble),
      "scan.files_read" -> med(counted)((_, c) => c.filesRead.toDouble),
      "index.cells_probed_frac" -> (if (ivf.isEmpty) 0.0 else med(ivf)((o, c) =>
        c.partitionsRead.toDouble / (o.items * BulkKnn.Cells))),
      "exec.task_run_ms" -> med(ok)((_, c) => c.taskRunMs.toDouble),
      "exec.task_cpu_ms" -> med(ok)((_, c) => c.taskCpuNs / 1e6),
      "exec.gc_ms" -> med(ok)((_, c) => c.gcMs.toDouble),
      "shuffle.write_bytes" -> med(counted)((_, c) => c.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> med(counted)((_, c) => c.shuffleRead.toDouble),
      "shuffle.spill_bytes" -> med(ok)((_, c) => c.spill.toDouble),
      "commit.ms" -> med(ok)((_, c) =>
        covered(c.jobSpans.toSeq.filter(_._4 > 0).map(j => (j._2, j._3)), Long.MinValue, Long.MaxValue).toDouble),
      "commit.jobs" -> med(counted)((_, c) => c.jobSpans.count(_._4 > 0).toDouble),
      "commit.bytes_written" -> med(counted)((_, c) => c.outBytes.toDouble),
      "commit.files_written" -> med(counted)((_, c) => c.filesWritten.toDouble),
      "pipeline.pairs_ms" -> (if (dedup.isEmpty) 0.0 else Workload.median(dedup.map(_.buildNs / 1e6))),
      "pipeline.components_ms" -> (if (dedup.isEmpty) 0.0 else Workload.median(dedup.map(_.execNs / 1e6))))
  }

  /** The span tree of every traced op: op → parse, build, exec, and the
    * op's Spark jobs (under build or exec by start time) → stages. Self
    * time is a span's duration less the part its children cover. */
  def spans(ops: Seq[Op], probe: Probe): Seq[String] = ops.flatMap { o =>
    val c = probe.counters(o.group)
    val a = callStart(o)
    val b = buildEnd(o)
    val jobs = c.jobSpans.toSeq
    def job(j: (Int, Long, Long, Long)): Seq[String] = {
      val stages = c.stageSpans.toSeq.filter(_._2 == j._1)
      Json.obj(Seq("span" -> Json.str("job"), "op" -> o.seq.toString, "job" -> j._1.toString,
        "phase" -> Json.str(if (j._2 <= b) "build" else "exec"),
        "start_ms" -> j._2.toString, "end_ms" -> j._3.toString,
        "self_ms" -> (j._3 - j._2 - covered(stages.map(s => (s._3, s._4)), j._2, j._3)).toString,
        "bytes_written" -> j._4.toString)) +:
        stages.map(s => Json.obj(Seq("span" -> Json.str("stage"), "op" -> o.seq.toString,
          "job" -> j._1.toString, "stage" -> s._1.toString, "start_ms" -> s._3.toString,
          "end_ms" -> s._4.toString, "tasks" -> s._5.toString)))
    }
    val jobIv = jobs.map(j => (j._2, j._3))
    Seq(
      Json.obj(Seq("span" -> Json.str("op"), "op" -> o.seq.toString, "kind" -> Json.str(o.kind),
        "ok" -> Json.bool(o.ok), "start_ms" -> o.startMs.toString, "end_ms" -> o.endMs.toString,
        "self_ms" -> Json.num((o.endMs - o.startMs) - (o.parseNs + o.buildNs + o.execNs) / 1e6))),
      Json.obj(Seq("span" -> Json.str("parse"), "op" -> o.seq.toString,
        "start_ms" -> o.startMs.toString, "dur_ms" -> Json.num(o.parseNs / 1e6))),
      Json.obj(Seq("span" -> Json.str("build"), "op" -> o.seq.toString, "start_ms" -> a.toString,
        "dur_ms" -> Json.num(o.buildNs / 1e6),
        "self_ms" -> Json.num(o.buildNs / 1e6 - covered(jobIv, a, b)))),
      Json.obj(Seq("span" -> Json.str("exec"), "op" -> o.seq.toString, "start_ms" -> b.toString,
        "dur_ms" -> Json.num(o.execNs / 1e6),
        "self_ms" -> Json.num(o.execNs / 1e6 - covered(jobIv, b, o.endMs))))) ++
      jobs.flatMap(job)
  }
}
