package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload api_mixed --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --out <record dir>
  * }}}
  *
  * Prints a human report (every figure by name with its unit, the answer
  * checks, the contention sentinel) and, as the last line, the result JSON.
  * With `--trace 0` the JSON carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics of a traced half-run and
  * the tracing overhead against an untraced half-run. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, out: File)

  private def opts(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("work")), new File(m("out")))
  }

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val t0 = System.nanoTime()
    o.work.mkdirs()
    o.out.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "hadoop").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val json =
      try run(spark, o, cores, lines, (System.nanoTime() - t0) / 1e9)
      finally spark.stop()
    lines.foreach(l => println(s"[perfbench] $l"))
    println(json)
  }

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim)
      .getOrElse("n/a")

  /** Fixed no-op job timed on its own: slower when the machine is busy. */
  private def sentinel(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 24, 1L, 4).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def run(spark: SparkSession, o: Opts, cores: Int,
      lines: scala.collection.mutable.ArrayBuffer[String], sessionS: Double): String = {
    var mark = System.nanoTime()
    val phases = scala.collection.mutable.ArrayBuffer("session" -> sessionS)
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e9
      mark = now
    }
    val runner = new Runner(spark)
    val tally = new Tally
    val output = new OutputBytes
    spark.sparkContext.addSparkListener(output)
    val ctx = new Ctx(spark, o.seed, o.work, runner, tally, output)
    val wl = Workload(o.workload, ctx)
    phase("model")

    val setups = (0 until Main.SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val ingest = wl.setup(r)
      ((System.nanoTime() - t0) / 1e9, ingest)
    }
    val setupS = Workload.median(setups.map(_._1))
    val ingestS = Workload.median(setups.map(_._2))
    phase("setup")

    runner.loop(wl.threads, 0, 1)((t, _) => wl.cycle(t, -1, counted = false))
    val warmOps = runner.ops.length
    phase("warm")
    sentinel(spark)
    val pre = (sentinel(spark), loadavg())

    val probe = new Probe
    def loop(seconds: Double, base: Int, counted: Boolean): Unit =
      runner.loop(wl.threads, seconds, wl.minCycles) { (t, c) =>
        wl.cycle(t, base + c, counted && c < wl.minCycles)
      }
    if (o.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      runner.traced = true
      loop(o.seconds / 2.0, 0, counted = true)
      runner.traced = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(probe)
      spark.sparkContext.removeSparkListener(probe)
      loop(o.seconds / 2.0, 100000, counted = false)
    } else loop(o.seconds, 0, counted = true)
    val post = (sentinel(spark), loadavg())
    phase("loop")
    wl.afterLoop(o.trace)
    phase("checks")
    val ops = runner.ops
    val timed = ops.filter(o => !o.traced && o.seq > warmOps)
    val primaryPlain = timed.filter(o => wl.primary(o.kind) && o.ok)
    // client-busy seconds: every op's time, failed ones too, per client
    val busyS = timed.map(_.ms).sum / 1000 / wl.threads

    lines += s"workload ${o.workload} seed ${o.seed} seconds ${o.seconds} trace ${if (o.trace) 1 else 0} " +
      s"cores $cores"
    lines += s"input ${wl.sizes}"
    lines += phases.map { case (k, v) => f"$k=$v%.1f" }.mkString("phase_s ", " ", "")
    val report = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("ingest_s", ingestS, "s")) ++ wl.report(timed, busyS) ++ Seq(
      Metric("error_rate", tally.errorRate, "ratio"))
    report.foreach(m => lines += f"metric ${m.name}%-22s ${m.value}%.6g ${m.unit}")
    timed.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val ms = os.filter(_.ok).map(_.ms)
      lines += f"latency $k%-22s n=${ms.length}%d p50=${Workload.median(ms)}%.1f ms p90=${Workload.pct(ms, 0.9)}%.1f ms"
    }
    tally.lines.foreach(lines += _)
    val ratio = post._1 / pre._1
    val contended = ratio > 2.0
    lines += f"sentinel pre ${pre._1}%.3f s (loadavg ${pre._2}) post ${post._1}%.3f s " +
      f"(loadavg ${post._2}) ratio $ratio%.2f${if (contended) " CONTENDED" else ""}"
    val correct = tally.wrongOrFailed == 0
    lines += s"verdict ${if (correct) "PASS" else "FAIL"} attempted ${tally.attempted} " +
      s"failed ${tally.failed}"

    val metrics: Seq[Metric] =
      if (!o.trace) {
        Seq(Metric("setup_s", setupS, "s"),
          Metric("op_p50_ms", Main.mixMedian(primaryPlain), "ms"),
          Metric("items_per_s", primaryPlain.map(_.items).sum / busyS, "1/s"))
      } else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val tr = ops.filter(o => o.traced && wl.primary(o.kind))
        val layer = Layers.metrics(tr, probe) ++ wl.layerExtras()
        val overhead = {
          val t = Main.mixMedian(tr.filter(_.ok))
          val p = Main.mixMedian(primaryPlain)
          if (p > 0) (t / p - 1) * 100 else 0.0
        }
        Layers.names.map(n => Metric(n, layer.getOrElse(n, 0.0), Layers.unit(n))) :+
          Metric("trace.overhead_pct", overhead, "%")
      }
    metrics.foreach(m => lines += f"result ${m.name}%-26s ${m.value}%.6g ${m.unit}")

    val stamp = System.currentTimeMillis()
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-$stamp"
    if (o.trace) {
      val f = new File(o.out, s"trace-$tag.jsonl")
      Files.write(f.toPath, Layers.spans(ops.filter(_.traced), probe).mkString("\n").getBytes(StandardCharsets.UTF_8))
      lines += s"trace spans ${f.getPath}"
    }
    val json = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    val record = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> Json.bool(o.trace),
      "sentinel_pre_s" -> Json.num(pre._1), "sentinel_post_s" -> Json.num(post._1),
      "loadavg_pre" -> Json.str(pre._2), "loadavg_post" -> Json.str(post._2),
      "contended" -> Json.bool(contended),
      "report" -> Json.obj(report.map(m => m.name -> Json.num(m.value))),
      "lines" -> lines.map(Json.str).mkString("[", ", ", "]"),
      "result" -> json))
    val recordFile = new File(o.out, s"run-$tag.json")
    Files.write(recordFile.toPath, record.getBytes(StandardCharsets.UTF_8))
    lines += s"record ${recordFile.getPath}"
    json
  }

  val SetupRounds = 3

  /** Median latency of each op kind, averaged over the kinds: the mix runs
    * one op of every kind per cycle, so this is the median time of a mix
    * op, and it does not jump between kinds as the sample changes. */
  def mixMedian(ops: Seq[Op]): Double = {
    val perKind = ops.groupBy(_.kind).values.map(os => Workload.median(os.map(_.ms))).toSeq
    if (perKind.isEmpty) 0.0 else perKind.sum / perKind.length
  }
}

/** Just enough JSON writing for the result line and the records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
