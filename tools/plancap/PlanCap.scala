import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Task CPU per request kind and formatted plans on an `api_mixed`-shaped
  * collection (perfbench's generator, seed 1, 50k points, `local[4]`).
  *
  * For each kind of perfbench's `ReadMix`: 2 warm-up requests, then 8
  * requests with fresh parameters (stream 7, n = 2..9), each answer checked
  * against the model; prints the median summed `executorCpuTime` and wall
  * time per kind. The first measured request of every kind also writes its
  * formatted plan, with the collection path replaced by `<collection>`.
  *
  * It then writes the formatted plans of `Collection.knn` and of the
  * equivalent wire nearest root on a Uint8, an IVF and an IVF+PQ collection
  * of 4,000 synthetic points.
  *
  * Args: `<outdir> <tag>`; writes `<kind>_<tag>.txt`, `cpu_<tag>.txt` and
  * `{knn,root}_{u8,ivf,ivfpq}_<tag>.txt` into `<outdir>` and the
  * collections under `<outdir>/collection_*<tag>`.
  * Run by `run.sh`. */
object PlanCap {
  def main(args: Array[String]): Unit = {
    val out = new java.io.File(args(0)); out.mkdirs()
    val tag = args(1)
    val spark = graft.GraftSession.local(4)
    val n = 50000
    val model = new perfbench.Model(1L, perfbench.PayloadCollection.Clusters, n + 64)
    (0 until n).foreach(i => model.put(i, 0))
    val path = new java.io.File(out, s"collection_$tag").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val (coll, _) = perfbench.PayloadCollection.create(spark, model, n, path)
    val cpu = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpu.addAndGet(e.taskMetrics.executorCpuTime)
    })
    def write(name: String, txt: String): Unit =
      java.nio.file.Files.write(new java.io.File(out, name).toPath, txt.getBytes("UTF-8"))
    val rows = for ((k, ix) <- perfbench.ReadMix.Kinds.zipWithIndex) yield {
      for (i <- 0 until 2) perfbench.ReadMix.request(model, ix, 7L, i).call(coll).collect()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val runs = (2 until 10).map { i =>
        val req = perfbench.ReadMix.request(model, ix, 7L, i)
        cpu.set(0)
        val t0 = System.nanoTime()
        val df = req.call(coll)
        val got = df.collect()
        val wall = (System.nanoTime() - t0) / 1e6
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        req.check(got).foreach(m => println(s"[plancap] WRONG $k: $m"))
        if (i == 2) write(s"${k}_$tag.txt", df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).replace(path, "<collection>"))
        (cpu.get() / 1e6, wall)
      }
      val cs = runs.map(_._1).sorted; val ws = runs.map(_._2).sorted
      f"$k%-20s task_cpu_ms median ${cs(cs.length / 2)}%.0f (min ${cs.head}%.0f max ${cs.last}%.0f)" +
        f" wall_ms median ${ws(ws.length / 2)}%.0f"
    }
    // knn and the equivalent wire root on a Uint8, an IVF and an IVF+PQ
    // collection (4,000 synthetic points, dim 32)
    import graft.sources.{CollectionConfig, IvfSpec, QuantizationSpec, VectorConfig}
    import graft.model.{Dot, Uint8}
    val dim = 32
    val pts = spark.createDataFrame((0L until 4000L).map(i =>
      (i, Seq.tabulate(dim)(d => ((i * 31 + d * 17) % 256).toFloat)))).toDF("id", "vector")
    val q = Seq.tabulate(dim)(d => 128.0 + 100.0 * math.cos(d * 0.7))
    val ivf = Some(IvfSpec(cells = 8, nprobe = 2))
    for ((name, vc) <- Seq(
        "u8" -> VectorConfig("", dim, Dot, datatype = Uint8),
        "ivf" -> VectorConfig("", dim, Dot, ann = ivf),
        "ivfpq" -> VectorConfig("", dim, Dot, ann = ivf,
          quantization = Some(QuantizationSpec("product"))))) {
      val cpath = new java.io.File(out, s"collection_${name}_$tag").getAbsolutePath
      val c = graft.storage.Collection.create(spark, cpath,
        CollectionConfig(vectors = Seq(vc)), pts)
      for ((how, df) <- Seq("knn" -> c.knn("", q, k = 10),
          "root" -> c.query(s"""{"query": ${q.mkString("[", ",", "]")}, "limit": 10}"""))) {
        df.collect()
        write(s"${how}_${name}_$tag.txt", df.queryExecution
          .explainString(ExplainMode.fromString("formatted")).replace(cpath, "<collection>"))
      }
    }
    val txt = rows.mkString("\n")
    println(txt)
    write(s"cpu_$tag.txt", txt + "\n")
    spark.stop()
  }
}
