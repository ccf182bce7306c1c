package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Dot
import graft.ops.Search

/** Reproduces the reference's remaining in-repo criterion bench fixtures
  * (BASELINE.md "bench harness configurations") on this engine, recording
  * our numbers for the SAME scale factors — the concrete side of the
  * "within 2× of the reference at equal scale" comparison that
  * BASELINE.json asks for. The HNSW 1M fixture is covered separately by
  * [[IvfRecallProbe]].
  *
  *  - Dense exact scan (`lib/segment/benches/vector_search.rs:21,34`):
  *    10k and 100k vectors, dim 1024, Dot, query batch 1 and 4, top 10.
  *    Reference storage is cold mmap; we measure warm page-cache parquet
  *    (recorded as such — Spark's deployment shape has no cold-per-query
  *    mode).
  *  - Sparse index search (`lib/segment/benches/sparse_index_search.rs:
  *    31-35`): 50k sparse vectors, max dim 30k (skip prob 0.98, ≤300
  *    values/vector, values ±100 — `sparse_vector_fixture.rs:7-26`),
  *    2048 positive queries, top 10. Served by the postings equi-join:
  *    one job for the WHOLE query batch (queries explode to (qid, dim,
  *    qw), join postings on dim, per-query window top-k) — the bulk
  *    regime sec/query is total/2048.
  *  - Shard filtered search (`lib/collection/benches/batch_search_bench
  *    .rs:29-48,129-147`): 2000 points, dim 100, Dot, 100-query
  *    iterations, none/match/range filter variants.
  *  - Facets (`lib/segment/benches/facets.rs`): 1M points, three
  *    cardinality regimes × three filter selectivities, exact top-10.
  *  - Multivector MaxSim (`lib/segment/benches/multi_vector_search.rs`):
  *    10k points × 16 vectors × dim 128, Dot and Euclid, top 10.
  *
  * Not reproduced here: boolean/range/conditional payload-filter scans
  * (`boolean_filtering.rs` etc.) — the sf0.1 catalog bench already times
  * those operators on real tables every round; and quantization encode
  * (`lib/quantization/benches/`) — covered by the quantized_* catalog
  * entries whose encode step runs inside each measured body.
  *
  * The full probe exceeds a 10-minute budget; select sections with
  * SPARK_GRAFT_REFBENCH_SECTIONS=dense,sparse,filtered,facet,multivec.
  * Output: one JSON line, also target/refbench.json. Artifacts cache under
  * SPARK_GRAFT_REFBENCH_DIR (default /tmp/graft_runtime/refbench).
  */
object RefBenchProbe {

  def genDense(spark: SparkSession, n: Long, dim: Int, salt: String): DataFrame =
    spark.range(n).toDF("id")
      .withColumn("vec", transform(sequence(lit(1), lit(dim)), i =>
        (pmod(xxhash64(col("id"), lit(salt), i), lit(1000000)).cast("double") /
          lit(1000000.0d) - lit(0.5d)).cast("float")))

  /** Sparse rows mirroring `random_sparse_vector`: each dim 1..maxDim kept
    * with p=0.02, ≤cap values, weights uniform in [-100,100); `positive`
    * takes abs (the query-side fixture). Emitted directly in postings form
    * (id, dim, weight). */
  def genSparsePostings(spark: SparkSession, n: Long, maxDim: Int, cap: Int,
      positive: Boolean, salt: String): DataFrame = {
    val u = pmod(xxhash64(col("id"), lit(salt), col("dim")), lit(1000000))
      .cast("double") / lit(1000000.0d)
    val w0 = (pmod(xxhash64(col("id"), lit(salt), lit("w"), col("dim")),
      lit(1000000)).cast("double") / lit(1000000.0d)) * 200.0d - 100.0d
    val w = if (positive) abs(w0) else w0
    spark.range(n).toDF("id")
      .select(col("id"), explode(sequence(lit(1), lit(maxDim))).as("dim"))
      .filter(u < 0.02d)
      .withColumn("_rank", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("dim"))))
      .filter(col("_rank") <= cap)
      .select(col("id"), col("dim"), w.cast("float").as("weight"))
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_DIR", "/tmp/graft_runtime/refbench")
    val nSparseQ = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_SPARSE_QUERIES", "2048").toInt
    // comma list of fixture sections to run (dense,sparse,filtered) — the
    // full probe exceeds single-shot time budgets, and each section's JSON
    // stands alone; skipped sections emit nothing.
    val sections = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_SECTIONS",
        "dense,sparse,filtered,facet,multivec")
      .split(",").map(_.trim).toSet
    val spark = GraftSession.local()

    def ensure(path: String)(df: => DataFrame): DataFrame = {
      if (!new java.io.File(path).exists())
        df.repartition(32).write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    def time(fn: () => Unit): Double = {
      val t = System.nanoTime(); fn(); (System.nanoTime() - t) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

    // ---- dense exact scan, dim 1024 ----
    val Dim = 1024
    val queries16 = (0 until 16).map(qi =>
      (0 until Dim).map(i => (((qi * 31 + i) * 2654435761L % 1000000) / 1e6) - 0.5))
    val denseResults = if (!sections("dense")) Nil else Map(
      10000L -> ensure(s"$dir/dense_10k")(genDense(spark, 10000L, Dim, "d10")),
      100000L -> ensure(s"$dir/dense_100k")(genDense(spark, 100000L, Dim, "d100"))
    ).toSeq.sortBy(_._1).map { case (n, df) =>
      def single(q: Seq[Double]): Unit = {
        Search.knn(df, "id", "vec", q, Dot, k = 10).collect(): Unit
      }
      single(queries16.head)
      val b1 = median(queries16.take(10).map(q => time(() => single(q))))
      import spark.implicits._
      def batchN(off: Int, sz: Int): Unit = {
        val qdf = queries16.slice(off, off + sz).zipWithIndex
          .map { case (q, i) => (i, q) }.toDF("qid", "qvec")
          .withColumn("qvec", col("qvec").cast("array<float>"))
        Search.knnBatch(df, "id", "vec", qdf, "qid", "qvec", Dot, k = 10)
          .count(): Unit
      }
      // single query routed through the batch shape (query as DATA, not a
      // plan literal): the plan shape is stable across queries so codegen
      // caches, where the literal path re-compiles per distinct query.
      // Both shapes are recorded: idle, the literal path's simpler plan
      // (TakeOrderedAndProject, no broadcast/window) wins despite the
      // per-query compile; under CPU contention the compile cost inflates
      // the literal path several-fold while the data path stays flat —
      // the robust serving shape when the cluster is busy.
      batchN(0, 1)
      val b1data = median((4 until 14).map(o => time(() => batchN(o, 1))))
      batchN(0, 4)
      val b4 = median(Seq(1, 2, 3).map(o => time(() => batchN(o * 4, 4)))) / 4.0
      (n, b1, b1data, b4)
    }

    // ---- sparse postings search, 50k × 30k-dim ----
    val sparseResults = if (!sections("sparse")) None else {
      val postings = ensure(s"$dir/sparse_50k")(
        genSparsePostings(spark, 50000L, 30000, 300, positive = false, "sp"))
      val queryPostings = ensure(s"$dir/sparse_q$nSparseQ")(
        genSparsePostings(spark, nSparseQ.toLong, 30000, 300, positive = true, "sq")
          .select(col("id").as("qid"), col("dim"), col("weight").as("qw")))
      def sparseBatch(): Unit = {
        postings.join(queryPostings, "dim")
          .groupBy(col("qid"), col("id"))
          .agg(sum(col("weight") * col("qw")).as("score"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("score").desc, col("id").asc)))
          .filter(col("_rn") <= 10)
          .count(): Unit
      }
      sparseBatch()
      val sparseTotal = median(Seq(1, 2, 3).map(_ => time(() => sparseBatch())))
      // single sparse query via the per-query operator (driver-side query row)
      val q0 = queryPostings.filter(col("qid") === 0).select(col("dim"), col("qw"))
      def sparseSingle(): Unit = {
        graft.index.SparseIndex.search(postings, "id", q0, None, k = 10)
          .collect(): Unit
      }
      sparseSingle()
      val sparseSingleSec = median(Seq(1, 2, 3).map(_ => time(() => sparseSingle())))
      Some((sparseTotal, sparseSingleSec))
    }

    // ---- shard filtered search (batch_search_bench.rs:29-48,129-147) ----
    // The reference fixture: 2000 points, dim 100, Dot, payload a = i%5;
    // 100 queries per iteration, top 10; filter variants none / match a=3 /
    // range (gt -1, lte 100, matches all). Measured two ways like the
    // reference's search-N vs search-batch-N groups: per-query driver loop
    // (their non-batch arm) and the whole 100-query batch as ONE broadcast-
    // join plan (their batch arm; sec/query = total/100).
    val filteredResults = if (!sections("filtered")) Nil else {
      import graft.model.{Filter => GFilter, MatchValue, RangeCond}
      import spark.implicits._
      val fdf = ensure(s"$dir/filtered_2k")(
        genDense(spark, 2000L, 100, "f2k")
          .withColumn("a", (col("id") % 5).cast("long")))
      val res = new graft.filters.TypedResolver(fdf.schema, "id")
      val compiler = new graft.filters.FilterCompiler(res)
      val qs = (0 until 100).map(qi =>
        (0 until 100).map(i => (((qi * 131 + i) * 2654435761L % 1000000) / 1e6) - 0.5))
      val qdf = qs.zipWithIndex.map { case (q, i) => (i, q) }.toDF("qid", "qvec")
        .withColumn("qvec", col("qvec").cast("array<float>"))
      val variants: Seq[(String, Option[GFilter])] = Seq(
        "none" -> None,
        "match" -> Some(GFilter(must = Seq(MatchValue("a", 3)))),
        "range" -> Some(GFilter(must = Seq(
          RangeCond("a", gt = Some(-1.0), lte = Some(100.0))))))
      variants.map { case (name, f) =>
        val base = f.fold(fdf)(ff => fdf.filter(compiler.compile(ff)))
        def batch100(): Unit = {
          Search.knnBatch(base, "id", "vec", qdf, "qid", "qvec", Dot, k = 10)
            .count(): Unit
        }
        def singleLoop(nq: Int): Unit =
          qs.take(nq).foreach { q =>
            Search.knn(fdf, "id", "vec", q, Dot,
              filter = f, resolver = Some(res), k = 10).collect(): Unit
          }
        batch100()
        val batchSec = median(Seq(1, 2, 3).map(_ => time(() => batch100())))
        singleLoop(2)
        val singleSec = median(Seq(1, 2, 3).map(_ => time(() => singleLoop(10)))) / 10.0
        (name, batchSec / 100.0, singleSec)
      }
    }

    val denseJson = denseResults.map { case (n, b1, b1data, b4) =>
      s""""${n / 1000}k":{"batch1_literal_sec_per_q":${f"$b1%.4f"},""" +
        s""""batch1_as_data_sec_per_q":${f"$b1data%.4f"},""" +
        s""""batch4_sec_per_q":${f"$b4%.4f"}}"""
    }.mkString("{", ",", "}")
    val filteredJson = filteredResults.map { case (name, perQBatch, perQSingle) =>
      s""""$name":{"batch_sec_per_q":${f"$perQBatch%.5f"},""" +
        s""""single_sec_per_q":${f"$perQSingle%.4f"}}"""
    }.mkString("{", ",", "}")
    // ---- facets (lib/segment/benches/facets.rs) ----
    // 1M points; facet keys: category (50 uniques), uuid_uniform (~667k
    // uniques), uuid_zipf (Zipf s=1 over 100k ranks — generated via the
    // inverse-CDF exp(u·ln k) whose pmf ∝ 1/rank); filter column rand ∈
    // [0,1). Filters: none / selective (category=cat_0 AND rand<0.5 →
    // ~1% of points) / broad (rand<0.75). Facet = count_distinct top 10.
    // The reference's approximate_facet strategy table collapses here:
    // one hash-aggregate plan serves all six of its paths.
    val facetResults = if (!sections("facet")) Nil else {
      val n = 1000000L
      val fdf = ensure(s"$dir/facet_1m") {
        def u(salt: String) =
          pmod(xxhash64(col("id"), lit(salt)), lit(1000000)).cast("double") / 1e6
        spark.range(n).toDF("id")
          .withColumn("category",
            concat(lit("cat_"), floor(u("c") * 50).cast("long")))
          .withColumn("uuid_uniform", floor(u("u") * (n * 2 / 3)).cast("long"))
          .withColumn("uuid_zipf",
            floor(exp(u("z") * math.log(100000.0))).cast("long"))
          .withColumn("rand", u("r"))
      }
      val res = new graft.filters.TypedResolver(fdf.schema, "id")
      import graft.model.{Filter => GFilter, MatchValue, RangeCond}
      val filters: Seq[(String, Option[GFilter])] = Seq(
        "no-filter" -> None,
        "selective-filter" -> Some(GFilter(must = Seq(
          MatchValue("category", "cat_0"), RangeCond("rand", lt = Some(0.5))))),
        "broad-filter" -> Some(GFilter(must = Seq(
          RangeCond("rand", lt = Some(0.75))))))
      for {
        key <- Seq("category", "uuid_uniform", "uuid_zipf")
        (flabel, f) <- filters
      } yield {
        def go(): Unit =
          graft.ops.Reads.facet(fdf, "id", key, f, res, limit = 10)
            .collect(): Unit
        go()
        (s"$key/$flabel", median(Seq(1, 2, 3).map(_ => time(() => go()))))
      }
    }

    // ---- multivector MaxSim search (multi_vector_search.rs) ----
    // 10k points × 16 vectors/point, dim 128, top 10, Dot and Euclid —
    // the reference benches single queries against its HNSW multivec
    // index; we measure the exact MaxSim scan (literal arm) and the
    // 10-query broadcast batch arm (score via MaxSim in one plan).
    val multivecResults = if (!sections("multivec")) Nil else {
      import graft.functions.VectorFunctions
      import graft.model.{Euclid, Metric => GMetric}
      val mdf = ensure(s"$dir/multivec_10k") {
        spark.range(10000L).toDF("id")
          .withColumn("vecs", transform(sequence(lit(1), lit(16)), j =>
            transform(sequence(lit(1), lit(128)), i =>
              (pmod(xxhash64(col("id"), lit("mv"), j, i), lit(1000000))
                .cast("double") / 1e6 - 0.5d).cast("float"))))
      }
      val queries10 = (0 until 10).map(qi =>
        (0 until 16).map(j => (0 until 128).map(i =>
          ((((qi * 37 + j) * 131 + i) * 2654435761L % 1000000) / 1e6 - 0.5).toFloat)))
      // MaxSim is a larger-better similarity for every metric (Euclid's
      // inner max runs over −Σ(a−b)², see VectorFunctions.maxSim)
      Seq[(String, GMetric)](("dot", Dot), ("euclid", Euclid))
        .map { case (mname, metric) =>
          def single(q: Seq[Seq[Float]]): Unit =
            Search.scoredTopK(mdf, "id",
              VectorFunctions.maxSim(metric, col("vecs"), typedLit(q)),
              largerBetter = true, k = 10).collect(): Unit
          single(queries10.head)
          val b1 = median(queries10.take(5).map(q => time(() => single(q))))
          import spark.implicits._
          def batch10(): Unit = {
            val qdf = queries10.zipWithIndex.map { case (q, i) => (i, q) }
              .toDF("qid", "qvecs")
            val scored = mdf.crossJoin(broadcast(qdf))
              .withColumn("score",
                VectorFunctions.maxSim(metric, col("vecs"), col("qvecs")))
              .withColumn("_rn", row_number().over(
                Window.partitionBy(col("qid"))
                  .orderBy(col("score").desc, col("id").asc)))
              .filter(col("_rn") <= 10)
            scored.count(): Unit
          }
          batch10()
          val b10 = median(Seq(1, 2, 3).map(_ => time(() => batch10()))) / 10.0
          (mname, b1, b10)
        }
    }

    val parts = Seq.newBuilder[String]
    parts += s""""dense_dim":$Dim"""
    if (denseResults.nonEmpty) parts += s""""dense":$denseJson"""
    if (filteredResults.nonEmpty) parts += s""""filtered_2k_dim100":$filteredJson"""
    if (facetResults.nonEmpty)
      parts += facetResults.map { case (k, sec) => s""""$k":${f"$sec%.4f"}""" }
        .mkString("\"facet_1m_sec\":{", ",", "}")
    if (multivecResults.nonEmpty)
      parts += multivecResults.map { case (m, b1, b10) =>
        s""""$m":{"single_sec":${f"$b1%.4f"},"batch10_sec_per_q":${f"$b10%.4f"}}"""
      }.mkString("\"multivec_10k_16x128\":{", ",", "}")
    sparseResults.foreach { case (sparseTotal, sparseSingleSec) =>
      parts += s""""sparse":{"n":50000,"max_dim":30000,"queries":$nSparseQ,""" +
        s""""batch_total_sec":${f"$sparseTotal%.2f"},""" +
        s""""batch_sec_per_q":${f"${sparseTotal / nSparseQ}%.5f"},""" +
        s""""single_sec":${f"$sparseSingleSec%.3f"}}"""
    }
    val json = parts.result().mkString("{", ",", "}")
    val p = java.nio.file.Paths.get("target/refbench.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
