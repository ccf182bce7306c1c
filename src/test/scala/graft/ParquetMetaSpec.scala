package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.model.Dot
import graft.sources.{CollectionConfig, IvfSpec, VectorConfig}
import graft.storage.{Collection, ParquetMeta}

/** The listed-relation memo behind every repeated table open: a warm read
  * of an unchanged table lists nothing, yet each read is a fresh plan that
  * scans the current files. */
class ParquetMetaSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_meta").resolve("points").toString

  private val Cells = 64
  private val cfg = CollectionConfig(idCol = "id",
    vectors = Seq(VectorConfig("", 8, Dot, ann = Some(IvfSpec(cells = Cells, nprobe = 4)))))
  private val cellCol = cfg.cellCol("")

  /** 64 well-separated clusters of 10 points each, so IVF training
    * populates (nearly) every cell directory. */
  private def points(from: Long, n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(Cells)(Array.fill(8)(rnd.nextGaussian().toFloat * 10f))
    (0 until n).map { i =>
      val c = centers(i % Cells)
      (from + i, c.map(x => x + rnd.nextGaussian().toFloat * 0.01f).toSeq)
    }.toDF("id", "vector")
  }

  private lazy val ivfPath = tmpDir()
  private lazy val ivf = Collection.create(spark, ivfPath, cfg, points(0L, Cells * 10))

  /** Spark jobs started while `body` runs (listener events drain async). */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1500)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm read of a 64-cell IVF collection starts no Spark job") {
    ivf.read()
    val cellDirs = new java.io.File(ivfPath).list().count(_.startsWith(s"$cellCol="))
    assert(cellDirs > 32, s"need more cell dirs than the parallel-listing threshold, got $cellDirs")
    // control: an unmemoized open lists the cell directories with a job
    val fresh = jobsDuring(spark.read.parquet(ivfPath))
    assert(fresh >= 1, "a fresh read of > 32 partition dirs should list them with a job")
    val warm = jobsDuring(ivf.read())
    assert(warm == 0, s"warm read ran $warm Spark jobs (expected 0)")
  }

  test("memoized and fresh reads have the same schema, column order included") {
    ivf.read()
    val memo = ivf.read().schema
    assert(memo == spark.read.parquet(ivfPath).schema)
    assert(memo.fieldNames.toSeq == spark.read.parquet(ivfPath).columns.toSeq)
  }

  test("two memoized reads self-join and union without ambiguous attributes") {
    val a = ivf.read()
    val b = ivf.read()
    assert(a.join(b, a("id") === b("id")).count() == Cells * 10L)
    assert(a.union(b).count() == 2L * Cells * 10)
  }

  test("a memoized IVF read still prunes cell directories at the scan") {
    ivf.read()
    val plan = ivf.read().filter(col(cellCol).isin(1, 2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && !plan.contains("PartitionFilters: []") &&
      plan.contains(cellCol), plan)
  }

  test("upsert bumps the memo: the next read sees the new rows") {
    val path = tmpDir()
    val c = Collection.create(spark, path, cfg, points(0L, Cells * 2))
    assert(c.read().count() == Cells * 2L)
    c.upsert(points(10000L, 3))
    assert(c.read().count() == Cells * 2L + 3)
    assert(c.read().filter(col("id") >= 10000L).count() == 3L)
  }

  test("a directory overwritten without a bump is seen through its modification time") {
    import spark.implicits._
    val path = tmpDir()
    (1 to 3).map(i => (i.toLong, s"v$i")).toDF("id", "v").write.parquet(path)
    val v0 = ParquetMeta.version(path)
    assert(ParquetMeta.read(spark, path).count() == 3L)
    assert(ParquetMeta.read(spark, path).count() == 3L)
    (1 to 5).map(i => (i.toLong, s"w$i")).toDF("id", "v").write.mode("overwrite").parquet(path)
    assert(ParquetMeta.version(path) == v0)
    val after = ParquetMeta.read(spark, path)
    assert(after.count() == 5L)
    assert(after.filter(col("v").startsWith("w")).count() == 5L)
  }
}
