package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StringType

import graft.model.Dot
import graft.sources.{CollectionConfig, IvfSpec, VectorConfig}
import graft.storage.Collection

/** `queryBatch` answers each search exactly as `query` does, while the
  * plain nearest searches of a batch share one scan. */
class QueryBatchSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val Cells = 16
  private val Nprobe = 2
  private val Dim = 8
  private val Points = 2000
  private val Colors = Seq("red", "green", "blue")

  private val rnd0 = new scala.util.Random(3)
  private val centers = Array.fill(Cells)(Array.fill(Dim)(rnd0.nextGaussian() * 4))

  /** 16 clusters; the last 100 points copy the first 100 vectors, so
    * equal scores meet and the id tie-break shows. */
  private lazy val coll: Collection = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0 until Points - 100).map { i =>
      centers(i % Cells).map(x => (x + rnd.nextGaussian()).toFloat).toSeq
    }
    val rows = (0 until Points).map { i =>
      (i.toLong, if (i < Points - 100) vecs(i) else vecs(i - (Points - 100)),
        s"""{"color":"${Colors(i % 3)}","n":$i}""")
    }
    Collection.create(spark,
      Files.createTempDirectory("graft_qbatch").resolve("points").toString,
      CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", Dim, Dot,
          ann = Some(IvfSpec(cells = Cells, nprobe = Nprobe)))),
        payloadTypes = Map("color" -> StringType)),
      rows.toDF("id", "vector", "payload"))
  }

  private def vec(rnd: scala.util.Random): Seq[Double] =
    centers(rnd.nextInt(Cells)).map(x => math.rint((x + rnd.nextGaussian()) * 1e3) / 1e3).toSeq

  private def json(v: Seq[Double]): String = v.mkString("[", ",", "]")

  private def color(c: String): String =
    s"""{"must": [{"key": "color", "match": {"value": "$c"}}]}"""

  private def batch(searches: Seq[String]): String =
    searches.mkString("""{"searches": [""", ",", "]}")

  /** (id, score, req, payload or null) in row order. */
  private def rows(df: DataFrame, req: Row => Int): Seq[(Long, Double, Int, String)] = {
    val hasPayload = df.columns.contains("payload")
    df.collect().toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"), req(r),
      if (hasPayload) r.getAs[String]("payload") else null))
  }

  private def perSearch(searches: Seq[String]): Seq[(Long, Double, Int, String)] =
    searches.zipWithIndex.flatMap { case (s, i) => rows(coll.query(s), _ => i) }

  private def batched(searches: Seq[String]): Seq[(Long, Double, Int, String)] =
    rows(coll.queryBatch(batch(searches)), _.getAs[Int]("req"))

  test("randomized batches answer exactly like per-search query, row order included") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val shared = color(Colors(rnd.nextInt(3)))
      val (l1, l2) = (5 + rnd.nextInt(4), 10 + rnd.nextInt(4))
      def id() = rnd.nextInt(Points)
      val searches = rnd.shuffle(Seq(
        s"""{"query": ${json(vec(rnd))}, "limit": $l1}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "params": {"exact": true}}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "params": {"exact": true}}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "params": {"hnsw_ef": 5}}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "params": {"hnsw_ef": 5}}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "filter": $shared}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "filter": $shared}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "filter": ${color("green")},
           | "params": {"exact": true}}""".stripMargin,
        s"""{"query": ${json(vec(rnd))}, "limit": $l2}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l2}""",
        s"""{"query": ${id()}, "limit": $l1}""",
        s"""{"query": ${json(vec(rnd))}, "limit": $l1, "with_payload": true}""",
        s"""{"query": {"recommend": {"positive": [${id()}, ${id()}],
           | "negative": [${id()}]}}, "limit": $l1}""".stripMargin))
      val want = perSearch(searches)
      assert(want.map(_._3).distinct.length == searches.length, "every search should hit")
      val got = batched(searches)
      assert(got == want, s"seed $seed: batch rows differ from per-search rows\n" +
        got.zip(want).filter(p => p._1 != p._2).take(5).mkString("\n"))
    }
  }

  test("batch rows are grouped by ascending req, in rank order within each req") {
    val rnd = new scala.util.Random(11)
    val searches = Seq(
      s"""{"query": ${json(vec(rnd))}, "limit": 4}""",
      """{"query": {"recommend": {"positive": [1, 2]}}, "limit": 3}""",
      s"""{"query": ${json(vec(rnd))}, "limit": 4}""",
      s"""{"query": ${json(vec(rnd))}, "limit": 4, "params": {"exact": true}}""",
      s"""{"query": ${json(vec(rnd))}, "limit": 4, "params": {"exact": true}}""",
      """{"query": 0, "limit": 4, "params": {"exact": true}}""",
      s"""{"query": ${json(vec(rnd))}, "limit": 4}""")
    val got = batched(searches)
    assert(got.map(_._3) == Seq(0, 0, 0, 0, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
      4, 4, 4, 4, 5, 5, 5, 5, 6, 6, 6, 6), got.map(_._3).toString)
    got.groupBy(_._3).foreach { case (req, rs) =>
      rs.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1),
          s"req $req out of rank order: $a before $b")
        case _ =>
      }
    }
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  test("an 8-search exact batch reads the table with one parquet scan") {
    val rnd = new scala.util.Random(21)
    val df = coll.queryBatch(batch((0 until 8).map(_ =>
      s"""{"query": ${json(vec(rnd))}, "limit": 10, "params": {"exact": true}}""")))
    val ss = scans(df)
    assert(ss.length == 1, s"expected one scan, got ${ss.length}:\n" +
      df.queryExecution.executedPlan)
    assert(ss.head.partitionFilters.isEmpty, ss.head.partitionFilters.toString)
  }

  test("an 8-search IVF batch scans only the union of the probed cells") {
    val rnd = new scala.util.Random(22)
    val qs = (0 until 8).map(_ => vec(rnd))
    val df = coll.queryBatch(batch(qs.map(q => s"""{"query": ${json(q)}, "limit": 10}""")))
    val ss = scans(df)
    assert(ss.length == 1, s"expected one scan, got ${ss.length}:\n" +
      df.queryExecution.executedPlan)
    val listed = ss.head.partitionFilters.flatMap(_.collect {
      case In(_, list) => list.map(_.eval().asInstanceOf[Int])
      case InSet(_, set) => set.toSeq.map(_.asInstanceOf[Int])
    }.flatten).toSet
    val model = coll.ivfModel("").get
    val union = qs.flatMap(q => model.probe(q, Nprobe)).toSet
    assert(union.size < Cells, s"the batch probes every cell: $union")
    assert(listed == union, s"PartitionFilters list $listed, probed cells are $union")
  }
}
