package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.api.{RequestCodec, UpdateBridge}
import graft.model.Dot
import graft.pipeline.Dedup
import graft.sources.{CollectionConfig, IvfSpec, SparseVectorConfig, VectorConfig}
import graft.storage.Collection

/** What every workload shares: the session, the seed, a scratch directory
  * inside the checkout, the op runner and the answer tally. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
    val runner: Runner, val tally: Tally, val output: OutputBytes) {
  def path(name: String): String = new File(work, name).getAbsolutePath

  def drainedOutputBytes(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    output.bytes
  }
}

/** A named metric as printed: value and unit. */
final case class Metric(name: String, value: Double, unit: String)

abstract class Workload(val ctx: Ctx) {
  /** Closed-loop clients. */
  def threads: Int = 1
  /** Cycles each client always runs; their ops give the exact counts. */
  def minCycles: Int = 1
  /** Ops whose latency is the workload's `op_p50_ms`. */
  def primary: Set[String]
  def sizes: String
  /** One complete set-up; returns the seconds spent in the engine's
    * ingest call. The last set-up is the one the run uses. */
  def setup(round: Int): Double
  def cycle(t: Int, c: Int, counted: Boolean): Unit
  /** Answer and state checks after the loop. */
  def afterLoop(traced: Boolean): Unit
  /** The workload's own end-to-end figures, from untraced ops and the
    * seconds its clients were busy in them. */
  def report(ops: Seq[Op], busyS: Double): Seq[Metric]
  /** Per-layer figures measured by standalone calls (traced runs). */
  def layerExtras(): Map[String, Double] = Map.empty

  protected def removeDir(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    val side = f.getParentFile
    Option(side.listFiles()).toSeq.flatten
      .filter(x => x.getName.startsWith(f.getName + "_"))
      .foreach(x => if (x.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(x) else x.delete())
  }

  protected def dirBytes(p: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new File(p))

  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "api_mixed" => new ApiMixed(ctx)
    case "bulk_knn" => new BulkKnn(ctx)
    case "update_mixed" => new UpdateMixed(ctx)
    case "dedup_corpus" => new DedupCorpus(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** The dense + sparse + payload collection `api_mixed` and `update_mixed`
  * run against. */
object PayloadCollection {
  val Clusters = 32
  val config: CollectionConfig = CollectionConfig(
    vectors = Seq(VectorConfig("", Gen.Dim, Dot)),
    sparse = Seq(SparseVectorConfig("text", modifier = Some("idf"))),
    payloadTypes = Map("city" -> StringType, "tenant" -> LongType))

  /** Create the collection, then the keyword index on `city`. */
  def create(spark: SparkSession, model: Model, n: Int, path: String): (Collection, Double) = {
    val t0 = System.nanoTime()
    val coll = Collection.create(spark, path, config, model.initialPoints(spark, n))
    val ingest = (System.nanoTime() - t0) / 1e9
    coll.buildPayloadIndex("city")
    (coll, ingest)
  }

  /** Bytes of the live points: 8-byte id, float32 dense vector, sparse
    * entries as (long, float), payload as JSON text. */
  def modelBytes(m: Model): Long = m.live.iterator.map { id =>
    8L + Gen.Dim * 4 + m.sparseOf(id)._1.length * 12 + m.payloadJsonBytes(id)
  }.sum
}

abstract class ReadWorkload(ctx: Ctx, n: Int) extends Workload(ctx) {
  val model = new Model(ctx.seed, PayloadCollection.Clusters, n + 64)
  (0 until n).foreach(i => model.put(i, 0))
  @volatile var coll: Collection = _
  private var last: Option[String] = None

  def setup(round: Int): Double = {
    val p = ctx.path(s"points-$round")
    removeDir(p)
    val (c, ingest) = PayloadCollection.create(ctx.spark, model, n, p)
    last.foreach(removeDir)
    last = Some(p)
    coll = c
    ingest
  }

  protected def read(req: Req, counted: Boolean): Either[Throwable, Array[Row]] =
    ctx.runner.call(req.kind, 1, counted, Some(req.parse))(req.call(coll))(_.collect())

  /** Sends the known-defect requests against the final state, untimed. */
  protected def probeKnownDefect(): Unit =
    (0 until ReadWorkload.DefectProbes).foreach { i =>
      val req = ReadMix.integerBoundProbe(model, i)
      ctx.tally.probe(req, scala.util.Try(req.call(coll).collect()).toEither)
    }

  protected def readMetrics(ops: Seq[Op]): Seq[Metric] = {
    val ms = ops.filter(o => ReadMix.Kinds.contains(o.kind) && o.ok).map(_.ms)
    Seq(Metric("read_p50_ms", Workload.median(ms), "ms"),
      Metric("read_p90_ms", Workload.pct(ms, 0.9), "ms"),
      Metric("reads", ms.length.toDouble, "count"))
  }
}

object ReadWorkload { val DefectProbes = 2 }

/** Read-only qdrant request mix from two closed-loop clients. */
final class ApiMixed(ctx: Ctx) extends ReadWorkload(ctx, ApiMixed.Points) {
  override def threads = 2
  def primary: Set[String] = ReadMix.Kinds.toSet
  def sizes = s"${ApiMixed.Points} points x ${Gen.Dim}-d Dot + IDF sparse (${Gen.SparseNnz} nnz) + payload"
  private val answers = new ConcurrentLinkedQueue[(Req, Either[Throwable, Array[Row]])]

  /** A cycle is half the mix, the two clients taking opposite halves, so
    * every cycle covers each kind once. */
  def cycle(t: Int, c: Int, counted: Boolean): Unit = {
    val half = ReadMix.Kinds.length / 2
    (0 until half).map(_ + half * Math.floorMod(c + t, 2)).foreach { k =>
      val req = ReadMix.request(model, k, t, c)
      answers.add((req, read(req, counted)))
    }
  }

  def afterLoop(traced: Boolean): Unit = {
    answers.asScala.toSeq.par.foreach { case (req, res) => ctx.tally.judge(req, res) }
    answers.clear()
    probeKnownDefect()
  }

  def report(ops: Seq[Op], busyS: Double): Seq[Metric] =
    readMetrics(ops) ++ Seq(
      Metric("read_qps", ops.count(_.ok) / busyS, "1/s"),
      Metric("space_amp", dirBytes(coll.path).toDouble / PayloadCollection.modelBytes(model), "ratio"))
}

object ApiMixed { val Points = 50000 }

/** One client alternating a wire update batch with four reads. */
final class UpdateMixed(ctx: Ctx) extends ReadWorkload(ctx, UpdateMixed.Points) {
  import UpdateMixed._
  def primary: Set[String] = Set("update")
  override def minCycles = 3
  def sizes = s"${UpdateMixed.Points} points; batch = $Upserts upserts (half existing), " +
    s"set_payload by filter, $Deletes deletes"
  private var bodyBytes = 0L
  private var outStart = 0L
  var writeAmp = 0.0
  var spaceAmp = 0.0

  private def pick(live: Array[Long], salt: Long, k: Int, avoid: Set[Long]): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0L
    while (out.size < k) {
      val id = live(Gen.below(Gen.h(ctx.seed, salt, i), live.length))
      if (!avoid(id)) out += id
      i += 1
    }
    out.toSeq
  }

  private def pointJson(id: Long, ver: Int): String = {
    val k = Gen.key(id, ver)
    val v = Gen.vecInts(ctx.seed, k, PayloadCollection.Clusters).map(x => (x / 256.0).toString)
    val (si, sv) = Gen.sparse(ctx.seed, k)
    s"""{"id":$id,"vector":{"":[${v.mkString(",")}],"text":{"indices":[${si.mkString(",")}],""" +
      s""""values":[${sv.mkString(",")}]}},"payload":${Gen.payload(ctx.seed, k)}}"""
  }

  def cycle(t: Int, c: Int, counted: Boolean): Unit = {
    val live = model.live
    val old = pick(live, Gen.h(c, 71), Upserts / 2, Set.empty)
    val fresh = (0 until Upserts / 2).map(model.nextId + _)
    val dels = pick(live, Gen.h(c, 72), Deletes, old.toSet)
    val city = Math.floorMod(c, Gen.Cities)
    val flag = Math.floorMod(c, 1000)
    val pts = old.map(id => pointJson(id, model.versionOf(id) + 1)) ++ fresh.map(pointJson(_, 0))
    val body = s"""{"operations":[{"upsert":{"points":[${pts.mkString(",")}]}},""" +
      s"""{"set_payload":{"payload":{"flag":$flag},"filter":{"must":[""" +
      s"""{"key":"city","match":{"value":"${Gen.cityName(city)}"}},""" +
      s"""{"key":"tenant","range":{"lt":8}}]}}},""" +
      s"""{"delete":{"points":[${dels.mkString(",")}]}}]}"""
    if (counted && c == 0) outStart = ctx.drainedOutputBytes()
    val res = ctx.runner.call("update", Upserts + Deletes, counted,
      Some(() => RequestCodec.parseUpdateOperations(body)))(UpdateBridge.applyJson(coll, body))(identity)
    res match {
      case Right(_) =>
        old.foreach(id => model.put(id, model.versionOf(id) + 1))
        fresh.foreach(model.put(_, 0))
        model.live.foreach(id =>
          if (model.cityOf(id) == city && model.tenantOf(id) < 8) model.setFlag(id, flag))
        dels.foreach(model.delete)
        ctx.tally.ok("update")
      case Left(e) => ctx.tally.error("update", e)
    }
    if (counted) bodyBytes += body.length
    if (counted && c == minCycles - 1) {
      writeAmp = (ctx.drainedOutputBytes() - outStart).toDouble / bodyBytes
      spaceAmp = dirBytes(coll.path).toDouble / PayloadCollection.modelBytes(model)
    }
    (0 until 4).foreach { i =>
      val req = ReadMix.request(model, Math.floorMod(4 * c + i, ReadMix.Kinds.length), 500, c)
      ctx.tally.judge(req, read(req, counted = false))
    }
  }

  /** Final state, read back through a fresh parquet read of the table. */
  def afterLoop(traced: Boolean): Unit = {
    probeKnownDefect()
    val rows = ctx.spark.read.parquet(coll.path).select(col("id"), col("payload")).collect()
    val got = rows.map(r => r.getLong(0) -> Payloads.key(r.getString(1))).toMap
    val want = model.live.map(id => id -> model.payloadKey(id)).toMap
    if (got == want) ctx.tally.ok("final_state")
    else {
      val missing = (want.keySet -- got.keySet).size
      val extra = (got.keySet -- want.keySet).size
      val diff = want.count { case (id, p) => got.get(id).exists(_ != p) }
      ctx.tally.wrong("final_state", s"ids missing=$missing extra=$extra payload_diff=$diff")
    }
  }

  def report(ops: Seq[Op], busyS: Double): Seq[Metric] = {
    val ups = ops.filter(o => o.kind == "update" && o.ok)
    val s = ups.map(_.ms / 1000)
    readMetrics(ops) ++ Seq(
      Metric("update_p50_s", Workload.median(s), "s"),
      Metric("update_p90_s", Workload.pct(s, 0.9), "s"),
      Metric("updates", ups.length.toDouble, "count"),
      Metric("points_written_per_s", ups.map(_.items).sum / busyS, "1/s"),
      Metric("write_amp", writeAmp, "ratio"),
      Metric("space_amp", spaceAmp, "ratio"))
  }
}

object UpdateMixed {
  val Points = 50000
  val Upserts = 1000
  val Deletes = 50
}

/** `queryBatch` calls of `Batch` nearest requests on an IVF collection,
  * exact and IVF-probed batches alternating. */
final class BulkKnn(ctx: Ctx) extends Workload(ctx) {
  import BulkKnn._
  def primary: Set[String] = Set("knn_exact", "knn_ivf")
  def sizes = s"$Points points x ${Gen.Dim}-d Dot, IVF $Cells cells (nprobe $Nprobe), batches of $Batch"
  val model = new Model(ctx.seed, Cells, Points, withPayload = false)
  (0 until Points).foreach(i => model.put(i, 0))
  private val config = CollectionConfig(
    vectors = Seq(VectorConfig("", Gen.Dim, Dot, ann = Some(IvfSpec(Cells, Nprobe)))))
  @volatile var coll: Collection = _
  private var last: Option[String] = None
  private val answers = new ConcurrentLinkedQueue[(String, Seq[Array[Int]], Either[Throwable, Array[Row]])]
  private val recalls = new ConcurrentLinkedQueue[Double]

  def setup(round: Int): Double = {
    val p = ctx.path(s"knn-$round")
    removeDir(p)
    val t0 = System.nanoTime()
    coll = Collection.create(ctx.spark, p, config, model.initialPoints(ctx.spark, Points))
    val s = secs(t0)
    last.foreach(removeDir)
    last = Some(p)
    s
  }

  /** The warm-up cycle sends batches of two. */
  def cycle(t: Int, c: Int, counted: Boolean): Unit =
    Seq("knn_exact", "knn_ivf").zipWithIndex.foreach { case (kind, j) =>
      val qs = (0 until (if (c < 0) 2 else Batch)).map(i =>
        Gen.vecInts(ctx.seed, Gen.h(ctx.seed, 60 + j, c, i) | (1L << 62), Cells))
      val params = if (kind == "knn_exact") ""","params":{"exact":true}""" else ""
      val body = qs.map(q => s"""{"query":${q.map(x => (x / 256.0).toString).mkString("[", ",", "]")},""" +
        s""""limit":10$params}""").mkString("""{"searches":[""", ",", "]}")
      val res = ctx.runner.call(kind, qs.length, counted,
        Some(() => RequestCodec.parseQueryBatch(body, ReadMix.parseCtx)))(coll.queryBatch(body))(_.collect())
      answers.add((kind, qs, res))
    }

  def afterLoop(traced: Boolean): Unit = {
    answers.asScala.toSeq.foreach { case (kind, qs, res) =>
      res match {
        case Left(e) => ctx.tally.error(kind, e)
        case Right(rows) =>
          val byReq = rows.groupBy(_.getAs[Any]("req").toString.toInt)
          val problems = qs.indices.par.flatMap { i =>
            val want = model.topK(qs(i), 10)
            val got = byReq.getOrElse(i, Array.empty[Row]).toSeq
              .map(r => (r.getAs[Any]("id").toString.toLong, r.getAs[Any]("score").toString.toDouble))
            val scoresOk = got.forall { case (id, s) => math.abs(s - model.dot(qs(i), id)) <= 1e-6 } &&
              got.map(_._1).distinct.length == got.length &&
              got.sliding(2).forall(p => p.length < 2 || p(0)._2 >= p(1)._2)
            if (kind == "knn_ivf") {
              recalls.add(got.map(_._1).toSet.intersect(want.map(_._1).toSet).size / 10.0)
              if (scoresOk && got.length == 10) None else Some(s"query $i: inconsistent IVF hits $got")
            } else if (scoresOk && got.map(_._1) == want.map(_._1)) None
            else Some(s"query $i: got ${got.map(_._1)} want ${want.map(_._1)}")
          }.seq
          problems.headOption.fold(ctx.tally.ok(kind))(ctx.tally.wrong(kind, _))
      }
    }
    answers.clear()
  }

  def report(ops: Seq[Op], busyS: Double): Seq[Metric] = {
    def qps(kind: String) = {
      val ks = ops.filter(o => o.kind == kind && o.ok)
      ks.map(_.items).sum / (ks.map(_.ms).sum / 1000).max(1e-9)
    }
    val r = recalls.asScala.toSeq
    Seq(Metric("knn_exact_qps", qps("knn_exact"), "1/s"),
      Metric("knn_ivf_qps", qps("knn_ivf"), "1/s"),
      Metric("ivf_recall_at_10", if (r.isEmpty) 0.0 else r.sum / r.length, "ratio"),
      Metric("space_amp", dirBytes(coll.path).toDouble / (Points.toLong * (8 + Gen.Dim * 4)), "ratio"))
  }

  /** `IvfIndex.build` on the same points, timed alone. */
  override def layerExtras(): Map[String, Double] = {
    val pts = ctx.spark.read.parquet(coll.path).select(col("vector"))
    val ms = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      graft.index.IvfIndex.build(pts, "vector", Cells)
      (System.nanoTime() - t0) / 1e6
    }
    Map("index.build_ms" -> Workload.median(ms))
  }
}

object BulkKnn {
  val Points = 50000
  val Cells = 64
  val Nprobe = 4
  val Batch = 8
}

/** MinHash-LSH near-duplicate pass over a corpus with planted copies. */
final class DedupCorpus(ctx: Ctx) extends Workload(ctx) {
  import DedupCorpus._
  def primary: Set[String] = Set("dedup")
  def sizes = s"$Docs docs of 40-79 words, planted copies (1 edited word) in blocks of ${Gen.DocBlock}"
  @volatile var docs: DataFrame = _
  private var last: Option[String] = None
  private val kept = new ConcurrentLinkedQueue[Long]
  var plantedRecall = 0.0
  var pairCount = 0L
  private var comp = Map.empty[Long, Long]

  private val planted: Int = (0 until Docs / Gen.DocBlock).count(b => Gen.dupsInBlock(ctx.seed, b) > 0)

  def setup(round: Int): Double = {
    val p = ctx.path(s"docs-$round")
    removeDir(p)
    val s = ctx.seed
    val text = udf((d: Long) => Gen.docText(s, d))
    val t0 = System.nanoTime()
    ctx.spark.range(Docs).select(col("id").as("doc_id"), text(col("id")).as("text"))
      .write.parquet(p)
    docs = ctx.spark.read.parquet(p)
    val t = secs(t0)
    last.foreach(removeDir)
    last = Some(p)
    t
  }

  private def pairs(): DataFrame =
    Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)

  /** The warm-up pass collects every document's component for the
    * planted-cluster check; timed passes collect the kept count. */
  def cycle(t: Int, c: Int, counted: Boolean): Unit =
    if (c < 0) {
      ctx.runner.call("dedup", Docs.toLong)(Dedup.nearDupRepresentatives(docs, "doc_id", pairs()))(
        _.select(col("doc_id"), col("component")).collect()) match {
        case Right(rows) => comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        case Left(e) => ctx.tally.error("dedup", e)
      }
    } else {
      ctx.runner.call("dedup", Docs.toLong, counted)(
        Dedup.nearDupRepresentatives(docs, "doc_id", pairs()))(_.filter(col("keep") === 1).count()) match {
        case Right(k) => kept.add(k)
        case Left(e) => ctx.tally.error("dedup", e)
      }
    }

  /** Planted recall and precision from the warm-up pass's components. */
  def afterLoop(traced: Boolean): Unit = {
    val s = ctx.seed
    val mixed = comp.groupBy(_._2).count { case (_, ms) => ms.keys.map(Gen.baseOf(s, _)).toSet.size > 1 }
    val found = (0 until Docs / Gen.DocBlock).count { b =>
      val n = Gen.dupsInBlock(s, b)
      n > 0 && (0 to n).map(i => comp.get(b.toLong * Gen.DocBlock + i)).distinct == Seq(Some(b.toLong * Gen.DocBlock))
    }
    plantedRecall = found.toDouble / planted
    val distinct = comp.values.toSet.size.toLong
    kept.asScala.foreach { k =>
      if (k == distinct) ctx.tally.ok("dedup")
      else ctx.tally.wrong("dedup", s"kept $k but the components give $distinct")
    }
    if (mixed == 0 && plantedRecall >= 0.99) ctx.tally.ok("planted_clusters")
    else ctx.tally.wrong("planted_clusters", s"recall $plantedRecall, $mixed components merge unrelated docs")
    if (traced) pairCount = pairs().count()
  }

  def report(ops: Seq[Op], busyS: Double): Seq[Metric] = {
    val ds = ops.filter(o => o.kind == "dedup" && o.ok)
    Seq(Metric("dedup_docs_per_s", ds.map(_.items).sum / (ds.map(_.ms).sum / 1000).max(1e-9), "1/s"),
      Metric("dedup_planted_recall", plantedRecall, "ratio"))
  }

  override def layerExtras(): Map[String, Double] = Map("pipeline.pairs" -> pairCount.toDouble,
    "pipeline.kept_docs" -> Option(kept.peek()).map(_.toDouble).getOrElse(0.0))
}

object DedupCorpus {
  val Docs = 50000
}
