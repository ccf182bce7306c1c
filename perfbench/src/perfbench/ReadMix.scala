package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.RequestCodec
import graft.storage.Collection

/** One generated qdrant request: the public entry point its wire body
  * goes through, a standalone parse of the same body (traced runs time it
  * as the `api` layer) and the brute-force check of its answer. */
final case class Req(
    kind: String,
    call: Collection => DataFrame,
    parse: () => Any,
    /** None when the rows match the reference, else what differs. */
    check: Array[Row] => Option[String])

/** The read-only request mix of `api_mixed` (and the reads of
  * `update_mixed`): eight request kinds, parameters drawn from the seed,
  * by-id references drawn from live ids only. */
object ReadMix {
  val Kinds: Seq[String] = Seq("nearest_vector", "nearest_id_filtered",
    "recommend", "prefetch_rrf", "scroll_filtered", "count_exact",
    "facet", "count_price_range")

  /** Parse-only codec context for the benchmark collection's schema;
    * by-id inputs resolve to zero vectors, so parsing runs no Spark job. */
  val parseCtx: RequestCodec.Ctx = RequestCodec.Ctx(
    Map("" -> RequestCodec.VectorSpace("vector", graft.model.Dot, dim = Some(Gen.Dim)),
      "text" -> RequestCodec.VectorSpace("sparse_text", graft.model.Dot, sparse = true)),
    resolveId = (_, _) => Left(Seq.fill(Gen.Dim)(0.0)),
    resolveSparseId = (_, _) => (Seq(0L), Seq(1.0)))

  private def vecJson(q: Array[Int]): String = q.map(v => (v / 256.0).toString).mkString("[", ",", "]")

  private def ids(rows: Array[Row]): Seq[Long] = rows.toSeq.map(r => r.getAs[Any]("id").toString.toLong)
  private def scores(rows: Array[Row]): Seq[Double] = rows.toSeq.map(r => r.getAs[Any]("score").toString.toDouble)

  private def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def compareRanked(rows: Array[Row], want: Seq[(Long, Double)]): Option[String] = {
    val got = ids(rows).zip(scores(rows))
    val ok = got.length == want.length && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      gi == wi && math.abs(gs - round6(ws)) <= 1e-6
    }
    if (ok) None else Some(s"got ${got.take(10).mkString(",")} want ${want.take(10).mkString(",")}")
  }

  private def cityFilter(c: Int) =
    s"""{"key":"city","match":{"value":"${Gen.cityName(c)}"}}"""

  private def query(body: String): Collection => DataFrame = _.query(body)

  /** The request of `kind` for (stream, n), against the model's state at
    * the time of the call. */
  def request(m: Model, kindIx: Int, stream: Long, n: Long): Req = {
    val seed = m.seed
    val r = Gen.h(seed, 100 + kindIx, stream, n)
    def pickLive(salt: Int): Long = {
      val live = m.live
      live(Gen.below(Gen.h(r, salt), live.length))
    }
    Kinds(kindIx) match {
      case k @ "nearest_vector" =>
        val q = Gen.vecInts(seed, Gen.h(seed, 40, stream, n) | (1L << 62), m.clusters)
        val body = s"""{"query":${vecJson(q)},"limit":10}"""
        Req(k, query(body), () => RequestCodec.parseQueryRequest(body, parseCtx),
          rows => compareRanked(rows, m.topK(q, 10)))
      case k @ "nearest_id_filtered" =>
        val id = pickLive(1)
        val c = Gen.below(Gen.h(r, 2), 4)
        val body = s"""{"query":{"nearest":$id},"filter":{"must":[${cityFilter(c)}]},"limit":10}"""
        Req(k, query(body), () => RequestCodec.parseQueryRequest(body, parseCtx),
          rows => compareRanked(rows, m.topK(m.vecOf(id), 10, x => x != id && m.cityOf(x) == c)))
      case k @ "recommend" =>
        val Seq(a, b, neg) = (1 to 3).map(pickLive).distinct match {
          case s if s.length == 3 => s
          case _ => Seq(m.live(0), m.live(1), m.live(2))
        }
        val body = s"""{"query":{"recommend":{"positive":[$a,$b],"negative":[$neg],""" +
          s""""strategy":"average_vector"}},"limit":10}"""
        Req(k, query(body), () => RequestCodec.parseQueryRequest(body, parseCtx), { rows =>
          val (va, vb, vn) = (m.vecOf(a), m.vecOf(b), m.vecOf(neg))
          val q = Array.tabulate(Gen.Dim)(j => va(j) + vb(j) - vn(j))
          compareRanked(rows, m.topK(q, 10, x => x != a && x != b && x != neg))
        })
      case k @ "prefetch_rrf" =>
        val q = Gen.vecInts(seed, Gen.h(seed, 41, stream, n) | (1L << 62), m.clusters)
        val (si, sv) = Gen.sparse(seed, Gen.h(seed, 42, stream, n))
        val body = s"""{"prefetch":[{"query":${vecJson(q)},"limit":20},""" +
          s"""{"query":{"indices":[${si.mkString(",")}],"values":[${sv.mkString(",")}]},""" +
          s""""using":"text","limit":20}],"query":{"fusion":"rrf"},"limit":10}"""
        Req(k, query(body), () => RequestCodec.parseQueryRequest(body, parseCtx),
          rows => compareRanked(rows, rrfReference(m, q, si, sv)))
      case k @ "scroll_filtered" =>
        val lo = Gen.below(Gen.h(r, 1), Gen.Tenants - 8)
        val body = s"""{"filter":{"must":[{"key":"tenant","range":{"gte":$lo,"lt":${lo + 4}}}]},""" +
          s""""limit":10,"with_payload":true}"""
        Req(k, _.scroll(body), () => RequestCodec.parseScrollRequest(body), { rows =>
          val want = m.live.iterator.filter(x => m.tenantOf(x) >= lo && m.tenantOf(x) < lo + 4)
            .take(10).toSeq
          val got = ids(rows)
          val payloadsOk = rows.forall { row =>
            val id = row.getAs[Any]("id").toString.toLong
            m.isLive(id) && Payloads.key(row.getAs[String]("payload")) == m.payloadKey(id)
          }
          if (got == want && payloadsOk) None else Some(s"got $got want $want payloadsOk=$payloadsOk")
        })
      case k @ "count_exact" =>
        val c = Gen.below(Gen.h(r, 1), 6)
        val t = 8 + Gen.below(Gen.h(r, 2), Gen.Tenants - 8)
        val body = s"""{"filter":{"must":[${cityFilter(c)},""" +
          s"""{"key":"tenant","range":{"lt":$t}}]},"exact":true}"""
        Req(k, _.count(body), () => RequestCodec.parseCountRequest(body),
          rows => countCheck(rows, m.live.count(x => m.cityOf(x) == c && m.tenantOf(x) < t)))
      case k @ "facet" =>
        val lo = Gen.below(Gen.h(r, 1), Gen.Tenants / 2)
        val body = s"""{"key":"city","filter":{"must":[{"key":"tenant","range":{"gte":$lo}}]},""" +
          s""""exact":true,"limit":${Gen.Cities}}"""
        Req(k, _.facet(body), () => RequestCodec.parseFacetRequest(body), { rows =>
          val want = m.live.iterator.filter(x => m.tenantOf(x) >= lo)
            .map(x => Gen.cityName(m.cityOf(x))).toSeq.groupBy(identity)
            .map { case (v, xs) => (v, xs.length.toLong) }.toSeq
            .sortBy { case (v, c) => (-c, v) }
          val got = rows.toSeq.map(row => (row.getAs[Any]("value").toString,
            row.getAs[Any]("cnt").toString.toLong))
          if (got == want) None else Some(s"got $got want $want")
        })
      case k @ "count_price_range" =>
        // Whole-number bounds are written as x.0 here; the integer form
        // hits a known engine defect and goes through `integerBoundProbe`.
        val whole = 20 + Gen.below(Gen.h(r, 1), 160)
        val half = (n / 2) % 2 != 0
        val cents = if (half) whole * 100 + 50 else whole * 100
        val body = s"""{"filter":{"must":[{"key":"price","range":{"gte":$whole.${if (half) 5 else 0}}}]},"exact":true}"""
        Req(k, _.count(body), () => RequestCodec.parseCountRequest(body),
          rows => countCheck(rows, m.live.count(x => m.centsOf(x) >= cents)))
    }
  }

  /** The count request a client writes with a JSON integer bound, as in
    * `{"gte":50}`. On the undeclared float `price` field the engine throws
    * CAST_INVALID_INPUT for it, while `50.0` works. */
  def integerBoundProbe(m: Model, i: Int): Req = {
    val whole = 20 + Gen.below(Gen.h(m.seed, 190, i), 160)
    val body = s"""{"filter":{"must":[{"key":"price","range":{"gte":$whole}}]},"exact":true}"""
    Req("count_price_int_bound", _.count(body), () => RequestCodec.parseCountRequest(body),
      rows => countCheck(rows, m.live.count(x => m.centsOf(x) >= whole * 100)))
  }

  private def countCheck(rows: Array[Row], want: Long): Option[String] = {
    val got = rows.headOption.map(_.getAs[Any]("cnt").toString.toLong)
    if (got.contains(want)) None else Some(s"got $got want $want")
  }

  /** Dense top-20 and IDF-weighted sparse top-20 fused by RRF (k = 2):
    * an item at 1-based rank p contributes 1 / (p + 1). */
  def rrfReference(m: Model, q: Array[Int], si: Array[Long], sv: Array[Float]): Seq[(Long, Double)] = {
    val dense = m.topK(q, 20).map(_._1)
    val df = m.sparseDf()
    val n = m.liveCount.toDouble
    val w = si.zip(sv).map { case (d, v) =>
      val f = df.getOrElse(d, 0).toDouble
      d -> v.toDouble * math.log((n - f + 0.5) / (f + 0.5) + 1.0)
    }.toMap
    val sparse = m.live.iterator.flatMap { id =>
      val (is, vs) = m.sparseOf(id)
      var s = 0.0
      var hit = false
      var i = 0
      while (i < is.length) {
        w.get(is(i)).foreach { x => s += x * vs(i); hit = true }
        i += 1
      }
      if (hit) Some((id, round6(s))) else None
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(20).map(_._1)
    val fused = (dense.zipWithIndex ++ sparse.zipWithIndex)
      .groupMapReduce(_._1)(t => 1.0 / (t._2 + 2))(_ + _)
    fused.toSeq.map { case (id, s) => (id, round6(s)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
  }
}

/** Canonical form of a stored payload, comparable with [[Model.payloadKey]]. */
object Payloads {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def key(json: String): String = {
    val o = JsonMethods.parse(json)
    val city = (o \ "city") match { case JString(s) => s; case _ => "?" }
    val tenant = (o \ "tenant") match { case JInt(i) => i.toString; case JLong(l) => l.toString; case _ => "?" }
    val cents = (o \ "price") match {
      case JDouble(d) => math.round(d * 100).toString
      case JDecimal(d) => (d * 100).toBigInt.toString
      case JInt(i) => (i * 100).toString
      case JLong(l) => (l * 100).toString
      case _ => "?"
    }
    val flag = (o \ "flag") match { case JInt(i) => i.toString; case JLong(l) => l.toString; case _ => "" }
    s"$city|$tenant|$cents|$flag"
  }
}
