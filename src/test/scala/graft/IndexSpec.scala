package graft

import org.apache.spark.sql.functions._

import graft.index.{IvfIndex, Quantization}
import graft.model._
import graft.ops.{Formula, Mmr, PointQuery, Search}

/** ANN-vs-exact oracle pattern (the reference's load-bearing correctness
  * test, SURVEY.md §5.3: `exact_search_test.rs`) plus formula/MMR units. */
class IndexSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.load(spark, sf, "embeddings")
  private lazy val q7 = Tables.embeddingOf(spark, sf, 7L)

  private def score(metric: Metric): org.apache.spark.sql.Column =
    Search.scoreExpr(metric, col("embedding"), typedLit(q7))

  private def exactTop(k: Int): Seq[Long] =
    Search.knn(emb, "vec_id", "embedding", q7, Dot, k = k)
      .collect().map(_.getLong(0)).toSeq

  test("IVF with all probes equals exact search") {
    val model = IvfIndex.build(emb, "embedding", k = 8)
    val assigned = IvfIndex.assign(emb, "embedding", model)
    val got = Search.nearest(assigned, "vec_id", score(Dot), Dot.largerBetter,
      cells = Some(Search.Cells("centroid_id", model.probe(q7, model.k))), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactTop(10))
  }

  test("IVF probe pruning reads only probed cells, recall reasonable") {
    val model = IvfIndex.build(emb, "embedding", k = 8)
    val assigned = IvfIndex.assign(emb, "embedding", model).cache()
    val probed = model.probe(q7, 2)
    assert(probed.length == 2)
    val got = Search.nearest(assigned, "vec_id", score(Dot), Dot.largerBetter,
      cells = Some(Search.Cells("centroid_id", probed)), k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.intersect(exactTop(10).toSet).size >= 5)
  }

  test("scalar quantization rescore recovers exact top-k at high oversampling") {
    val p = Quantization.fitScalar(emb, "embedding")
    val enc = emb.withColumn("qvec", Quantization.encodeScalar(col("embedding"), p))
    val got = Search.nearest(enc, "vec_id", score(Dot), Dot.largerBetter,
      approx = Some(Search.Approx(Quantization.scalarScore(Dot, col("qvec"), q7, p),
        Dot.largerBetter, oversampling = 10.0)), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactTop(10))
  }

  test("fused MaxSim kernel is bit-identical to the HOF formulation (all metrics)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val stored = emb.select(col("vec_id"),
      when(col("vec_id") % 2 === 0,
        array(slice(col("embedding"), 1, 16), slice(col("embedding"), 17, 16),
          slice(col("embedding"), 33, 16), slice(col("embedding"), 49, 16)))
        .otherwise(array(slice(col("embedding"), 1, 16), slice(col("embedding"), 17, 16)))
        .as("toks"))
    val qvs = (0 until 3).map(i => q7.slice(i * 16, i * 16 + 16))
    for (m <- Seq(Dot, Euclid, Manhattan, Cosine)) {
      val fused = stored.select(col("vec_id"),
        VectorFunctions.maxSim(m, col("toks"), qvs).as("s"))
      val hof = stored.select(col("vec_id"),
        VectorFunctions.maxSim(m, col("toks"), typedLit(qvs)).as("s2"))
      val diff = fused.join(hof, "vec_id").filter(col("s") =!= col("s2")).count()
      assert(diff == 0L, s"fused/HOF MaxSim mismatch for $m")
    }
    // empty stored matrix is NULL in both formulations
    val empty = spark.range(1).select(
      typedLit(Seq.empty[Seq[Float]]).as("toks"))
    assert(empty.select(VectorFunctions.maxSim(Dot, col("toks"), qvs.take(1)).as("s"))
      .head().isNullAt(0))
    // null inner rows are SKIPPED (array_max ignores null sims); an
    // all-null matrix is NULL — both mirrored from the HOF semantics
    val mixed = spark.sql(
      """SELECT array(CAST(NULL AS ARRAY<FLOAT>),
        |             CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS toks
        |UNION ALL
        |SELECT array(CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<FLOAT>))"""
        .stripMargin)
    val got = mixed
      .select(VectorFunctions.maxSim(Dot, col("toks"), Seq(Seq(2.0, 3.0))).as("s"))
      .collect()
    val vals = got.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSet
    assert(vals == Set(Some(2.0), None), s"got $vals")
  }

  test("fused dequant fold is bit-identical to the explicit transform formulation") {
    import org.apache.spark.sql.functions.{expr => _, _}
    val p = Quantization.fitScalar(emb, "embedding")
    val enc = emb.withColumn("qvec", Quantization.encodeScalar(col("embedding"), p))
    for (m <- Seq(Dot, Euclid, Manhattan)) {
      val fused = enc.select(col("vec_id"),
        Quantization.scalarScore(m, col("qvec"), q7, p).as("s"))
      val deq = transform(col("qvec"),
        q => q.cast("double") * lit(p.delta) + lit(p.min))
      val hof = enc.select(col("vec_id"),
        graft.functions.VectorFunctions.score(m, deq, typedLit(q7)).as("s"))
      val diff = fused.join(hof.withColumnRenamed("s", "s2"), "vec_id")
        .filter(col("s") =!= col("s2")).count()
      assert(diff == 0L, s"fused/HOF mismatch for $m")
    }
  }

  test("binary quantization rescore has nonzero overlap with exact") {
    val enc = emb.withColumn("bvec", Quantization.encodeBinary(col("embedding"), 64))
    val got = Search.nearest(enc, "vec_id", score(Cosine), Cosine.largerBetter,
      approx = Some(Search.Approx(Quantization.hammingScore(col("bvec"),
        Quantization.binaryQueryLiteral(q7)).cast("double"), largerBetter = false,
        oversampling = 8.0)), k = 10)
      .collect().map(_.getLong(0)).toSet
    val exact = Search.knn(emb, "vec_id", "embedding", q7, Cosine, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.intersect(exact).nonEmpty)
  }

  test("PQ codes round-trip and ADC rescore recalls most of the exact top-k") {
    val p = Quantization.fitPq(emb, "embedding", m = 16, nbits = 4)
    assert(p.m == 16 && p.codebooks.forall(_.length == 16))
    val enc = emb.withColumn("pqcode", Quantization.encodePq(col("embedding"), p))
    // codes: one byte per subspace, values < 2^nbits
    val code = enc.select("pqcode").head().getAs[Array[Byte]](0)
    assert(code.length == 16 && code.forall(b => (b & 0xff) < 16))
    val got = Search.nearest(enc, "vec_id", score(Dot), Dot.largerBetter,
      approx = Some(Search.Approx(Quantization.pqAdcScore(col("pqcode"), q7, Dot, p),
        largerBetter = true, oversampling = 8.0)), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got.toSet.intersect(exactTop(10).toSet).size >= 7,
      s"PQ recall too low: $got vs ${exactTop(10)}")
    // rescored scores are exact: the returned ordering must be the exact
    // ordering restricted to the candidate set
    val exactAll = Search.knn(emb, "vec_id", "embedding", q7, Dot, k = 2000)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exactAll.filter(got.toSet).take(10))
  }

  test("MMR first pick is the most relevant; selection is diverse") {
    val cands = Search.knn(emb, "vec_id", "embedding", q7, Dot,
      k = 30, extraCols = Seq("embedding"))
    val space = PointQuery.Space("embedding", Dot)
    val got = Mmr.rerank(spark, cands, "vec_id", space, PointQuery.DenseVector(q7),
      lambda = 0.5, limit = 5).collect()
    assert(got.length == 5)
    assert(got.head.getLong(0) == exactTop(1).head)
    assert(got.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4, 5))
    // λ=1 → pure relevance → equals exact order
    val pure = Mmr.rerank(spark, cands, "vec_id", space, PointQuery.DenseVector(q7),
      lambda = 1.0, limit = 5).collect().map(_.getLong(0)).toSeq
    assert(pure == exactTop(5))
  }

  test("decay lambda transforms and kernel values") {
    import Formula._
    assert(decayLambda(LinDecay, 0.5, 1.0) == 0.5)
    assert(decayLambda(ExpDecay, 0.5, 1.0) == math.log(0.5))
    assert(decayLambda(GaussDecay, 0.5, 2.0) == math.log(0.5) / 4.0)
    // gauss decay at x=target is 1; at |x−target|=scale it's the midpoint
    val r = spark.range(1).select(
      compile(Decay(GaussDecay, Constant(5.0), Constant(5.0), 0.5, 3.0),
        _ => lit(0.0), new graft.filters.TypedResolver(
          org.apache.spark.sql.types.StructType(Nil), "id")).as("at_target"),
      compile(Decay(GaussDecay, Constant(8.0), Constant(5.0), 0.5, 3.0),
        _ => lit(0.0), new graft.filters.TypedResolver(
          org.apache.spark.sql.types.StructType(Nil), "id")).as("at_scale"))
      .head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-12)
  }

  test("datetime formula vars: RFC3339 payload value and constant as epoch seconds") {
    import Formula._
    import spark.implicits._
    val d = Seq((1L, "2024-03-01T12:00:00Z"), (2L, "2024-03-02T12:00:00Z"))
      .toDF("id", "created")
    val tr = new graft.filters.TypedResolver(d.schema, "id")
    // seconds between payload datetime and the constant
    val ast = Sum(Seq(DatetimeVar("created"),
      Neg(DatetimeConstant("2024-03-01T00:00:00Z"))))
    val got = d.select(col("id"), compile(ast, _ => lit(0.0), tr).as("s"))
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(got == Seq(12 * 3600.0, 36 * 3600.0), got.toString)
  }

  test("sparse index search equals per-doc arithmetic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c"), (2L, "b b b"), (3L, "c c a")).toDF("doc_id", "text")
    val post = graft.index.SparseIndex.postingsFromTokens(docs, "doc_id", "text")
    val q = Seq(("a", 2.0), ("b", 1.0)).toDF("dim", "qw")
    val got = graft.index.SparseIndex.search(post, "doc_id", q, None, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc1: 2a,1b → 2*2+1=5; doc2: 3b → 3; doc3: 1a → 2
    assert(got == Map(1L -> 5.0, 2L -> 3.0, 3L -> 2.0))
  }

  test("f16 codec: round-trip error bound, idempotence, exact representables") {
    import graft.functions.F16
    // exactly-representable halves survive the round trip bit-for-bit
    for (x <- Seq(0.0f, 1.0f, -1.0f, 0.5f, 0.25f, -2.5f, 1024f, 6.1035156e-5f))
      assert(F16.toFloat(F16.toHalf(x)) == x, s"exact $x")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 20000) {
      val x = (rnd.nextFloat() - 0.5f) * 200f
      val y = F16.toFloat(F16.toHalf(x))
      // relative error <= 2^-11 for normal halves
      assert(math.abs(y - x) <= math.abs(x) * 4.8829e-4 + 1e-7, s"$x -> $y")
      // idempotence: encode(decode(encode(x))) == encode(x)
      assert(F16.toHalf(y) == F16.toHalf(x), s"idempotent $x")
    }
    // overflow saturates to infinity, sign preserved
    assert(F16.toFloat(F16.toHalf(1e9f)).isPosInfinity)
    assert(F16.toFloat(F16.toHalf(-1e9f)).isNegInfinity)
    // round-to-nearest-EVEN, like the reference's `half` crate `from_f32`
    // (a half-UP rounder fails every other pin here):
    // midpoint between 0x3C00 (1.0, even) and 0x3C01 → DOWN to even
    assert(F16.toHalf(1.00048828125f) == 0x3C00.toShort)
    // midpoint between 0x3C01 (odd) and 0x3C02 (even) → UP to even
    assert(F16.toHalf(1.00146484375f) == 0x3C02.toShort)
    // ≥ 65520 overflows to Inf (the crate's behavior), not max-finite…
    assert(F16.toHalf(65520f) == 0x7C00.toShort)
    // …while anything below it still rounds to max finite 65504
    assert(F16.toHalf(65519.996f) == 0x7BFF.toShort)
    assert(F16.toHalf(65505f) == 0x7BFF.toShort)
    // subnormal ties: 2^-25 (midpoint of 0 and the min subnormal, even=0)
    // underflows; 1.5·2^-24 (midpoint of subnormals 1 and 2) → even = 2
    assert(F16.toHalf(2.9802322e-8f) == 0x0000.toShort)
    assert(F16.toHalf(8.940697e-8f) == 0x0002.toShort)
    assert(F16.toHalf(5.9604645e-8f) == 0x0001.toShort) // min subnormal exact
  }

  test("f16 kernels agree with reference math on DataFrame columns") {
    import graft.index.VectorCodec
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = rows.toDF("id", "v")
    val q = rows.head._2.map(_.toDouble)
    // f16: fused kernel equals decode-then-dot computed on the driver
    val gotH = df.select(col("id"),
        VectorCodec.f16Dot(VectorCodec.toF16(col("v")), typedlit(q)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, v) <- rows) {
      val expect = v.zip(q).map { case (a, b) =>
        graft.functions.F16.toFloat(graft.functions.F16.toHalf(a)).toDouble * b
      }.sum
      assert(math.abs(gotH(id) - expect) < 1e-12, s"f16 id=$id")
    }
  }

  test("reduced-width metric folds agree with driver math (all metrics, both eval paths)") {
    import graft.functions.{F16, VecKernels}
    import graft.index.VectorCodec
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 60).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = rows.toDF("id", "v")
    val q = rows.last._2.map(_.toDouble)

    def check(name: String, col0: org.apache.spark.sql.Column,
        expect: Long => Double, tol: Double, codegen: Boolean): Unit = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try {
        val got = df.select(col("id"), col0.cast("double").as("s"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        for ((id, _) <- rows)
          assert(math.abs(got(id) - expect(id)) <= tol,
            s"$name id=$id codegen=$codegen: ${got(id)} vs ${expect(id)}")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }

    val half = rows.map { case (id, v) =>
      id -> v.map(x => F16.toFloat(F16.toHalf(x)).toDouble)
    }.toMap
    val hv = VectorCodec.toF16(col("v"))
    val qlit = typedlit(q)

    // u8 folds: the `datatype: uint8` element domain — byte-range values
    // through the saturating `x as u8` cast, scored UNSIGNED (a stored
    // 200 is 200, not −56)
    def scaleD(x: Double): Double = (x + 1.0) * 100.0
    val uv = VectorCodec.toU8(
      org.apache.spark.sql.functions.transform(col("v"),
        x => (x.cast("double") + lit(1.0d)) * lit(100.0d)))
    val uq = VectorCodec.encodeU8(q.map(scaleD))
    val uqL = uq.map(_.toLong & 0xFFL)
    val u8v = rows.map { case (id, v) =>
      id -> VectorCodec.encodeU8(v.map(x => scaleD(x.toDouble)))
        .map(_.toLong & 0xFFL)
    }.toMap
    val uqlit = typedlit(uq)

    for (cg <- Seq(true, false)) {
      // f16 folds: sequential-double over decoded halves
      check("f16L2Sq", VecKernels.f16L2Sq(hv, qlit),
        id => half(id).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, 1e-12, cg)
      check("f16L1", VecKernels.f16L1(hv, qlit),
        id => half(id).zip(q).map { case (a, b) => math.abs(a - b) }.sum, 1e-12, cg)
      check("f16SelfDot", VecKernels.f16SelfDot(hv),
        id => half(id).map(x => x * x).sum, 1e-12, cg)
      // u8 folds: exact unsigned integers
      check("u8Dot", VecKernels.u8Dot(uv, uqlit),
        id => u8v(id).zip(uqL).map { case (a, b) => (a * b).toDouble }.sum, 0.0, cg)
      check("u8L2Sq", VecKernels.u8L2Sq(uv, uqlit),
        id => u8v(id).zip(uqL).map { case (a, b) => ((a - b) * (a - b)).toDouble }.sum,
        0.0, cg)
      check("u8L1", VecKernels.u8L1(uv, uqlit),
        id => u8v(id).zip(uqL).map { case (a, b) => math.abs(a - b).toDouble }.sum,
        0.0, cg)
    }
  }

  test("MaxSim distance metrics use similarity orientation (inner max = closest pair)") {
    // Reference MaxSim maxes over Metric::similarity — for Euclid that is
    // −Σ(a−b)² (euclid_similarity, simple.rs:214-218), so the best token
    // pair is the CLOSEST one and the result is larger-better. A max over
    // raw distances would pick the farthest pair and invert the ranking.
    import spark.implicits._
    import graft.functions.VectorFunctions
    val rows = Seq(
      // point 1's first token equals the query token exactly → best
      (1L, Seq(Seq(1.0f, 0.0f), Seq(10.0f, 10.0f))),
      (2L, Seq(Seq(0.0f, 1.0f), Seq(2.0f, 2.0f))),
      (3L, Seq(Seq(5.0f, 5.0f))))
    val df = rows.toDF("id", "vecs")
    val q = Seq(Seq(1.0, 0.0))
    def expected(metric: Metric): Map[Long, Double] = rows.map { case (id, toks) =>
      id -> q.map(qv => toks.map { t =>
        metric match {
          case Euclid => -t.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
          case Manhattan => -t.zip(qv).map { case (a, b) => math.abs(a - b) }.sum
          case _ => t.zip(qv).map { case (a, b) => a * b }.sum
        }
      }.max).sum
    }.toMap
    for (metric <- Seq(Euclid, Manhattan, Dot)) {
      val got = df.select(col("id"),
          VectorFunctions.maxSim(metric, col("vecs"), typedLit(q)).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exp = expected(metric)
      for ((id, e) <- exp)
        assert(math.abs(got(id) - e) <= 1e-9, s"$metric id=$id: ${got(id)} vs $e")
      // larger-better top-1 under Euclid is the exact-token match
      if (metric == Euclid)
        assert(got.maxBy(_._2)._1 == 1L)
    }
    // f16 multivector arm follows the same orientation
    import graft.index.VectorCodec
    import graft.model.Float16
    val stored16 = df.select(col("id"),
      transform(col("vecs"), v => VectorCodec.toF16(v)).as("vecs16"))
    val got16 = stored16.select(col("id"),
        VectorCodec.maxSimExpr(Float16, Euclid, col("vecs16"), q).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // tokens here are f16-exact, so values match the f32 expectation
    for ((id, e) <- expected(Euclid))
      assert(math.abs(got16(id) - e) <= 1e-6, s"f16 id=$id: ${got16(id)} vs $e")
  }
}
