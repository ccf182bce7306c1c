package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model._
import graft.ops.Search

/** Vector compression transforms and the approx scores of the two-phase
  * (approx → exact rescore) search [[Search.nearest]] runs, mirroring
  * qdrant's quantization configs (SURVEY.md §2.6;
  * scalar int8 `types.rs:930-985`, binary `types.rs:1036-1120`, rescore +
  * oversampling `types.rs:573-618`).
  *
  * Scale shape: the quantized column is 4× (int8) / 32× (binary) smaller
  * than f32 — phase 1 scans only it; phase 2 re-reads full vectors for just
  * k·oversampling candidates via semi-join.
  */
object Quantization {

  /** Global scalar int8 params from data (min/max with optional quantile
    * clipping, ref `ScalarQuantizationConfig.quantile`). */
  final case class ScalarParams(min: Double, max: Double) {
    def delta: Double = (max - min) / 255.0
  }

  def fitScalar(df: DataFrame, vecCol: String, quantile: Double = 1.0): ScalarParams = {
    val flat = df.select(explode(col(vecCol)).as("v0"))
      .select(col("v0").cast("double").as("v"))
    if (quantile >= 1.0) {
      val row = flat.agg(min(col("v")), max(col("v"))).head()
      ScalarParams(row.getDouble(0), row.getDouble(1))
    } else {
      val qs = flat.stat.approxQuantile("v", Array(1.0 - quantile, quantile), 0.001)
      ScalarParams(qs(0), qs(1))
    }
  }

  /** Encode to array<int> in [0,255] (clipped). */
  def encodeScalar(vecCol: Column, p: ScalarParams): Column =
    transform(vecCol, v =>
      least(greatest(
        round((v.cast("double") - p.min) / lit(p.delta), 0), lit(0.0)), lit(255.0))
        .cast("int"))

  /** Dequantized similarity on the int8 column — fused decode+fold
    * ([[graft.functions.VecDequantFold]]): one codegen'd loop, no
    * materialized decoded array; bit-identical to the HOF formulation. */
  def scalarScore(metric: Metric, qcol: Column, query: Seq[Double], p: ScalarParams): Column = {
    import org.apache.spark.sql.GraftShim
    def fold(kind: String) = GraftShim.column(graft.functions.VecDequantFold(
      GraftShim.expression(qcol), GraftShim.expression(typedLit(query)),
      p.delta, p.min, kind))
    metric match {
      case Dot => fold("dot")
      case Euclid => sqrt(fold("l2sq"))
      case Manhattan => fold("l1")
      case Cosine =>
        // norm of the dequantized vector is data-dependent — keep the
        // explicit formulation for this (unusual) combination
        val deq = transform(qcol, q => q.cast("double") * lit(p.delta) + lit(p.min))
        Search.scoreExpr(Cosine, deq, typedLit(query))
    }
  }

  /** Binary quantization: sign bits packed into array<long> (dim/64 words).
    * Query encoded the same; approx distance = hamming. One codegen'd
    * packing loop ([[graft.functions.BinaryEncodeExpr]]). */
  def encodeBinary(vecCol: Column, dim: Int): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.BinaryEncodeExpr(
        org.apache.spark.sql.GraftShim.expression(vecCol),
        Array.empty, Array.empty, "one_bit", dim))

  def binaryQueryLiteral(query: Seq[Double]): Seq[Long] = {
    val words = (query.length + 63) / 64
    (0 until words).map { w =>
      (0 until math.min(64, query.length - w * 64)).foldLeft(0L) { (acc, b) =>
        if (query(w * 64 + b) > 0.0) acc | (1L << b) else acc
      }
    }
  }

  /** Hamming distance between packed sign vectors (smaller = more similar
    * for angular metrics). */
  def hammingScore(bcol: Column, queryWords: Seq[Long]): Column =
    aggregate(zip_with(bcol, typedLit(queryWords), (a, b) =>
      bit_count(a.bitwiseXOR(b))), lit(0), (acc, x) => acc + x)

  // ===== multi-bit binary encodings (`BinaryQuantizationEncoding`:
  // OneBit / TwoBits / OneAndHalfBits — `types.rs:1036-1062`; encoder
  // `lib/quantization/src/encoded_vectors_binary.rs:536-671`; scoring
  // `calculate_metric` :766-811) =====

  /** Per-element mean/stddev over the collection (`VectorStats`) — the
    * z-score basis of the 2-bit / 1.5-bit thresholds. One aggregation pass
    * (2·dim scalar aggregates), train-once like the other quantizers. */
  final case class BinaryStats(mean: Array[Double], std: Array[Double]) {
    def dim: Int = mean.length
  }

  def fitBinaryStats(df: DataFrame, vecCol: String, dim: Int): BinaryStats = {
    val aggs = (0 until dim).flatMap { i =>
      val e = element_at(col(vecCol), i + 1).cast("double")
      Seq(avg(e), coalesce(stddev_samp(e), lit(0.0)))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    BinaryStats(
      Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }

  /** Zero-band half-width in z-score units (`const SIGMAS: f32 = 2.0/3.0`,
    * `encoded_vectors_binary.rs:662`). */
  private val Sigmas = 2.0 / 3.0

  /** (b1, b2) of `encode_two_bits_value`: 00 for z ≤ −σ̂, 10 inside the
    * band, 11 for z ≥ σ̂; σ=0 degrades to sign-bit + 0. Column-side packing
    * lives in [[graft.functions.BinaryEncodeExpr]]; this is the driver-side
    * twin for query literals. */
  private def twoBitPairScala(v: Double, mean: Double, sd: Double): (Boolean, Boolean) =
    if (sd < 1e-7) (v > 0.0, false)
    else {
      val z = (v - mean) / sd
      (z > -Sigmas, z >= Sigmas)
    }

  private def packBitsScala(bits: Seq[Boolean]): Seq[Long] = {
    val words = (bits.length + 63) / 64
    (0 until words).map { w =>
      (0 until math.min(64, bits.length - w * 64)).foldLeft(0L) { (acc, b) =>
        if (bits(w * 64 + b)) acc | (1L << b) else acc
      }
    }
  }

  private def pairsOfScala(q: Seq[Double], stats: BinaryStats): Seq[(Boolean, Boolean)] =
    q.indices.map(i => twoBitPairScala(q(i), stats.mean(i), stats.std(i)))

  /** TwoBits layout: [b1_0..b1_{d−1}, b2_0..b2_{d−1}] packed to
    * array<long> (`encode_two_bits_vector`) — one codegen'd packing loop. */
  def encodeBinary2(vecCol: Column, stats: BinaryStats): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.BinaryEncodeExpr(
        org.apache.spark.sql.GraftShim.expression(vecCol),
        stats.mean, stats.std, "two_bits", stats.dim))

  def binary2QueryLiteral(q: Seq[Double], stats: BinaryStats): Seq[Long] = {
    val ps = pairsOfScala(q, stats)
    packBitsScala(ps.map(_._1) ++ ps.map(_._2))
  }

  /** OneAndHalfBits layout: the d b1-bits, then the b2-bits of consecutive
    * element PAIRS united with OR — d + ⌈d/2⌉ bits total
    * (`encode_one_and_half_bits_vector`) — one codegen'd packing loop. */
  def encodeBinary15(vecCol: Column, stats: BinaryStats): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.BinaryEncodeExpr(
        org.apache.spark.sql.GraftShim.expression(vecCol),
        stats.mean, stats.std, "one_and_half_bits", stats.dim))

  def binary15QueryLiteral(q: Seq[Double], stats: BinaryStats): Seq[Long] = {
    val ps = pairsOfScala(q, stats)
    val d = q.length
    val b2 = (0 until (d + 1) / 2).map { j =>
      if (2 * j + 1 < d) ps(2 * j)._2 || ps(2 * j + 1)._2 else ps(2 * j)._2
    }
    packBitsScala(ps.map(_._1) ++ b2)
  }

  /** Asymmetric query encodings (`BinaryQuantizationQueryEncoding::
    * Scalar4bits/Scalar8bits`, `types.rs:1194`): the EXTENDED query (2-bit:
    * q++q; 1.5-bit: q ++ pairwise max — `encode_scalar_query_vector`
    * :694-719) quantized to `bits`-bit scalars over [−max|q|, max|q|]. */
  def scalarQueryLiteral(extended: Seq[Double], bits: Int): Seq[Int] = {
    val maxAbs = extended.foldLeft(0.0)((a, v) => math.max(a, math.abs(v)))
    val ranges = (1 << bits) - 1
    val delta = 2.0 * maxAbs / ranges
    extended.map { v =>
      val dv = if (delta > 1e-12) (v + maxAbs) / delta else 0.0
      math.round(dv).toInt % (ranges + 1)
    }
  }

  def extendQuery2(q: Seq[Double]): Seq[Double] = q ++ q
  def extendQuery15(q: Seq[Double]): Seq[Double] =
    q ++ q.grouped(2).map(_.max).toSeq

  /** Asymmetric score of a packed stored bit vector against `bits`-bit
    * query scalars: per extended position j, contribution q_j when the
    * stored bit is 0 and (2^bits−1)−q_j when 1 (the per-element meaning of
    * the transposed `xor_popcnt_scalar`); score = dim − 2·Σ/(2^bits−1)
    * (`calculate_metric` — Dot orientation, larger-better). One codegen'd
    * fused loop ([[graft.functions.BinaryAsymScoreExpr]]); all summands
    * are exact integers in double, so order cannot move the score. */
  def asymmetricScore(bvec: Column, qs: Seq[Int], bits: Int, dim: Int): Column = {
    val m = (1 << bits) - 1
    org.apache.spark.sql.GraftShim.column(
      graft.functions.BinaryAsymScoreExpr(
        org.apache.spark.sql.GraftShim.expression(bvec),
        qs.map(q => (m - 2 * q).toDouble).toArray,
        qs.sum.toDouble, m, dim))
  }

  // ===== Product quantization (ref `ProductQuantizationConfig`
  // `types.rs:987-1035`; x4–x64 compression via per-subspace codebooks) =====

  /** PQ model: `m` subspaces of `subDim` dims, each with ≤256 centroids
    * (codes fit one byte). codebooks(j)(c) is centroid c of subspace j. */
  final case class PqParams(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length

    /** ADC lookup table for a query: lut(j)(c) = partial similarity of
      * query-slice j against centroid c (dot; Euclid uses −l2²). */
    def lut(query: Seq[Double], metric: Metric): Array[Array[Double]] = {
      val q = query.toArray
      Array.tabulate(m) { j =>
        val off = j * subDim
        codebooks(j).map { cent =>
          var s = 0.0
          var i = 0
          metric match {
            case Euclid | Manhattan =>
              while (i < subDim) {
                val d = q(off + i) - cent(i)
                s += (metric match {
                  case Euclid => d * d
                  case _ => math.abs(d)
                })
                i += 1
              }
              -s
            case _ => // Dot / Cosine (vectors pre-normalized for cosine)
              while (i < subDim) { s += q(off + i) * cent(i); i += 1 }
              s
          }
        }
      }
    }
  }

  /** Train per-subspace codebooks on a bounded sample (driver-side Lloyd's,
    * one collect job — the faiss training regime; 2^nbits centroids). */
  def fitPq(
      df: DataFrame,
      vecCol: String,
      m: Int,
      nbits: Int = 8,
      maxIter: Int = 15,
      seed: Long = 42L,
      sampleSize: Int = 4096): PqParams = {
    require(nbits >= 1 && nbits <= 8, "codes must fit one byte")
    val sample = df
      .select(col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col("v")), monotonically_increasing_id())
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train PQ on an empty table")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    val k = 1 << nbits
    val books = Array.tabulate(m) { j =>
      val slice = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      IvfIndex.lloyd(slice, k, maxIter, seed + j).toArray
    }
    PqParams(subDim, books)
  }

  /** Nearest-centroid codes per subspace, packed as binary (1 byte/code). */
  def encodePq(vecCol: Column, p: PqParams): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqEncodeExpr(
        org.apache.spark.sql.GraftShim.expression(vecCol.cast("array<double>")), p.codebooks))

  /** ADC (asymmetric distance) score of a code column against a query's
    * lookup table: Σ_j lut(j)(code_j). */
  def pqAdcScore(codeCol: Column, query: Seq[Double], metric: Metric, p: PqParams): Column =
    org.apache.spark.sql.GraftShim.column(
      graft.functions.PqAdcScoreExpr(
        org.apache.spark.sql.GraftShim.expression(codeCol), p.lut(query, metric)))

  /** The approx phase ([[Search.Approx]]) of a declared quantization
    * `spec` with fitted params `qp`, for `query` on the quantized column
    * `qcol`: int8 scores the dequantized metric, binary the XOR popcount
    * over its packed bit layout (ranking-equivalent to `calculate_metric`'s
    * dim − 2·xor for every metric orientation), product the ADC sum. With
    * `rescore = false` the approx scores are served, so they are mapped
    * into the metric's orientation first (the reference converts quantized
    * scores via `calculate_metric` before serving): a raw hamming distance
    * is smaller-better, and a metric-space score threshold must not apply
    * inverted. The one_bit ±1 mapping gives dot ≈ dim − 2·h,
    * ‖a−b‖₂ ≈ 2√h and ‖a−b‖₁ ≈ 2h, order-preserving per metric, so only
    * the served value and the threshold space change. */
  def approx(
      spec: graft.sources.QuantizationSpec,
      qp: graft.storage.Collection.QuantParams,
      qcol: Column,
      query: Seq[Double],
      metric: Metric,
      oversampling: Double,
      rescore: Boolean): Search.Approx = {
    import graft.storage.Collection.{BinaryQP, PqQP, ScalarQP}
    val (score, largerBetter) = (spec.kind, qp) match {
      case ("scalar", ScalarQP(mn, mx)) =>
        (scalarScore(metric, qcol, query, ScalarParams(mn, mx)), metric.largerBetter)
      case ("binary", BinaryQP(mean, std)) =>
        val words = spec.encoding match {
          case "one_bit" => binaryQueryLiteral(query)
          case "two_bits" =>
            binary2QueryLiteral(query, BinaryStats(mean.toArray, std.toArray))
          case "one_and_half_bits" =>
            binary15QueryLiteral(query, BinaryStats(mean.toArray, std.toArray))
          case other =>
            throw new IllegalArgumentException(s"unknown binary encoding '$other'")
        }
        (hammingScore(qcol, words).cast("double"), false)
      case ("product", pq: PqQP) =>
        // ADC partials are dot (larger-better) or −distance for
        // Euclid/Manhattan (`PqParams.lut`) — larger-better either way
        (pqAdcScore(qcol, query, metric, pq.toParams), true)
      case (k, p) =>
        throw new IllegalArgumentException(s"quantization kind/params mismatch: $k / $p")
    }
    val (served, servedLb) =
      if (rescore) (score, largerBetter)
      else if (spec.kind == "binary") metric match {
        case Dot | Cosine => (lit(query.length.toDouble) - lit(2.0) * score, true)
        case Euclid => (lit(2.0) * sqrt(score), false)
        case Manhattan => (lit(2.0) * score, false)
      }
      // ADC partials for Euclid/Manhattan are NEGATED distances — serve
      // the (approximate) distance, smaller-better
      else if (spec.kind == "product" && !metric.largerBetter) (-score, false)
      else (score, largerBetter)
    Search.Approx(served, servedLb, oversampling, rescore)
  }
}
