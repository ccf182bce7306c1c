package graft.index

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, ShortType}

import graft.functions.VecKernels
import graft.model._

/** Reduced-width dense-vector STORAGE element types — the reference's
  * `VectorStorageDatatype` (`lib/segment/src/types.rs:2039`; element types
  * f32/f16/u8 `lib/segment/src/data_types/vectors.rs:253-257`). The default
  * column type everywhere else in this engine is `array<float>`; these
  * codecs re-encode that column so the parquet scan reads 2× (f16) or 4×
  * (i8) fewer vector bytes — at 100 TB the scan is the dominant cost, so
  * element width is a first-order lever the reference ships natively.
  *
  * Scoring decodes INLINE inside codegen'd kernels (no decoded array is
  * materialized per row), so the narrow column is also the column that
  * streams through the whole-stage-codegen loop.
  *
  * [[encode]]/[[decode]]/[[scoreExpr]] are the config-routed surface
  * (`VectorDataConfig.datatype` parity, `types.rs:2153`): Collection
  * encodes at upsert and picks the fused kernel at search from the declared
  * [[graft.model.VectorDatatype]] — callers never touch the codec directly.
  */
object VectorCodec {

  /** Test/bench fixture projection of unit-scale embeddings into the byte
    * domain: `(x + 0.5) · 255`, f32-rounded so the DuckDB oracles reproduce
    * identical bytes with `CAST(.. AS REAL)`. u8 storage holds RAW 0..255
    * values (`x as u8` is a cast, not a quantization), so unit-scale inputs
    * would all truncate to 0 without it. ONE definition — the column and
    * driver forms must stay bit-identical to each other and to every
    * oracle's SQL expression. */
  def byteDomain(c: Column): Column =
    transform(c, x => ((x.cast("double") + lit(0.5d)) * lit(255.0d)).cast("float"))

  /** Driver-side twin of [[byteDomain]] — identical f32 rounding point. */
  def byteDomainSeq(v: Seq[Double]): Seq[Double] =
    v.map(x => ((x + 0.5) * 255.0).toFloat.toDouble)

  /** The reference's `datatype: uint8` element conversion — Rust's
    * saturating `x as u8` (`PrimitiveVectorElement for
    * VectorElementTypeByte`, `data_types/primitive.rs:126-129`): NaN and
    * negatives → 0, ≥255 → 255, else truncate toward zero. The stored
    * byte holds the u8 BIT PATTERN (values >127 wrap to negative i8 —
    * decoded and scored unsigned), keeping the 4× scan-byte win. Values
    * are the USER'S values, not a quantization: `[256.19, 1.81, 2.75,
    * 3.11]` stores — and retrieves as — `[255, 1, 2, 3]`
    * (`tests/openapi/test_multi_vector_uint8.py` truncation arm). */
  def toU8(v: Column): Column =
    transform(v, x => {
      val d = x.cast("double")
      val clamped = when(isnan(d) || d <= lit(0.0d), lit(0.0d))
        .otherwise(least(lit(255.0d), floor(d)))
      when(clamped > lit(127.0d), clamped - lit(256.0d))
        .otherwise(clamped).cast("byte")
    })

  /** Driver-side twin of [[toU8]] for literal query vectors — the
    * reference casts the QUERY through the same element conversion
    * (`metric_query_scorer.rs:51`), so both sides live in u8. */
  def encodeU8(v: Seq[Double]): Seq[Byte] =
    v.map { x =>
      val c = if (x.isNaN || x <= 0.0) 0.0 else math.min(255.0, math.floor(x))
      c.toInt.toByte
    }

  /** array<float> → array<smallint> of IEEE-754 binary16 bits. Relative
    * quantization error ≤ 2⁻¹¹ per element for normal values. */
  def toF16(v: Column): Column = VecKernels.f16Encode(v)

  /** Fused half-decode + dot against a float/double query vector. */
  def f16Dot(halfBits: Column, q: Column): Column = VecKernels.f16Dot(halfBits, q)

  /** Storage-side encode for a declared datatype (identity for Float32). */
  def encode(dt: VectorDatatype, v: Column): Column = dt match {
    case Float32 => v
    case Float16 => toF16(v)
    case Uint8   => toU8(v)
  }

  /** Spark column type the encoded vector stores as. */
  def storageType(dt: VectorDatatype): org.apache.spark.sql.types.DataType = dt match {
    case Float32 => ArrayType(org.apache.spark.sql.types.FloatType)
    case Float16 => ArrayType(ShortType, containsNull = false)
    case Uint8   => ArrayType(ByteType, containsNull = false)
  }

  /** Read-out decode back to the user-visible `array<float>` (retrieval
    * APIs always return f32). */
  def decode(dt: VectorDatatype, stored: Column): Column = dt match {
    case Float32 => stored
    case Float16 => VecKernels.f16Decode(stored)
    // u8 values decode to THEMSELVES (`u8 as f32`, `slice_to_float_cow`) —
    // the unsigned reinterpretation of the stored bit pattern
    case Uint8   => transform(stored,
      x => x.cast("int").bitwiseAND(lit(255)).cast("float"))
  }

  /** [[decode]] of a stored dense or multivector column (each token
    * decoded); a Float32 column passes through untouched. */
  def decoded(dt: VectorDatatype, multivector: Boolean, stored: Column): Column =
    if (dt == Float32) stored
    else if (multivector) transform(stored, v => decode(dt, v))
    else decode(dt, stored)

  /** f16 score with a COLUMN query (used by the literal path and inside
    * MaxSim lambdas where the query token is a lambda variable). */
  def f16Score(metric: Metric, halfBits: Column, q: Column): Column = metric match {
    case Dot    => VecKernels.f16Dot(halfBits, q)
    case Cosine =>
      VecKernels.f16Dot(halfBits, q) /
        (sqrt(VecKernels.f16SelfDot(halfBits)) * sqrt(VecKernels.dot(q, q)))
    case Euclid    => sqrt(VecKernels.f16L2Sq(halfBits, q))
    case Manhattan => VecKernels.f16L1(halfBits, q)
  }

  /** MaxSim over a MULTIVECTOR stored in a reduced element width: the
    * reference's only multivector comparator (`types.rs:2080-2082`) with
    * `VectorDataConfig.datatype` applying to multivectors exactly as to
    * single vectors. The stored column is array<array<smallint|tinyint>>;
    * each token pair scores through the fused decode kernel inside the
    * HOF lambda — no decoded matrix is ever materialized. For Uint8 the
    * query tokens are encoded driver-side with the same codec, so Dot
    * MaxSim stays exact-integer (hash-exact oracles). */
  def maxSimExpr(
      dt: VectorDatatype, metric: Metric, stored: Column,
      queryVecs: Seq[Seq[Double]]): Column = dt match {
    case Float32 =>
      graft.functions.VectorFunctions.maxSim(metric, stored, queryVecs)
    case Float16 =>
      // inner max over the SIMILARITY orientation (Euclid −Σ(a−b)², no
      // sqrt; Manhattan −Σ|a−b|) — same contract as VectorFunctions.maxSim,
      // with the half decode fused into the one-loop kernel
      metric match {
        case Dot => VecKernels.maxSimLit(stored, queryVecs, 0, f16Stored = true)
        case Euclid => VecKernels.maxSimLit(stored, queryVecs, 1, f16Stored = true)
        case Manhattan => VecKernels.maxSimLit(stored, queryVecs, 2, f16Stored = true)
        case Cosine =>
          // the f16 cosine normalization keeps the explicit formulation
          aggregate(typedlit(queryVecs), lit(0.0d), (acc, qv) =>
            acc + array_max(transform(stored, sv => f16Score(metric, sv, qv))))
      }
    case Uint8 =>
      // per-token similarity over the u8-cast query tokens, larger-better
      // (Euclid −Σd², Manhattan −Σ|d|): exact BIGINT sums except Cosine,
      // which divides exact integers as [[scoreExpr]] does
      val sim: (Column, Column) => Column = metric match {
        case Dot       => VecKernels.u8Dot
        case Euclid    => (sv, qv) => -VecKernels.u8L2Sq(sv, qv)
        case Manhattan => (sv, qv) => -VecKernels.u8L1(sv, qv)
        case Cosine    => (sv, qv) =>
          VecKernels.u8Dot(sv, qv).cast("double") /
            (sqrt(VecKernels.u8Dot(sv, sv).cast("double")) *
              sqrt(VecKernels.u8Dot(qv, qv).cast("double")))
      }
      val zero = if (metric == Cosine) lit(0.0d) else lit(0L)
      aggregate(typedlit(queryVecs.map(encodeU8)), zero, (acc, qv) =>
        acc + array_max(transform(stored, sv => sim(sv, qv))))
  }

  /** Config-routed user-visible score of a stored vector against a literal
    * query, fused with the element-type decode. Semantics per datatype:
    *
    *  - Float32: the standard double-precision metric (Search.scoreExpr).
    *  - Float16: halves decode inline; scores are within 2⁻¹¹-per-element
    *    relative error of the f32 scores.
    *  - Uint8: the QUERY is encoded through the same u8 cast and scoring is
    *    exact integer arithmetic in the encoded domain (Dot/Manhattan are
    *    BIGINT; Euclid is sqrt of a BIGINT; Cosine divides exact integers) —
    *    bit-reproducible by any engine, so oracles hash-match. This mirrors
    *    the reference scoring u8 storage directly on stored bytes
    *    (`lib/segment/src/spaces/metric_uint/`).
    */
  def scoreExpr(dt: VectorDatatype, metric: Metric, stored: Column, query: Seq[Double]): Column =
    dt match {
      case Float32 =>
        graft.functions.VectorFunctions.score(metric, stored, typedlit(query))
      case Float16 => f16Score(metric, stored, typedlit(query))
      case Uint8 =>
        val qb = encodeU8(query)
        val q = typedlit(qb)
        metric match {
          case Dot    => VecKernels.u8Dot(stored, q)
          case Cosine =>
            // norms over the raw u8 values at score time (the reference's
            // byte cosine does NOT pre-normalize — `simple_cosine.rs`
            // preprocess is identity, `cosine_similarity_bytes` divides)
            val qNorm = math.sqrt(
              qb.map(b => (b & 0xFF).toDouble).map(x => x * x).sum)
            VecKernels.u8Dot(stored, q).cast("double") /
              (sqrt(VecKernels.u8Dot(stored, stored).cast("double")) * lit(qNorm))
          case Euclid    => sqrt(VecKernels.u8L2Sq(stored, q).cast("double"))
          case Manhattan => VecKernels.u8L1(stored, q)
        }
    }

  /** [[scoreExpr]] in the SIMILARITY orientation, larger-better for every
    * metric (`Metric::similarity`, what the custom queries combine):
    * Euclid −Σd² (no sqrt), Manhattan −Σ|d|. Float32 is
    * [[graft.functions.VectorFunctions.similarity]]; the narrow widths
    * reuse their fused kernels, Uint8 over the u8-cast query. */
  def simExpr(dt: VectorDatatype, metric: Metric, stored: Column, query: Seq[Double]): Column =
    (dt, metric) match {
      case (Float32, m) =>
        graft.functions.VectorFunctions.similarity(m, stored, typedlit(query))
      case (Float16, Euclid) => -VecKernels.f16L2Sq(stored, typedlit(query))
      case (Uint8, Euclid) => -VecKernels.u8L2Sq(stored, typedlit(encodeU8(query)))
      case (_, Manhattan) => -scoreExpr(dt, metric, stored, query)
      case _ => scoreExpr(dt, metric, stored, query)
    }
}
