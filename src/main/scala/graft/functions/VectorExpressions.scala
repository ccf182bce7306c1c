package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.types._

/** Codegen'd similarity kernels over `array<float|double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * allocates an intermediate array per row and interprets a lambda per
  * element; these expressions generate a tight scalar loop instead (the
  * Spark analog of the reference's SIMD kernels,
  * `lib/segment/src/spaces/simple_{avx,neon,sse}.rs`).
  *
  * Numeric parity contract: accumulate in double, strictly sequential
  * left-to-right — bit-identical to both the HOF formulation and DuckDB's
  * list_dot_product/list_distance, so swapping implementations never moves
  * a rounded score.
  */
abstract class VecBinaryFold extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  /** float/double arrays pass through untouched (the DataFrame hot path —
    * no cast node, no copy); anything else numeric (e.g. the
    * `array<decimal>` a SQL user's bare `array(0.1, ...)` literal parses
    * to under ANSI mode) gets an analyzer-inserted elementwise cast to
    * `array<float>` instead of a runtime ClassCastException. */
  override def inputTypes: Seq[GraftShim.AbsType] = {
    val vec = GraftShim.typeCollection(ArrayType(FloatType), ArrayType(DoubleType))
    Seq(vec, vec)
  }

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Java source for one step: acc += f(a, b) given double a, b. */
  protected def stepCode(acc: String, a: String, b: String): String
  protected def step(acc: Double, a: Double, b: Double): Double
  /** The step as a [[VecKernels.foldLit]] selector. */
  protected def kind: Int

  /** The right side as primitive doubles when it is a foldable literal (a
    * search's query vector), read with the same element accessor the
    * generated loop uses. */
  @transient private lazy val literalQuery: Option[Array[Double]] =
    VecKernels.literal(right).map { q =>
      val rf = elemIsFloat(right)
      Array.tabulate(q.numElements())(i => if (rf) q.getFloat(i).toDouble else q.getDouble(i))
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), ra.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val a = if (lf) la.getFloat(i).toDouble else la.getDouble(i)
      val b = if (rf) ra.getFloat(i).toDouble else ra.getDouble(i)
      acc = step(acc, a, b)
      i += 1
    }
    acc
  }

  /** A literal query calls the static [[VecKernels.foldLit]], which the JIT
    * compiles once for every request's generated class (a by-id request
    * inlines its excluded ids, so each one compiles a fresh class, whose
    * own loop would start out interpreted). Column against column keeps
    * the generated loop, measured faster there. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    literalQuery match {
      case Some(q) =>
        val ref = ctx.addReferenceObj("query", q, "double[]")
        val lf = elemIsFloat(left)
        nullSafeCodeGen(ctx, ev, (l, _) =>
          s"${ev.value} = graft.functions.VecKernels.foldLit($l, $lf, $ref, $kind);")
      case None => loopCode(ctx, ev)
    }

  private def loopCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val getL = if (elemIsFloat(left)) s"(double) $l.getFloat($i)" else s"$l.getDouble($i)"
      val getR = if (elemIsFloat(right)) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = $getL;
         |  double $b = $getR;
         |  ${stepCode(acc, a, b)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ */
case class VecDot(left: Expression, right: Expression) extends VecBinaryFold {
  protected def kind: Int = VecKernels.DotKind
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += $a * $b;"
  protected def step(acc: Double, a: Double, b: Double): Double = acc + a * b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryFold {
  protected def kind: Int = VecKernels.L2SqKind
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += ($a - $b) * ($a - $b);"
  protected def step(acc: Double, a: Double, b: Double): Double =
    acc + (a - b) * (a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ |aᵢ−bᵢ| */
case class VecL1(left: Expression, right: Expression) extends VecBinaryFold {
  protected def kind: Int = VecKernels.L1Kind
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += java.lang.Math.abs($a - $b);"
  protected def step(acc: Double, a: Double, b: Double): Double =
    acc + math.abs(a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** First-argmin nearest-centroid id over a broadcast-style centroid
  * matrix carried as a reference object — ONE expression whatever k is.
  * The unrolled alternative (an `array(...)` of k `VecL2Sq` children)
  * generates O(k) code and blows Janino's 64 KB method limit around a few
  * hundred centroids, silently falling back to interpretation exactly
  * where assignment cost matters most (measured in the r6 100× probe at
  * k=391). Arithmetic is the same sequential-double L2 as VecL2Sq with
  * first-min tie-breaking, so assignments are bit-identical to the
  * unrolled form and the DuckDB oracles are unaffected. */
case class CentroidArgmin(child: Expression, centroids: Seq[Seq[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = IntegerType

  @transient private lazy val mat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    VecKernels.argminL2(input.asInstanceOf[ArrayData], mat, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", mat, "double[][]")
    val isF = childIsFloat.toString
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecKernels.argminL2($c, $ref, $isF)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecKernels {
  private def expr(c: Column) = GraftShim.expression(c)

  /** Step selectors of the literal-query kernels: Σ a·b, Σ (a−b)², Σ |a−b|. */
  final val DotKind = 0
  final val L2SqKind = 1
  final val L1Kind = 2

  /** A fold's right side evaluated once when it is a non-null foldable
    * literal (a search's query vector), else None. */
  private[functions] def literal(e: Expression): Option[ArrayData] =
    if (!e.foldable) None else Option(e.eval().asInstanceOf[ArrayData])

  /** Literal-query kernel of [[VecBinaryFold]]: the same sequential double
    * fold over min(|v|, |q|) elements as the generated loop, so scores are
    * bit-identical. */
  def foldLit(v: ArrayData, isFloat: Boolean, q: Array[Double], kind: Int): Double = {
    val n = math.min(v.numElements(), q.length)
    var acc = 0.0
    var i = 0
    if (isFloat) kind match {
      case DotKind => while (i < n) { acc += v.getFloat(i).toDouble * q(i); i += 1 }
      case L2SqKind =>
        while (i < n) { val d = v.getFloat(i).toDouble - q(i); acc += d * d; i += 1 }
      case _ => while (i < n) { acc += math.abs(v.getFloat(i).toDouble - q(i)); i += 1 }
    } else kind match {
      case DotKind => while (i < n) { acc += v.getDouble(i) * q(i); i += 1 }
      case L2SqKind => while (i < n) { val d = v.getDouble(i) - q(i); acc += d * d; i += 1 }
      case _ => while (i < n) { acc += math.abs(v.getDouble(i) - q(i)); i += 1 }
    }
    acc
  }

  /** Kernel for [[CentroidArgmin]]: sequential-double L2 per centroid,
    * first index of the minimum (ties keep the earlier centroid, matching
    * `array_position(arr, array_min(arr)) - 1`). */
  def argminL2(vec: ArrayData, cents: Array[Array[Double]], isFloat: Boolean): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(vec.numElements(), cent.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val a = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val d = a - cent(i)
        acc += d * d
        i += 1
      }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** Kernel for [[MaxSimExpr]] — non-empty stored matrix only (the empty
    * case is NULL at the expression). Inner sims are sequential-double
    * folds identical to [[VecDot]]/[[VecL2Sq]]/[[VecL1]]; cosine divides
    * the dot by both norms exactly like the Column formulation. */
  def maxSimScore(stored: ArrayData, q: Array[Array[Double]], kind: Int,
      elemMode: Int): java.lang.Double = {
    // null/empty handling mirrors the HOF: `array_max` IGNORES null sims
    // (null inner rows are skipped) and an empty/all-null matrix yields
    // NULL for the whole expression.
    val rows = stored.numElements()
    var hasRow = false
    var ri = 0
    while (ri < rows && !hasRow) {
      if (!stored.isNullAt(ri)) hasRow = true
      ri += 1
    }
    if (!hasRow) return null
    var acc = 0.0
    var qi = 0
    while (qi < q.length) {
      val qv = q(qi)
      var best = Double.NegativeInfinity
      var si = 0
      while (si < rows) {
        if (stored.isNullAt(si)) { si += 1 }
        else {
        val sv = stored.getArray(si)
        val n = math.min(sv.numElements(), qv.length)
        def at(i: Int): Double = elemMode match {
          case 1 => sv.getFloat(i).toDouble
          case 2 => F16.toFloat(sv.getShort(i)).toDouble
          case _ => sv.getDouble(i)
        }
        var s = 0.0
        var i = 0
        kind match {
          case 0 => // dot
            while (i < n) { s += at(i) * qv(i); i += 1 }
          case 1 => // euclid similarity −Σ(a−b)²
            while (i < n) { val d = at(i) - qv(i); s -= d * d; i += 1 }
          case 2 => // manhattan similarity −Σ|a−b|
            while (i < n) { s -= math.abs(at(i) - qv(i)); i += 1 }
          case _ => // cosine: dot / (sqrt(Σa²)·sqrt(Σb²))
            var dot = 0.0; var na = 0.0; var nb = 0.0
            while (i < n) {
              val a = at(i); val b = qv(i)
              dot += a * b; na += a * a; nb += b * b; i += 1
            }
            s = dot / (math.sqrt(na) * math.sqrt(nb))
        }
        if (s > best) best = s
        si += 1
        }
      }
      acc += best
      qi += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def maxSimLit(stored: Column, query: Seq[Seq[Double]], kind: Int,
      f16Stored: Boolean = false): Column =
    GraftShim.column(MaxSimExpr(expr(stored), query, kind, f16Stored))

  def centroidArgmin(v: Column, centroids: Seq[Seq[Double]]): Column =
    GraftShim.column(CentroidArgmin(expr(v), centroids))
  def dot(a: Column, b: Column): Column =
    GraftShim.column(VecDot(expr(a), expr(b)))
  def l2sq(a: Column, b: Column): Column =
    GraftShim.column(VecL2Sq(expr(a), expr(b)))
  def l1(a: Column, b: Column): Column =
    GraftShim.column(VecL1(expr(a), expr(b)))
  def f16Encode(a: Column): Column =
    GraftShim.column(F16EncodeExpr(expr(a)))
  def f16Decode(halfBits: Column): Column =
    GraftShim.column(F16DecodeExpr(expr(halfBits)))
  def f16Dot(halfBits: Column, q: Column): Column =
    GraftShim.column(VecF16Dot(expr(halfBits), expr(q)))
  def f16L2Sq(halfBits: Column, q: Column): Column =
    GraftShim.column(VecF16L2Sq(expr(halfBits), expr(q)))
  def f16L1(halfBits: Column, q: Column): Column =
    GraftShim.column(VecF16L1(expr(halfBits), expr(q)))
  def f16SelfDot(halfBits: Column): Column =
    GraftShim.column(VecF16SelfDot(expr(halfBits)))
  def u8Dot(a: Column, b: Column): Column =
    GraftShim.column(VecU8Dot(expr(a), expr(b)))
  def u8L2Sq(a: Column, b: Column): Column =
    GraftShim.column(VecU8L2Sq(expr(a), expr(b)))
  def u8L1(a: Column, b: Column): Column =
    GraftShim.column(VecU8L1(expr(a), expr(b)))
}

/** IEEE-754 binary16 (half) conversion helpers. JDK 17 lacks
  * `Float.floatToFloat16` (added in 20), so the classic bit algorithm is
  * implemented here; `toHalf` rounds half-up at the dropped-bit boundary.
  * Top-level object → scalac emits static forwarders, so generated code can
  * call `graft.functions.F16.toFloat(...)` directly. */
object F16 {
  /** Round-to-nearest-EVEN, matching IEEE 754 default rounding and the
    * reference's `half` crate `f16::from_f32` exactly (ties pick the even
    * mantissa; values ≥ 65520 overflow to ±Inf, not max-finite). A
    * half-UP rounder diverges by one f16 ULP at every exact midpoint. */
  def toHalf(fval: Float): Short = {
    val fbits = java.lang.Float.floatToIntBits(fval)
    val sign = (fbits >>> 16) & 0x8000
    val abs = fbits & 0x7FFFFFFF
    if (abs >= 0x7F800000) { // Inf / NaN passthrough (quiet bit forced)
      if (abs > 0x7F800000)
        (sign | 0x7C00 | ((abs & 0x007FFFFF) >>> 13) | 0x0200).toShort
      else (sign | 0x7C00).toShort
    } else if (abs >= 0x477FF000) { // rounds (RNE) to >= 2^16 -> Inf
      (sign | 0x7C00).toShort
    } else if (abs >= 0x38800000) { // normalized half, nearest-even
      val v = abs + 0xFFF + ((abs >>> 13) & 1)
      (sign | ((v - 0x38000000) >>> 13)).toShort
    } else if (abs <= 0x33000000) { // underflows to ±0 (the 2^-25 tie incl.)
      sign.toShort
    } else { // subnormal half, nearest-even
      val e = abs >>> 23
      val shift = 126 - e
      val m = (abs & 0x7FFFFF) | 0x800000
      val dropped = m & ((1 << shift) - 1)
      val half = 1 << (shift - 1)
      var r = m >>> shift
      if (dropped > half || (dropped == half && (r & 1) == 1)) r += 1
      (sign | r).toShort
    }
  }

  def toFloat(h: Short): Float = {
    val hbits = h & 0xFFFF
    var mant = hbits & 0x03FF
    var exp = hbits & 0x7C00
    if (exp == 0x7C00) exp = 0x3FC00
    else if (exp != 0) exp += 0x1C000
    else if (mant != 0) {
      exp = 0x1C400
      while ({ mant <<= 1; (mant & 0x400) == 0 }) exp -= 0x400
      mant &= 0x3FF
    }
    java.lang.Float.intBitsToFloat(((hbits & 0x8000) << 16) | ((exp | mant) << 13))
  }
}

/** Fused MaxSim over a stored RAGGED matrix (array<array<float|double>>)
  * and a LITERAL query matrix: Σ_{q ∈ query} max_{s ∈ stored} sim(s, q),
  * sim in the similarity orientation (`score_max_similarity`,
  * `query_scorer/mod.rs:77-108`: Dot/Cosine as-is, Euclid −Σ(a−b)² no
  * sqrt, Manhattan −Σ|a−b|). One nested loop per row — the HOF
  * formulation (`aggregate` + `array_max` + `transform`) materializes a
  * sims array per query token per row, and MaxSim is the ColBERT
  * late-interaction hot path. Arithmetic and fold order are bit-identical
  * to the HOF (outer fold in query order, inner sequential-double sims),
  * so scores never move; an EMPTY stored matrix yields NULL in both
  * formulations. `kind`: 0=dot, 1=euclid-sim, 2=manhattan-sim, 3=cosine. */
case class MaxSimExpr(child: Expression, query: Seq[Seq[Double]], kind: Int,
    f16Stored: Boolean = false)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(kind >= 0 && kind <= 3, s"unknown maxsim kind $kind")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val mat: Array[Array[Double]] =
    query.map(_.toArray).toArray
  // elem mode: 0 = double, 1 = float, 2 = f16 half bits (smallint)
  private def elemMode: Int =
    if (f16Stored) 2
    else child.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => 1
      case _ => 0
    }
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.maxSimScore(v.asInstanceOf[ArrayData], mat, kind, elemMode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("maxsimQuery", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r =
         |  graft.functions.VecKernels.maxSimScore($c, $ref, $kind, $elemMode);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Fused int8-dequantize + fold over (array<int> codes, array<float|double>
  * query): the left element dequantizes as `c·Δ + min` inline — the fused
  * form of `transform(codes, c → c·Δ + min)` feeding [[VecDot]]/[[VecL2Sq]]/
  * [[VecL1]], without materializing the decoded array per row (the scalar-
  * quantization approx phase is the SCAN phase of two-phase search at
  * 100 TB, so its per-row cost dominates). Arithmetic and fold order are
  * bit-identical to the HOF formulation, so scores never move. `kind`:
  * "dot" | "l2sq" | "l1". */
case class VecDequantFold(left: Expression, right: Expression,
    delta: Double, minV: Double, kind: String)
  extends BinaryExpression with ImplicitCastInputTypes {
  require(Set("dot", "l2sq", "l1").contains(kind), s"unknown fold kind '$kind'")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def inputTypes: Seq[GraftShim.AbsType] = Seq(
    ArrayType(IntegerType),
    GraftShim.typeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  private def rIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), ra.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val a = la.getInt(i).toDouble * delta + minV
      val b = if (rIsFloat) ra.getFloat(i).toDouble else ra.getDouble(i)
      acc = kind match {
        case "dot" => acc + a * b
        case "l2sq" => acc + (a - b) * (a - b)
        case "l1" => acc + math.abs(a - b)
      }
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val getR = if (rIsFloat) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      val step = kind match {
        case "dot" => s"$acc += $a * $b;"
        case "l2sq" => s"$acc += ($a - $b) * ($a - $b);"
        case "l1" => s"$acc += java.lang.Math.abs($a - $b);"
      }
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = ((double) $l.getInt($i)) * ${delta}D + ${minV}D;
         |  double $b = $getR;
         |  $step
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** array<float|double> → array<smallint> of IEEE-754 half bits — the f16
  * storage element type (`VectorStorageDatatype::Float16`,
  * `lib/segment/src/types.rs:2039`, element types
  * `data_types/vectors.rs:253-257`). Halves vector scan bytes at 100 TB. */
case class F16EncodeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = F16.toHalf(if (elemIsFloat) a.getFloat(i) else a.getDouble(i).toFloat)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val tmp = ctx.freshName("tmp")
      val get = if (elemIsFloat) s"$c.getFloat($i)" else s"(float) $c.getDouble($i)"
      s"""
         |int $n = $c.numElements();
         |short[] $tmp = new short[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = graft.functions.F16.toHalf($get);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($tmp);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Fused half-decode + fold over (array<smallint> half bits,
  * array<float|double>) — scores f16-stored vectors without materializing a
  * decoded array per row. Left element decodes through [[F16.toFloat]]; the
  * per-element step is supplied by the metric subclass (same pattern as
  * [[VecBinaryFold]] for the f32 storage path). */
abstract class VecF16Fold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  private def rIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Java source for one step given double a (decoded half), b. */
  protected def stepCode(acc: String, a: String, b: String): String
  protected def step(acc: Double, a: Double, b: Double): Double

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), ra.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val b = if (rIsFloat) ra.getFloat(i).toDouble else ra.getDouble(i)
      acc = step(acc, F16.toFloat(la.getShort(i)).toDouble, b)
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val getR = if (rIsFloat) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = (double) graft.functions.F16.toFloat($l.getShort($i));
         |  double $b = $getR;
         |  ${stepCode(acc, a, b)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ half(aᵢ)·bᵢ */
case class VecF16Dot(left: Expression, right: Expression) extends VecF16Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += $a * $b;"
  protected def step(acc: Double, a: Double, b: Double): Double = acc + a * b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ (half(aᵢ)−bᵢ)² */
case class VecF16L2Sq(left: Expression, right: Expression) extends VecF16Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += ($a - $b) * ($a - $b);"
  protected def step(acc: Double, a: Double, b: Double): Double =
    acc + (a - b) * (a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ |half(aᵢ)−bᵢ| */
case class VecF16L1(left: Expression, right: Expression) extends VecF16Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += java.lang.Math.abs($a - $b);"
  protected def step(acc: Double, a: Double, b: Double): Double =
    acc + math.abs(a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ half(aᵢ)² — the stored-vector self dot (norm² for the cosine
  * denominator) over half bits; both operands decode from the SAME column so
  * a binary fold cannot express it without reading the array twice. */
case class VecF16SelfDot(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = F16.toFloat(a.getShort(i)).toDouble
      acc += x * x
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      s"""
         |int $n = $c.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) graft.functions.F16.toFloat($c.getShort($i));
         |  $acc += $x * $x;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** array<smallint> half bits → array<float> — the read-out decode for
  * retrieval APIs (users always see f32; storage width is internal). The
  * scoring path never uses this: kernels decode inline. */
case class F16DecodeExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = F16.toFloat(a.getShort(i)); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val tmp = ctx.freshName("tmp")
      s"""
         |int $n = $c.numElements();
         |float[] $tmp = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = graft.functions.F16.toFloat($c.getShort($i));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($tmp);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Exact-integer fold over two array<tinyint> columns holding u8 BIT
  * PATTERNS (the byte storage element type, `VectorStorageDatatype::Uint8`
  * `types.rs:2039`; elements read `& 0xFF`, so a stored 200 is 200, not
  * −56 — the reference's `VectorElementTypeByte` metrics,
  * `spaces/metric_uint/`): BIGINT accumulation — reproducible bit-for-bit
  * in any engine, so the DuckDB oracles hash-match these scores exactly. */
abstract class VecU8Fold extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  /** Java source for one step given long a, b. */
  protected def stepCode(acc: String, a: String, b: String): String
  protected def step(acc: Long, a: Long, b: Long): Long

  override def nullSafeEval(l: Any, r: Any): Any = {
    val la = l.asInstanceOf[ArrayData]
    val ra = r.asInstanceOf[ArrayData]
    val n = math.min(la.numElements(), ra.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = step(acc, la.getByte(i).toLong & 0xFFL, ra.getByte(i).toLong & 0xFFL)
      i += 1
    }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $a = (long) $l.getByte($i) & 0xFFL;
         |  long $b = (long) $r.getByte($i) & 0xFFL;
         |  ${stepCode(acc, a, b)}
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Unsigned (u8 bit-pattern) twins — the `datatype: uint8` storage scores
  * the RAW 0..255 values, matching the reference's byte metrics
  * (`lib/segment/src/spaces/metric_uint/`). */
case class VecU8Dot(left: Expression, right: Expression) extends VecU8Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += $a * $b;"
  protected def step(acc: Long, a: Long, b: Long): Long = acc + a * b
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class VecU8L2Sq(left: Expression, right: Expression) extends VecU8Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += ($a - $b) * ($a - $b);"
  protected def step(acc: Long, a: Long, b: Long): Long = acc + (a - b) * (a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

case class VecU8L1(left: Expression, right: Expression) extends VecU8Fold {
  protected def stepCode(acc: String, a: String, b: String): String =
    s"$acc += java.lang.Math.abs($a - $b);"
  protected def step(acc: Long, a: Long, b: Long): Long = acc + math.abs(a - b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Asymmetric binary-quantization score: the stored side is a packed
  * multi-bit binary encoding (`array<long>` of bit words, extended layout
  * per `BinaryQuantizationEncoding`), the query side `bits`-bit scalars
  * baked into per-position weights at plan time. Per extended position j
  * the contribution is `q_j` for a zero stored bit and `(2^bits−1)−q_j`
  * for a one — the per-element meaning of the reference's transposed
  * `xor_popcnt_scalar` (`encoded_vectors_binary.rs:213-265`); final score
  * `dim − 2·Σ/(2^bits−1)` (`calculate_metric` :766-811, Dot orientation).
  *
  * `weights(j) = (2^bits−1) − 2·q_j` and `totalQ = Σ q_j` are exact
  * integers in double, so accumulation order cannot move the result. One
  * fused loop replaces the 2·L-node when/element_at column chain. */
case class BinaryAsymScoreExpr(
    child: Expression,
    weights: Array[Double],
    totalQ: Double,
    maxLevel: Int,
    dim: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var acc = totalQ
    var j = 0
    val words = arr.numElements()
    val bound = math.min(weights.length, words * 64)
    while (j < bound) {
      if (((arr.getLong(j >> 6) >>> (j & 63)) & 1L) == 1L) acc += weights(j)
      j += 1
    }
    dim - 2.0 * (acc / maxLevel)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("asymWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val bound = ctx.freshName("bound")
      s"""
         |double $acc = $totalQ;
         |int $bound = java.lang.Math.min($w.length, $c.numElements() * 64);
         |for (int $j = 0; $j < $bound; $j++) {
         |  if ((($c.getLong($j >> 6) >>> ($j & 63)) & 1L) == 1L) {
         |    $acc += $w[$j];
         |  }
         |}
         |${ev.value} = $dim - 2.0 * ($acc / $maxLevel);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Sparse dot against a literal query: merge-intersect over the stored
  * SORTED indices (`SparseVector` invariant, `sparse_vector.rs:17-22`) —
  * O(|stored| + |query|) per row, the per-row analog of the reference's
  * posting-list intersection (`lib/sparse/src/index/search_context.rs`).
  * Replaces the O(|q|·|stored|) array_position formulation. Contributions
  * accumulate in ascending dim order, matching both the previous
  * formulation and the DuckDB oracles exactly (skipped dims added 0.0).
  *
  * Query indices are LONG: the reference's dim space is the full u32
  * (`SparseVector.indices: Vec<u32>`), which Int cannot carry — values
  * above 2^31−1 are routine (hash-derived token ids,
  * `test_sparse_vector_large.py`). Stored arrays may be `array<bigint>`
  * (the canonical storage written by the wire bridge) or a legacy
  * `array<int>` from a directly-seeded table — the kernel adapts per
  * column type, promoting stored ints to long for the comparison. */
case class SparseDotExpr(
    left: Expression,  // indices: array<bigint> (or legacy array<int>)
    right: Expression, // values: array<float|double>
    qIdx: Array[Long],
    qVal: Array[Double]) extends BinaryExpression {
  require(qIdx.length == qVal.length, "query indices/values length mismatch")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def valIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def idxIsInt: Boolean = left.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val idx = l.asInstanceOf[ArrayData]
    val vals = r.asInstanceOf[ArrayData]
    val n = math.min(idx.numElements(), vals.numElements())
    var acc = 0.0
    var i = 0
    var j = 0
    while (i < n && j < qIdx.length) {
      val d = if (idxIsInt) idx.getInt(i).toLong else idx.getLong(i)
      val qd = qIdx(j)
      if (d == qd) {
        val v = if (valIsFloat) vals.getFloat(i).toDouble else vals.getDouble(i)
        acc += v * qVal(j)
        i += 1; j += 1
      } else if (d < qd) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qi = ctx.addReferenceObj("sparseQIdx", qIdx, "long[]")
    val qv = ctx.addReferenceObj("sparseQVal", qVal, "double[]")
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val getD =
        if (idxIsInt) s"(long) $l.getInt($i)" else s"$l.getLong($i)"
      val getV = if (valIsFloat) s"(double) $r.getFloat($i)" else s"$r.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $acc = 0.0;
         |int $i = 0; int $j = 0;
         |while ($i < $n && $j < $qi.length) {
         |  long $d = $getD;
         |  if ($d == $qi[$j]) {
         |    $acc += $getV * $qv[$j];
         |    $i++; $j++;
         |  } else if ($d < $qi[$j]) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Multi-bit binary-quantization ENCODER: one fused loop packs a float
  * vector into the extended bit layout (`encode_one_bit_vector` /
  * `encode_two_bits_vector` / `encode_one_and_half_bits_vector`,
  * `encoded_vectors_binary.rs:558-622`) — the ingest-time transform. The
  * per-element thresholds are the z-score bands of `encode_two_bits_value`
  * (σ̂ = 2/3; sd < 1e-7 degrades to sign-bit + 0), with per-element
  * mean/std baked in as reference objects. Replaces a 2·dim-node
  * when-chain whose generated code exceeded the JIT huge-method limit
  * when fused into a scoring stage. 1.5-bit pairs OR-union naturally via
  * repeated `|=` on the shared target bit. */
case class BinaryEncodeExpr(
    child: Expression,
    mean: Array[Double],
    std: Array[Double],
    encoding: String, // one_bit | two_bits | one_and_half_bits
    dim: Int) extends UnaryExpression {
  require(Set("one_bit", "two_bits", "one_and_half_bits").contains(encoding),
    s"unknown binary encoding '$encoding'")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def extendedBits: Int = encoding match {
    case "one_bit" => dim
    case "two_bits" => 2 * dim
    case _ => dim + (dim + 1) / 2
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val words = new Array[Long]((extendedBits + 63) / 64)
    var i = 0
    while (i < n) {
      val x = if (elemIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      var b1 = false
      var b2 = false
      if (encoding == "one_bit") b1 = x > 0.0
      else {
        val sd = std(i)
        if (sd < 1e-7) b1 = x > 0.0
        else {
          val z = (x - mean(i)) / sd
          b1 = z > -(2.0 / 3.0)
          b2 = z >= 2.0 / 3.0
        }
      }
      if (b1) words(i >> 6) |= 1L << (i & 63)
      if (b2) {
        val j = if (encoding == "two_bits") dim + i else dim + i / 2
        words(j >> 6) |= 1L << (j & 63)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("binEncMean", mean, "double[]")
    val sdArr = ctx.addReferenceObj("binEncStd", std, "double[]")
    val oneBit = encoding == "one_bit"
    val twoBits = encoding == "two_bits"
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val words = ctx.freshName("words")
      val x = ctx.freshName("x")
      val b1 = ctx.freshName("b1")
      val b2 = ctx.freshName("b2")
      val j = ctx.freshName("j")
      val sd = ctx.freshName("sd")
      val z = ctx.freshName("z")
      val getX = if (elemIsFloat) s"(double) $c.getFloat($i)" else s"$c.getDouble($i)"
      val bitLogic =
        if (oneBit) s"$b1 = $x > 0.0;"
        else
          s"""
             |double $sd = $sdArr[$i];
             |if ($sd < 1e-7) { $b1 = $x > 0.0; }
             |else {
             |  double $z = ($x - $m[$i]) / $sd;
             |  $b1 = $z > -(2.0 / 3.0);
             |  $b2 = $z >= 2.0 / 3.0;
             |}
           """.stripMargin
      val b2Target = if (twoBits) s"$dim + $i" else s"$dim + $i / 2"
      s"""
         |int $n = java.lang.Math.min($dim, $c.numElements());
         |long[] $words = new long[${(extendedBits + 63) / 64}];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $getX;
         |  boolean $b1 = false;
         |  boolean $b2 = false;
         |  $bitLogic
         |  if ($b1) { $words[$i >> 6] |= 1L << ($i & 63); }
         |  if ($b2) { int $j = $b2Target; $words[$j >> 6] |= 1L << ($j & 63); }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($words);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
