package graft

import org.apache.spark.sql.{GraftShim, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{F16, VecDot, VecF16Dot, VecF16L1, VecF16L2Sq, VecL1, VecL2Sq, VecU8Dot, VecU8L1, VecU8L2Sq}
import graft.model.Dot

/** The three ways a fold is computed — over a literal query (the static
  * kernel for the dense folds), the generated column-against-column loop
  * and interpreted `eval` — return the same bits, so a plan's choice
  * between them never moves a score. */
class KernelParitySpec extends SparkTestBase {

  private val folds: Seq[(String, (Expression, Expression) => Expression)] = Seq(
    "dot" -> ((l, r) => VecDot(l, r)),
    "l2sq" -> ((l, r) => VecL2Sq(l, r)),
    "l1" -> ((l, r) => VecL1(l, r)))

  private val rnd = new scala.util.Random(11)
  // lengths around the query's 7 (the min-length rule) plus empty and null
  private val stored: Seq[Option[Seq[Double]]] =
    (0 to 12).map(n => Some(Seq.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))) :+
      None
  private val query: Seq[Double] = Seq.fill(7)(rnd.nextGaussian() * 3.7)

  private def elems(t: DataType, v: Seq[Double]): Seq[Any] = t match {
    case FloatType => v.map(_.toFloat)
    case ShortType => v.map(x => F16.toHalf(x.toFloat)) // f16 half bits
    case ByteType => v.map(x => (x * 40).toInt.toByte) // u8 bit patterns
    case _ => v
  }

  private def bits(x: Any): Option[Long] = Option(x).map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case l: Long => l
  }

  /** One fold over every stored vector three ways: the literal query in
    * generated code (through `kernel` when given), the generated loop over a
    * query column, and interpreted `eval`. */
  private def parity(mk: (Expression, Expression) => Expression, vt: DataType,
      qt: DataType, kernel: Option[String]): Unit = {
    val (vType, qType) = (ArrayType(vt, containsNull = false), ArrayType(qt, containsNull = false))
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("v", vType), StructField("q", qType)))
    val qv = elems(qt, query)
    val rows = stored.zipWithIndex.map { case (v, i) => Row(i, v.map(elems(vt, _)).orNull, qv) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val qLit = Literal.create(qv, qType)
    def fold(q: Expression) = GraftShim.column(mk(GraftShim.expression(col("v")), q))
    val out = df.select(col("i"), fold(qLit).as("lit"), fold(GraftShim.expression(col("q"))).as("loop"))
    for (k <- kernel) assert(codegenString(out.queryExecution.executedPlan)
      .contains(s"graft.functions.VecKernels.$k("), s"a literal query must score in $k")
    val got = out.collect().map(r => r.getInt(0) -> (bits(r.get(1)), bits(r.get(2)))).toMap
    for ((v, i) <- stored.zipWithIndex) {
      val arr = v.map(x => ArrayData.toArrayData(elems(vt, x).toArray)).orNull
      val interpreted = bits(mk(BoundReference(0, vType, nullable = true), qLit).eval(InternalRow(arr)))
      val (lit, loop) = got(i)
      assert(lit == loop && loop == interpreted,
        s"row $i (${v.map(_.size)} elems): literal $lit, loop $loop, eval $interpreted")
      assert(interpreted.isEmpty == v.isEmpty, s"row $i: null iff the vector is null")
    }
  }

  for ((name, mk) <- folds; (vt, qt) <- Seq(
      (FloatType, FloatType), (DoubleType, DoubleType), (FloatType, DoubleType))) {
    test(s"$name over $vt stored and a $qt query: literal kernel, column loop and eval agree") {
      parity(mk, vt, qt, Some("foldLit"))
    }
  }

  test("f16 and u8 folds: literal query, column loop and eval agree") {
    for ((mk, qt) <- Seq[((Expression, Expression) => Expression, DataType)](
        ((l, r) => VecF16Dot(l, r), FloatType), ((l, r) => VecF16L2Sq(l, r), DoubleType),
        ((l, r) => VecF16L1(l, r), FloatType))) {
      parity(mk, ShortType, qt, None)
    }
    for (mk <- Seq[(Expression, Expression) => Expression](
        (l, r) => VecU8Dot(l, r), (l, r) => VecU8L2Sq(l, r), (l, r) => VecU8L1(l, r))) {
      parity(mk, ByteType, ByteType, None)
    }
  }

  test("a nearest search by literal vector scores through VecKernels; a batch keeps the loop") {
    import spark.implicits._
    val pts = spark.sparkContext.parallelize((1 to 40).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat())))).toDF("id", "v")
    val single = graft.ops.Search.knn(pts, "id", "v", Seq(0.1, 0.2, 0.3, 0.4), Dot, k = 3)
    assert(codegenString(single.queryExecution.executedPlan)
      .contains("graft.functions.VecKernels.foldLit("))
    val batch = pts.crossJoin(Seq((0, Seq(0.1f, 0.2f, 0.3f, 0.4f))).toDF("req", "qv"))
      .select(graft.functions.VectorFunctions.score(Dot, col("v"), col("qv")).as("s"))
    assert(!codegenString(batch.queryExecution.executedPlan).contains("VecKernels.foldLit("),
      "column against column keeps the generated loop")
  }
}
