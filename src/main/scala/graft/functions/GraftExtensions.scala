package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Session-extension registration for the engine's custom Catalyst kernels
  * (`SparkSessionExtensions.injectFunction`): makes every codegen'd graft
  * expression callable from plain `spark.sql(...)` — a SQL user gets the
  * same tight-loop kernels the DataFrame API routes through
  * ([[VectorExpressions]], [[TextKernels]], [[SipHash24]]).
  *
  * Deploy-time wiring (new sessions):
  * {{{
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *   // or: graft.GraftSession.local(), which injects it
  * }}}
  * For an existing session, [[GraftFunctions.register]] installs the same
  * builders into the live FunctionRegistry.
  *
  * All functions are thin builders over existing expressions — no semantics
  * live here; constant arguments (k, bands, total, …) must be literals, as
  * the underlying kernels bake them into generated code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.registrations.foreach(ext.injectFunction)
}

object GraftFunctions {

  type Registration =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def reg(name: String, usage: String)(
      builder: Seq[Expression] => Expression): Registration =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name, usage),
      builder)

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")

  /** The SQL-visible kernel surface. Names are `graft_`-prefixed to stay
    * clear of Spark built-ins. */
  val registrations: Seq[Registration] = Seq(
    reg("graft_dot", "graft_dot(a, b) - sequential-fold dot product over float/double arrays") { a =>
      arity("graft_dot", 2, a); VecDot(a(0), a(1))
    },
    reg("graft_l2sq", "graft_l2sq(a, b) - squared euclidean distance") { a =>
      arity("graft_l2sq", 2, a); VecL2Sq(a(0), a(1))
    },
    reg("graft_l1", "graft_l1(a, b) - manhattan distance") { a =>
      arity("graft_l1", 2, a); VecL1(a(0), a(1))
    },
    reg("graft_slice_index", "graft_slice_index(id, total) - SipHash-2-4 slice bucket of a point id (Slice filter, types.rs:3871)") { a =>
      arity("graft_slice_index", 2, a)
      SliceIndexExpr(a(0), intLit(a(1), "total"))
    },
    reg("graft_simhash64", "graft_simhash64(tokens) - 64-bit SimHash of a token array") { a =>
      arity("graft_simhash64", 1, a); SimHash64Expr(a(0))
    },
    reg("graft_shingle_hashes", "graft_shingle_hashes(tokens, k) - distinct xxhash64 k-gram shingle hashes") { a =>
      arity("graft_shingle_hashes", 2, a)
      ShingleHashSetExpr(a(0), intLit(a(1), "k"))
    },
    reg("graft_minhash_bands", "graft_minhash_bands(shingle_hashes, bands, rows_per_band) - LSH band keys") { a =>
      arity("graft_minhash_bands", 3, a)
      MinHashBandKeysExpr(a(0), intLit(a(1), "bands"), intLit(a(2), "rows_per_band"))
    },
    reg("graft_repetition_stats", "graft_repetition_stats(tokens, max_n) - Gopher duplicate/top n-gram fractions") { a =>
      arity("graft_repetition_stats", 2, a)
      RepetitionStatsExpr(a(0), intLit(a(1), "max_n"))
    },
    reg("graft_geohash", "graft_geohash(lon, lat, precision) - geohash cell string") { a =>
      arity("graft_geohash", 3, a)
      GeohashExpr(a(0), a(1), intLit(a(2), "precision"))
    },
  )

  /** Install into a live session's FunctionRegistry (same builders the
    * extension injects at session build). Idempotent. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
