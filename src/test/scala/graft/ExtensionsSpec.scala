package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions, VecDot}

/** SQL function-registry surface: the custom kernels must be reachable from
  * `spark.sql` both via `SparkSessionExtensions` (new-session wiring) and
  * `GraftFunctions.register` (live session), and must agree bit-for-bit
  * with the Column-API route through the same expressions. */
class ExtensionsSpec extends SparkTestBase {

  private lazy val ext: SparkSession = {
    // SparkTestBase builds the shared session through GraftSession, which
    // injects `new GraftExtensions` — the spark.sql.extensions deployment
    // path. newSession() rebuilds SessionState from the SAME
    // extensions object, so the fresh registry below contains the graft_*
    // functions ONLY if GraftExtensions.apply actually injected them:
    // no GraftFunctions.register call anywhere in this suite.
    val s = SparkTestBase.session.newSession()
    assert(s.catalog.functionExists("graft_dot"),
      "GraftExtensions injection did not reach the new session's registry")
    s
  }

  test("live-session registration route also resolves (GraftFunctions.register)") {
    // the post-hoc route for an already-running session without extensions
    val live = SparkTestBase.session.newSession()
    GraftFunctions.register(live)
    import live.implicits._
    Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "v").createOrReplaceTempView("t_live")
    assert(live.sql("SELECT graft_dot(v, array(1.0D, 1.0D)) AS s FROM t_live")
      .head().getDouble(0) == 3.0)
  }

  test("graft_dot via SQL matches the Column API kernel") {
    import ext.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(-1.0f, 0.5f, 2.0f))).toDF("id", "v")
    df.createOrReplaceTempView("t_ext")
    val sql = ext.sql(
      "SELECT id, graft_dot(v, array(2.0D, 1.0D, 0.5D)) AS s FROM t_ext ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    import org.apache.spark.sql.GraftShim
    val api = df.select(col("id"),
        GraftShim.column(VecDot(
          GraftShim.expression(col("v")),
          GraftShim.expression(typedLit(Seq(2.0, 1.0, 0.5))))).as("s"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sql == api)
    assert(sql == Seq((1L, 2.0 + 2.0 + 1.5), (2L, -2.0 + 0.5 + 1.0)))
  }

  test("bare decimal SQL literals coerce instead of ClassCastException") {
    // ANSI mode parses `array(0.1, ...)` as array<decimal>; the kernels
    // declare ImplicitCastInputTypes so the analyzer inserts the cast —
    // the exact form a SQL user writes first (r8 bench regression).
    import ext.implicits._
    Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
      .createOrReplaceTempView("t_ext_dec")
    val r = ext.sql(
      """SELECT graft_dot(v, array(2.0, 1.0, 0.5)) AS d,
        |       graft_l2sq(v, array(1.0, 2.0, 3.0)) AS l2,
        |       graft_l1(array(1.5, 0.5), array(1.0, 1.0)) AS l1,
        |       graft_geohash(13.361389, 38.115556, 6) AS gh,
        |       graft_slice_index(7, 8) AS sl
        |FROM t_ext_dec""".stripMargin).head()
    assert(r.getDouble(0) == 2.0 + 2.0 + 1.5)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == 1.0)
    assert(r.getString(3) == "sqc8b4")
    assert(r.getLong(4) == graft.functions.SipHash24.sliceIndex(7L, 8))
  }

  test("constant-argument kernels resolve and check literals") {
    import ext.implicits._
    Seq((7L, "a b c d")).toDF("id", "txt").createOrReplaceTempView("t_ext2")
    val row = ext.sql(
      """SELECT graft_slice_index(id, 8) AS sl,
        |       graft_simhash64(split(txt, ' ')) AS sh,
        |       size(graft_shingle_hashes(split(txt, ' '), 2)) AS ns,
        |       size(graft_minhash_bands(graft_shingle_hashes(split(txt, ' '), 2), 4, 2)) AS nb,
        |       graft_geohash(13.361389D, 38.115556D, 6) AS gh
        |FROM t_ext2""".stripMargin).head()
    assert(row.getLong(0) == graft.functions.SipHash24.sliceIndex(7L, 8))
    assert(row.getInt(2) == 3) // 3 bigram shingles of 4 tokens
    assert(row.getInt(3) == 4) // one key per band
    assert(row.getString(4) == "sqc8b4") // Palermo, the classic geohash example
    // non-literal constant argument is rejected, not silently mis-planned
    val err = intercept[Exception] {
      ext.sql("SELECT graft_slice_index(id, id) FROM t_ext2").collect()
    }
    assert(err.getMessage.contains("integer literal")
      || err.getCause != null && err.getCause.getMessage.contains("integer literal"))
  }
}
