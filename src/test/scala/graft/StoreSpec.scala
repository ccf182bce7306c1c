package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.sources.{CollectionConfig, VectorConfig}
import graft.storage.Collection

/** Collection mutation semantics (upsert / delete / payload ops) and
  * streaming ingestion — the model-based-testing pattern of the reference
  * (`lib/collection/src/model_testing/`) in miniature. */
class StoreSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_coll").resolve("points").toString

  private val cfg = CollectionConfig(
    idCol = "id", payloadCol = "payload",
    vectors = Seq(VectorConfig("", 4, Dot)),
    payloadTypes = Map("city" -> StringType, "price" -> DoubleType))

  private def mk(path: String) = {
    import spark.implicits._
    Collection.create(spark, path, cfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin","price":10.0}"""),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"London","price":11.0}"""),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"Moscow","price":9.0}"""),
    ).toDF("id", "vector", "payload"))
  }

  test("upsert replaces by id and inserts new points") {
    import spark.implicits._
    val c = mk(tmpDir())
    c.upsert(Seq(
      (2L, Seq(9f, 9f, 9f, 9f), """{"city":"Paris"}"""),
      (4L, Seq(0f, 0f, 0f, 1f), """{"city":"Rome"}"""),
    ).toDF("id", "vector", "payload"))
    val got = c.read().orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got(1).getString(2).contains("Paris"))
  }

  test("conditional upsert only replaces matching points, inserts new") {
    import spark.implicits._
    val c = mk(tmpDir())
    c.upsertConditional(
      Seq(
        (1L, Seq(5f, 5f, 5f, 5f), """{"city":"Hamburg"}"""), // matches filter
        (2L, Seq(6f, 6f, 6f, 6f), """{"city":"Oslo"}"""), // does NOT match
        (9L, Seq(7f, 7f, 7f, 7f), """{"city":"New"}"""), // new id → insert
      ).toDF("id", "vector", "payload"),
      Filter.mustAll(MatchValue("city", "Berlin")))
    val got = c.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L).contains("Hamburg"))
    assert(got(2L).contains("London")) // untouched
    assert(got(9L).contains("New"))
  }

  test("delete by ids and by filter") {
    val c = mk(tmpDir())
    c.deleteByIds(Seq(2L))
    assert(c.read().count() == 2)
    c.deleteByFilter(Filter.mustAll(RangeCond("price", lt = Some(10.0))))
    assert(c.read().select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("payload set / delete keys / overwrite / clear") {
    val c = mk(tmpDir())
    c.setPayload("""{"price":99.0,"new_key":"x"}""", col("id") === 1L)
    val p1 = c.read().filter(col("id") === 1L).select("payload").head.getString(0)
    assert(p1.contains("99.0") && p1.contains("new_key") && p1.contains("Berlin"))

    c.deletePayloadKeys(Seq("city"), col("id") === 1L)
    val p2 = c.read().filter(col("id") === 1L).select("payload").head.getString(0)
    assert(!p2.contains("Berlin") && p2.contains("new_key"))

    c.overwritePayload("""{"only":"this"}""", col("id") === 2L)
    val p3 = c.read().filter(col("id") === 2L).select("payload").head.getString(0)
    assert(p3 == """{"only":"this"}""")

    c.clearPayload(col("id") === 3L)
    assert(c.read().filter(col("id") === 3L).select("payload").head.isNullAt(0))
  }

  test("set_payload preserves nested/array/number value types (r9 corruption repro)") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", payloadCol = "payload"),
      Seq((1L, """{"a":{"b":1},"c":2,"tags":["x","y"]}"""))
        .toDF("id", "payload"))
    // ANY set_payload touching the row must keep non-string values typed
    c.setPayload("""{"flag":"hot"}""", col("id") === 1L)
    val p = c.read().select("payload").head.getString(0)
    // nested object survives as an object, not a quoted string
    assert(c.read().select(get_json_object(col("payload"), "$.a.b")).head.getString(0) == "1", p)
    assert(c.read().select(get_json_object(col("payload"), "$.c")).head.getString(0) == "2", p)
    assert(c.read().select(get_json_object(col("payload"), "$.tags[1]")).head.getString(0) == "y", p)
    assert(!p.contains("\\\""), s"stringified nested JSON leaked: $p")
    // array-valued Match still matches after the mutation
    val pred = new graft.filters.FilterCompiler(c.resolver(c.read()))
      .compile(Filter.mustAll(MatchValue("tags", "x")))
    assert(c.read().filter(pred).count() == 1)
    // a patch whose value is an object must not delete an unrelated
    // top-level key sharing a NESTED key name (r9 topKeys over-match)
    c.setPayload("""{"z":{"c":9}}""", col("id") === 1L)
    assert(c.read().select(get_json_object(col("payload"), "$.c")).head.getString(0) == "2")
    assert(c.read().select(get_json_object(col("payload"), "$.z.c")).head.getString(0) == "9")
    // merge_map: explicit null in the patch DELETES the key
    c.setPayload("""{"flag":null}""", col("id") === 1L)
    assert(c.read().select(get_json_object(col("payload"), "$.flag")).head.isNullAt(0))
    // nested delete: full JsonPath keys
    c.deletePayloadKeys(Seq("a.b", "tags[]"), col("id") === 1L)
    assert(c.read().select(get_json_object(col("payload"), "$.a.b")).head.isNullAt(0))
    assert(c.read().select(get_json_object(col("payload"), "$.a")).head.getString(0) == "{}")
    assert(c.read().select(get_json_object(col("payload"), "$.tags")).head.getString(0) == "[]")
  }

  test("set_payload key path: reference test_payload_operations.py sequence") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", payloadCol = "payload"),
      Seq(
        (1L, """{"key6":{"subkey":"xxx","arraykey":[{"a1":{"a1k":"xxx"}},{"a2":{"a2k":"xxx"}}],"subkey2":{"subkey3":"xxx"}}}"""),
        (9L, "{}")).toDF("id", "payload"))
    def g(id: Long, path: String): String = {
      val r = c.read().filter(col("id") === id)
        .select(get_json_object(col("payload"), path)).head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    // top-level key target
    c.setPayload("""{"subkey":"yyy"}""", col("id") === 1L, Some("key6"))
    assert(g(1L, "$.key6.subkey") == "yyy")
    // nested key target
    c.setPayload("""{"subkey3":"yyy"}""", col("id") === 1L, Some("key6.subkey2"))
    assert(g(1L, "$.key6.subkey2.subkey3") == "yyy")
    // array index target
    c.setPayload("""{"a1k":"yyy"}""", col("id") === 1L, Some("key6.arraykey[0].a1"))
    assert(g(1L, "$.key6.arraykey[0].a1.a1k") == "yyy")
    assert(g(1L, "$.key6.arraykey[1].a2.a2k") == "xxx")
    // wildcard array target
    c.setPayload("""{"a2k":"yyy"}""", col("id") === 1L, Some("key6.arraykey[].a2"))
    assert(g(1L, "$.key6.arraykey[1].a2.a2k") == "yyy")
    // non-existent key path creates intermediate objects
    c.setPayload("""{"key":"xxx"}""", col("id") === 1L, Some("key6.subkey7"))
    assert(g(1L, "$.key6.subkey7.key") == "xxx")
    // idempotence: same key-path set twice yields the same payload
    c.setPayload("""{"key":"xxx"}""", col("id") === 9L, Some("key"))
    val once = c.read().filter(col("id") === 9L).select("payload").head.getString(0)
    c.setPayload("""{"key":"xxx"}""", col("id") === 9L, Some("key"))
    val twice = c.read().filter(col("id") === 9L).select("payload").head.getString(0)
    assert(once == twice && g(9L, "$.key.key") == "xxx")
  }

  test("update and delete named vector") {
    val c = mk(tmpDir())
    c.updateVector("", typedLit(Seq(7f, 7f, 7f, 7f)), col("id") === 1L)
    assert(c.read().filter(col("id") === 1L)
      .select("vector").head.getSeq[Float](0).toSeq == Seq(7f, 7f, 7f, 7f))
    c.deleteVector("", col("id") === 1L)
    assert(c.read().filter(col("id") === 1L).select("vector").head.isNullAt(0))
    // HasVector filter now excludes point 1
    val r = c.resolver(c.read())
    val pred = new graft.filters.FilterCompiler(r)
      .compile(Filter.mustAll(HasVector("")))
    assert(c.read().filter(pred).count() == 2)
  }

  test("vector column add/drop and payload index materialization") {
    import org.apache.spark.sql.functions._
    val c = mk(tmpDir())
    // dimension cap at the API boundary (`test_named_vector_crud.py:
    // 115-137` — size 0 and 65537 both 422 before storage is touched)
    for (bad <- Seq(0, 65537))
      assert(intercept[IllegalArgumentException](
        c.addVectorColumn("zz", bad)).getMessage.contains("size"))
    c.addVectorColumn("aux", 4)
    assert(c.read().columns.contains("vector_aux"))
    assert(c.read().filter(col("vector_aux").isNotNull).count() == 0)
    c.dropVectorColumn("aux")
    assert(!c.read().columns.contains("vector_aux"))

    c.buildPayloadIndex("price")
    val indexed = c.read()
    assert(indexed.schema("idx_price").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // typed-column filter over the index column pushes to the scan
    val r = new graft.filters.TypedResolver(indexed.schema, "id")
    val pred = new graft.filters.FilterCompiler(r).compile(
      graft.model.Filter.mustAll(graft.model.RangeCond("idx_price", gte = Some(10.0))))
    val plan = indexed.filter(pred).select("id").queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(idx_price,10.0)"), plan)
    assert(indexed.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
    c.dropPayloadIndex("price")
    assert(!c.read().columns.contains("idx_price"))
  }

  test("declared element types: upsert encodes, knn routes fused kernels, read decodes") {
    import spark.implicits._
    val dcfg = CollectionConfig(
      idCol = "id",
      vectors = Seq(
        VectorConfig("half", 4, Dot, datatype = Float16),
        VectorConfig("byte", 4, Euclid, datatype = Uint8)))
    val raw = Seq(
      (1L, Seq(0.5f, -0.25f, 0.125f, 1.0f)),
      (2L, Seq(0.1f, 0.2f, 0.3f, 0.4f)),
      (3L, Seq(-1.0f, 0.7f, 0.0f, 0.33f)))
    // u8 stores RAW byte-range values (`x as u8` — truncate toward zero,
    // saturate 0..255, `primitive.rs:126-129`); exercise the saturation
    // and truncation arms explicitly
    val rawB = Seq(
      (1L, Seq(10.9f, 0.2f, 300.0f, 5.5f)),
      (2L, Seq(0.0f, 255.0f, 127.6f, 128.4f)),
      (3L, Seq(-4.0f, 1.0f, 63.99f, 200.2f)))
    val c = Collection.create(spark, tmpDir(), dcfg,
      raw.zip(rawB).map { case ((i, v), (_, b)) => (i, v, b) }
        .toDF("id", "vector_half", "vector_byte"))

    // 1. stored schema is the narrow element type (2x / 4x fewer scan bytes)
    assert(c.read().schema("vector_half").dataType
      .asInstanceOf[ArrayType].elementType == ShortType)
    assert(c.read().schema("vector_byte").dataType
      .asInstanceOf[ArrayType].elementType == ByteType)

    // 2. upsert of f32 points through the same config path stays narrow
    val v4 = Seq(0.9f, -0.9f, 0.45f, 0.0f)
    val b4 = Seq(90.9f, 0.4f, 45.5f, 256.0f)
    c.upsert(Seq((4L, v4, b4)).toDF("id", "vector_half", "vector_byte"))
    assert(c.read().count() == 4)
    assert(c.read().schema("vector_half").dataType
      .asInstanceOf[ArrayType].elementType == ShortType)

    // 3. u8 knn scores == exact integer Euclid over the raw u8 values
    //    (`x as u8` both sides), computed independently here
    val allB = rawB :+ (4L -> b4)
    val queryB = Seq(12.7, 200.0, 80.5, 3.0)
    def u8(x: Double): Long =
      if (x.isNaN || x <= 0) 0L else math.min(255.0, math.floor(x)).toLong
    val qb = queryB.map(u8)
    val expected = allB.map { case (i, v) =>
      val pb = v.map(x => u8(x.toDouble))
      val ss = pb.zip(qb).map { case (a, b) => val d = a - b; d * d }.sum
      (i, BigDecimal(math.sqrt(ss.toDouble)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (i, s) => (s, i) }
    val gotU8 = c.knn("byte", queryB, k = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotU8 == expected, s"$gotU8 vs $expected")

    // 4. f16 knn: same ids as f32 dot scoring, scores within the 2^-11 bound
    val all = raw :+ (4L -> v4)
    val query = Seq(0.4, 0.1, 0.2, 0.5)
    val f32 = all.map { case (i, v) =>
      (i, v.map(_.toDouble).zip(query).map { case (a, b) => a * b }.sum)
    }.sortBy { case (i, s) => (-s, i) }
    val gotF16 = c.knn("half", query, k = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotF16.map(_._1) == f32.map(_._1))
    gotF16.zip(f32).foreach { case ((_, sh), (_, sf)) =>
      assert(math.abs(sh - sf) <= 2e-3 * math.max(1.0, math.abs(sf)))
    }

    // 5. retrieval decodes back to array<float>: halves near the original,
    //    u8 EXACTLY the truncated raw values — the reference retrieves the
    //    stored bytes themselves ([256.19,…] → [255,…], the e2e truncation
    //    arm of `test_multi_vector_uint8.py`)
    val dec = c.readDecoded()
    assert(dec.schema("vector_half").dataType
      .asInstanceOf[ArrayType].elementType == FloatType)
    val r1 = dec.filter(col("id") === 1L).head()
    val half1 = r1.getSeq[Float](dec.columns.indexOf("vector_half"))
    val byte1 = r1.getSeq[Float](dec.columns.indexOf("vector_byte"))
    raw.head._2.zip(half1).foreach { case (o, d) =>
      assert(math.abs(o - d) <= 1e-3f * math.max(1.0f, math.abs(o))) }
    assert(byte1 == Seq(10f, 0f, 255f, 5f), s"u8 decode: $byte1")
  }

  test("declared element types on multivectors: nested encode, MaxSim, decode") {
    import spark.implicits._
    val dcfg = CollectionConfig(
      idCol = "id",
      vectors = Seq(VectorConfig("tok", 3, Dot,
        multivector = true, datatype = Uint8)))
    // byte-range tokens with truncation/saturation arms (u8 stores RAW
    // values: `x as u8`, `primitive.rs:126-129`)
    val raw = Seq(
      (1L, Seq(Seq(90.9f, 0.0f, 10.2f), Seq(-5.0f, 50.5f, 0.0f))),
      (2L, Seq(Seq(10.1f, 300.0f, 2.6f))),
      (3L, Seq(Seq(0.0f, 0.0f, 255.0f), Seq(70.7f, 70.7f, 0.0f), Seq(128.9f, 0.0f, 0.0f))))
    val c = Collection.create(spark, tmpDir(), dcfg, raw.toDF("id", "vector_tok"))
    // nested storage is the narrow element type
    val et = c.read().schema("vector_tok").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[ArrayType].elementType
    assert(et == ByteType)
    // MaxSim scores equal exact unsigned-integer driver math over the
    // truncated u8 values
    val qs = Seq(Seq(100.0, 0.0, 0.0), Seq(0.0, 100.0, 0.0))
    def u8(x: Double): Long =
      if (x.isNaN || x <= 0) 0L else math.min(255.0, math.floor(x)).toLong
    val qb = qs.map(_.map(u8))
    val expected = raw.map { case (i, toks) =>
      val tb = toks.map(_.map(x => u8(x.toDouble)))
      val sc = qb.map(q => tb.map(t =>
        t.zip(q).map { case (a, b) => a * b }.sum).max).sum
      (i, sc)
    }.sortBy { case (i, sc) => (-sc, i) }
    val got = c.knnMultivec("tok", qs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"$got vs $expected")
    // decode returns EXACTLY the truncated token values
    val dec = c.readDecoded().filter(col("id") === 1L).head()
    val toks = dec.getSeq[scala.collection.Seq[Float]](
      dec.schema.fieldIndex("vector_tok"))
    assert(toks.map(_.toSeq) == Seq(Seq(90f, 0f, 10f), Seq(0f, 50f, 0f)),
      s"u8 multivector decode: $toks")
  }

  test("compaction reduces file count and preserves content") {
    import spark.implicits._
    val c = mk(tmpDir())
    // several upserts fragment the table
    for (i <- 10 to 14)
      c.upsert(Seq((i.toLong, Seq(1f, 1f, 1f, 1f), s"""{"city":"C$i"}"""))
        .toDF("id", "vector", "payload"))
    val before = c.read().orderBy("id").collect().map(_.getLong(0)).toSeq
    c.compact(targetFiles = 1)
    assert(c.dataFileCount() == 1)
    assert(c.read().orderBy("id").collect().map(_.getLong(0)).toSeq == before)
  }

  test("streaming upsert applies micro-batches in order") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val c = mk(tmpDir())
    val stream = MemoryStream[(Long, Seq[Float], String)]
    val q = graft.streaming.Streaming.upsertStream(
      stream.toDF().toDF("id", "vector", "payload"), c,
      Files.createTempDirectory("graft_ckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    stream.addData((1L, Seq(8f, 8f, 8f, 8f), """{"city":"Streamed"}"""))
    stream.addData((5L, Seq(1f, 1f, 1f, 1f), """{"city":"New"}"""))
    q.processAllAvailable()
    q.stop()
    val got = c.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L).contains("Streamed") && got(5L).contains("New") && got.size == 4)
  }

  test("streaming near-dup ingest drops LSH duplicates in-batch and across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", payloadCol = "payload",
        vectors = Seq(VectorConfig("", 4, Dot))),
      Seq((100L, Seq(1f, 0f, 0f, 0f), "seed doc with completely different words"))
        .toDF("id", "vector", "payload"))
    val store = Files.createTempDirectory("graft_lshstore").resolve("keys").toString
    val stream = MemoryStream[(Long, Seq[Float], String)]
    val q = graft.streaming.Streaming.nearDupUpsertStream(
      stream.toDF().toDF("id", "vector", "payload"), c,
      "id", "payload", store,
      Files.createTempDirectory("graft_ckpt_nd").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val v = Seq(0f, 1f, 0f, 0f)
    stream.addData(
      (1L, v, "alpha beta gamma delta epsilon zeta"),
      (2L, v, "alpha beta gamma delta epsilon zeta"), // in-batch dup of 1
      (3L, v, "one two three four five six"))
    q.processAllAvailable()
    stream.addData(
      (4L, v, "alpha beta gamma delta epsilon zeta"), // cross-batch dup of 1
      (5L, v, "seven eight nine ten eleven twelve"))
    q.processAllAvailable()
    q.stop()
    val ids = c.read().select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 5L, 100L))
  }

  test("streaming dedup drops repeated keys within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = graft.streaming.Streaming.dedupStream(
      stream.toDF().toDF("key", "ts"), Seq("key"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    stream.addData((1L, t0), (2L, t0), (1L, t0)) // same-batch repeat
    q.processAllAvailable()
    stream.addData((1L, t0), (3L, t0)) // cross-batch repeat within watermark
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").select("key")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L))
  }

  test("streaming chunk+mixture equals the batch path regardless of batching") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = (1L to 40L).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      (i, lang, (1 to 11).map(j => s"d${i}w$j").mkString(" "))
    }
    val rates = Map("en" -> 1.0, "de" -> 0.4)
    // batch reference: same transform on a static DataFrame
    val expect = graft.streaming.Streaming.chunkMixStream(
        docs.toDF("doc_id", "lang", "text"),
        "doc_id", "text", "lang", rates, chunkTokens = 4, stride = 3)
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(expect.nonEmpty && expect.size < 40 * 4) // mixture dropped some
    // streamed in two arbitrary batches → identical row set
    val stream = MemoryStream[(Long, String, String)]
    val out = graft.streaming.Streaming.chunkMixStream(
      stream.toDF().toDF("doc_id", "lang", "text"),
      "doc_id", "text", "lang", rates, chunkTokens = 4, stride = 3)
    val q = out.writeStream.format("memory").queryName("chunkmix_out")
      .outputMode("append").start()
    stream.addData(docs.take(13): _*)
    q.processAllAvailable()
    stream.addData(docs.drop(13): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("chunkmix_out")
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == expect)
  }

  test("streaming windowed rate aggregation emits closed windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val rates = graft.streaming.Streaming.rateByWindow(
      stream.toDF().toDF("kind", "ts"), "ts", "10 minutes", "5 minutes", Seq("kind"))
    val q = rates.writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 01:$m%02d:00")
    stream.addData(("a", ts(1)), ("a", ts(2)), ("b", ts(3)))
    q.processAllAvailable()
    // advance watermark far enough to close the 01:00-01:10 window
    stream.addData(("a", ts(40)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rate_out")
      .select("kind", "n").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }

  test("declared quantization: fit-at-create, persisted params, mutations keep the quant column") {
    import spark.implicits._
    import graft.sources.QuantizationSpec
    val qcfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot,
        quantization = Some(QuantizationSpec("scalar")))))
    val path = tmpDir()
    val coll = Collection.create(spark, path, qcfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0.9f, 0.1f, 0f, 0f))).toDF("id", "vector"))
    assert(coll.read().columns.contains("quant_vector"))
    // two-phase search is the default once quantization is declared
    assert(coll.knn("", Seq(1.0, 0.0, 0.0, 0.0), k = 1).head().getLong(0) == 1L)
    // params persist beside the table and load on reopen
    assert(new Collection(spark, path, qcfg).quantParams.nonEmpty)
    // upsert quantizes the incoming batch in the SAME fitted space
    coll.upsert(Seq((9L, Seq(1f, 0f, 0f, 0f))).toDF("id", "vector"))
    assert(coll.read()
      .filter(col("id") === 9L && col("quant_vector").isNotNull).count() == 1)
    // update recomputes the quantized form; delete nulls both columns
    coll.updateVector("", typedLit(Seq(0f, 0f, 0f, 1f)), col("id") === 2L)
    assert(coll.read().filter(col("id") === 2L).head()
      .getAs[scala.collection.Seq[Int]]("quant_vector").toSeq == Seq(0, 0, 0, 255))
    coll.deleteVector("", col("id") === 3L)
    assert(coll.read().filter(col("id") === 3L)
      .filter(col("vector").isNull && col("quant_vector").isNull).count() == 1)
  }

  test("ingest validation: wrong dimension and malformed sparse vectors fail loudly") {
    import spark.implicits._
    import graft.sources.SparseVectorConfig
    // dense: declared dim 4, point carries 3 elements
    // (`tests/openapi/test_vector_dimension_validation.py`)
    val coll = mk(tmpDir())
    val bad = Seq((9L, Seq(1f, 2f, 3f), "{}")).toDF("id", "vector", "payload")
    val e1 = intercept[Exception] { coll.upsert(bad) }
    assert(e1.getMessage.contains("dim 4") ||
      (e1.getCause != null && e1.getCause.getMessage.contains("dim 4")),
      s"unexpected: ${e1.getMessage}")
    // sparse: indices/values length mismatch and unsorted indices
    // (`SparseVector` invariants `sparse_vector.rs:24-60`)
    val scfg = CollectionConfig(idCol = "id",
      sparse = Seq(SparseVectorConfig("txt")))
    def sp(rows: Seq[(Long, (Seq[Int], Seq[Float]))]) =
      rows.toDF("id", "sparse_txt").select(col("id"),
        col("sparse_txt").cast("struct<indices:array<int>,values:array<float>>"))
    val ok = Collection.create(spark, tmpDir(), scfg,
      sp(Seq(1L -> (Seq(1, 5), Seq(0.5f, 0.7f)))))
    assert(ok.read().count() == 1)
    val e2 = intercept[Exception] {
      Collection.create(spark, tmpDir(), scfg,
        sp(Seq(2L -> (Seq(1, 5), Seq(0.5f)))))
    }
    assert(e2.getMessage.contains("strictly increasing") ||
      (e2.getCause != null && e2.getCause.getMessage.contains("strictly increasing")))
    val e3 = intercept[Exception] {
      ok.upsert(sp(Seq(3L -> (Seq(5, 1), Seq(0.5f, 0.7f)))))
    }
    assert(e3.getMessage.contains("strictly increasing") ||
      (e3.getCause != null && e3.getCause.getMessage.contains("strictly increasing")))
  }

  test("retrieve with_vector: default false, true returns all, a SPARSE name selects its column") {
    import spark.implicits._
    import graft.sources.SparseVectorConfig
    val scfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot)),
      sparse = Seq(SparseVectorConfig("txt")))
    val c = Collection.create(spark, tmpDir(), scfg,
      Seq((1L, Seq(1f, 0f, 0f, 0f), (Seq(1, 5), Seq(0.5f, 0.7f))))
        .toDF("id", "vector", "sparse_txt")
        .select(col("id"), col("vector"), col("sparse_txt")
          .cast("struct<indices:array<int>,values:array<float>>")))
    // default: no vector columns ride back
    assert(c.retrievePoints("""{"ids": [1]}""").columns.toSet == Set("id"))
    // true: every declared vector, sparse included
    assert(c.retrievePoints("""{"ids": [1], "with_vector": true}""")
      .columns.toSet == Set("id", "vector", "sparse_txt"))
    // a named SPARSE vector resolves to its actual column
    val named = c.retrievePoints("""{"ids": [1], "with_vector": ["txt"]}""")
    assert(named.columns.toSet == Set("id", "sparse_txt"))
    assert(named.collect()(0).getAs[org.apache.spark.sql.Row]("sparse_txt")
      .getSeq[Int](0) == Seq(1, 5))
  }

  test("query with_vector: true carries sparse, named sparse selects, unknown rejects") {
    import spark.implicits._
    import graft.sources.SparseVectorConfig
    val scfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot)),
      sparse = Seq(SparseVectorConfig("txt")))
    val c = Collection.create(spark, tmpDir(), scfg,
      Seq((1L, Seq(1f, 0f, 0f, 0f), (Seq(1, 5), Seq(0.5f, 0.7f))),
          (2L, Seq(0f, 1f, 0f, 0f), (Seq(2), Seq(0.9f))))
        .toDF("id", "vector", "sparse_txt")
        .select(col("id"), col("vector"), col("sparse_txt")
          .cast("struct<indices:array<int>,values:array<float>>")))
    // universal query endpoint, `true`: EVERY declared vector rides back,
    // sparse included (the r10 judge's confirmed bug — dense-only before)
    val all = c.query("""{"query": [1, 0, 0, 0], "limit": 2, "with_vector": true}""")
    assert(all.columns.toSet == Set("id", "score", "vector", "sparse_txt"))
    // a named SPARSE vector selects its real struct column, nothing else
    val named = c.query("""{"query": [1, 0, 0, 0], "limit": 2, "with_vector": "txt"}""")
    assert(named.columns.toSet == Set("id", "score", "sparse_txt"))
    assert(named.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // an unknown vector name rejects at parse time with the reference's
    // 400 message, not an analysis-phase UNRESOLVED_COLUMN
    val e = intercept[IllegalArgumentException] {
      c.query("""{"query": [1, 0, 0, 0], "limit": 2, "with_vector": "nope"}""")
    }
    assert(e.getMessage.contains("not existing vector name"))
    // scroll rejects unknown names through the same validation
    val e2 = intercept[IllegalArgumentException] {
      c.scroll("""{"limit": 2, "with_vector": ["txt", "bogus"]}""")
    }
    assert(e2.getMessage.contains("bogus"))
    // a LIST mixing the default dense name "" and a sparse name selects both
    val mixed = c.query(
      """{"query": [1, 0, 0, 0], "limit": 1, "with_vector": ["", "txt"]}""")
    assert(mixed.columns.toSet == Set("id", "score", "vector", "sparse_txt"))
    // enrichment composes with a fusion root (prefetch DAG → rrf)
    val fused = c.query(
      """{"prefetch": [{"query": [1, 0, 0, 0], "limit": 2},
        |             {"query": [0, 1, 0, 0], "limit": 2}],
        |  "query": {"rrf": {}}, "limit": 2, "with_vector": true}""".stripMargin)
    assert(fused.columns.toSet == Set("id", "score", "vector", "sparse_txt"))
    assert(fused.count() == 2)
  }

  test("with_vector on a MULTIVECTOR collection; groups over a sparse scoring root") {
    import spark.implicits._
    import graft.sources.SparseVectorConfig
    // multivector named "mv": with_vector returns the array<array<float>> column
    val mcfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("mv", 2, Dot, multivector = true)))
    val mc = Collection.create(spark, tmpDir(), mcfg,
      Seq((1L, Seq(Seq(1f, 0f), Seq(0f, 1f))), (2L, Seq(Seq(0f, 2f))))
        .toDF("id", "vector_mv"))
    val mh = mc.query(
      """{"query": {"nearest": [[1, 0]]}, "using": "mv", "limit": 2,
        |  "with_vector": true}""".stripMargin)
    assert(mh.columns.toSet == Set("id", "score", "vector_mv"))
    assert(mh.collect().map(r =>
      r.getLong(0) -> r.getSeq[Seq[Float]](2).length).toMap == Map(1L -> 2, 2L -> 1))
    // sparse-only collection: query/groups over the sparse root, grouped
    // by a payload key, with the sparse vector enriched per group hit
    val scfg = CollectionConfig(idCol = "id",
      sparse = Seq(SparseVectorConfig("txt")),
      payloadTypes = Map("g" -> org.apache.spark.sql.types.LongType))
    val sc = Collection.create(spark, tmpDir(), scfg,
      Seq((1L, (Seq(1, 5), Seq(0.5f, 0.7f)), """{"g":1}"""),
          (2L, (Seq(1), Seq(0.9f)), """{"g":1}"""),
          (3L, (Seq(5), Seq(0.4f)), """{"g":2}"""))
        .toDF("id", "sparse_txt", "payload")
        .select(col("id"), col("sparse_txt")
          .cast("struct<indices:array<int>,values:array<float>>"), col("payload")))
    val gh = sc.queryGroups(
      """{"query": {"nearest": {"indices": [1, 5], "values": [1.0, 1.0]}},
        |  "using": "txt", "group_by": "g", "group_size": 1, "limit": 2,
        |  "with_vector": true}""".stripMargin)
    assert(gh.columns.contains("sparse_txt"))
    val rows = gh.collect().map(r => (r.getAs[String]("group_value"), r.getLong(1))).toSeq
    // g=1 best is id 1 (0.5+0.7=1.2 beats 0.9); g=2 only id 3
    assert(rows.toSet == Set(("1", 1L), ("2", 3L)))
    // the same points in a space with the idf modifier: a grouped hit
    // scores what the flat query scores for the same id (IDF-weighted,
    // not the raw 1.2)
    val ic = Collection.create(spark, tmpDir(),
      scfg.copy(sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf")))),
      sc.read())
    val sparseQ = """"query": {"nearest": {"indices": [1, 5], "values": [1.0, 1.0]}},
      |  "using": "txt"""".stripMargin
    val flat = ic.query(s"""{$sparseQ, "limit": 3}""").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("score")).toMap
    val grouped = ic.queryGroups(
      s"""{$sparseQ, "group_by": "g", "group_size": 1, "limit": 2}""").collect()
      .map(r => r.getLong(1) -> r.getAs[Double]("score")).toSeq
    assert(grouped.map(_._1).toSet == Set(1L, 3L) && flat(1L) < 1.0, flat)
    grouped.foreach { case (id, score) =>
      assert(math.abs(score - flat(id)) < 1e-9, s"id $id: grouped $score, flat ${flat(id)}")
    }
    // `params.idf` on the space WITHOUT the modifier rejects grouped
    // requests with the flat query's message
    val idfQ = s"""{$sparseQ, "params": {"idf": "global"}"""
    val flatErr = intercept[IllegalArgumentException](sc.query(idfQ + "}")).getMessage
    val groupErr = intercept[IllegalArgumentException](sc.queryGroups(
      idfQ + """, "group_by": "g", "group_size": 1, "limit": 2}""")).getMessage
    assert(flatErr.contains("requires a sparse vector with the `idf` modifier"), flatErr)
    assert(groupErr == flatErr)
  }

  test("writes land id-clustered: per-file sorted ids + pushed id filters") {
    import spark.implicits._
    val path = tmpDir()
    val rows = (1L to 2000L).map(i =>
      (i, Seq(i.toFloat, 0f, 0f, 0f), s"""{"city":"c${i % 7}","price":${i % 100}.0}"""))
    val c = Collection.create(spark, path, cfg,
      rows.toDF("id", "vector", "payload").repartition(8)) // scrambled input
    // write tasks keep the input parallelism (no forced range shuffle)...
    assert(c.dataFileCount() > 1)
    def files(): Seq[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val bld = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) bld += f.toString
      }
      bld.result()
    }
    // ...and ids are SORTED inside every file, so each parquet row group
    // covers a narrow id span and min/max stats prune id lookups even
    // though file-level spans overlap
    files().foreach { f =>
      val ids = spark.read.parquet(f).select("id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids == ids.sorted, s"ids not sorted within $f")
    }
    // the id lookup reaches the scan as a pushed filter over that layout
    val q = c.retrievePoints("""{"ids": [42, 1500]}""")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(id"),
      "id lookup not pushed to the parquet scan:\n" + p.take(1200))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(42L, 1500L))
    // compaction is the deliberate global re-cluster: disjoint file spans
    c.deleteByIds(Seq(1L))
    c.compact(targetFiles = 2)
    assert(c.dataFileCount() == 2)
    val after = files().map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(after.size == 2 && after(0)._2 < after(1)._1)
  }

  test("wire upserts commit one balanced, id-sorted file per core") {
    import spark.implicits._
    val path = tmpDir()
    val c = Collection.create(spark, path, cfg, (1L to 2000L).map(i =>
      (i, Seq(i.toFloat, 0f, 0f, 0f), s"""{"price":${i % 100}.0}"""))
      .toDF("id", "vector", "payload"))
    // 5 wire batches of 100: the first two replace ids, the rest insert
    for (b <- 0 until 5) {
      val pts = (1 to 100).map { j =>
        s"""{"id": ${1800 + 100 * b + j}, "vector": [$j.0, 1.0, 0.0, 0.0],
           |  "payload": {"price": 1.0}}""".stripMargin
      }.mkString(",")
      graft.api.UpdateBridge.applyJson(c,
        s"""{"operations": [{"upsert": {"points": [$pts]}}]}""")
    }
    val cores = spark.sparkContext.defaultParallelism
    assert(c.dataFileCount() == cores)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    val perFile = Seq.newBuilder[Seq[Long]]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet"))
        perFile += spark.read.parquet(f.toString).select("id")
          .collect().map(_.getLong(0)).toSeq
    }
    val files = perFile.result()
    files.foreach(ids => assert(ids == ids.sorted, "ids not sorted within a file"))
    val sizes = files.map(_.length)
    assert(sizes.max <= 2 * sizes.min, s"unbalanced files: $sizes")
    assert(sizes.sum == 2300 && files.flatten.distinct.length == 2300)
  }

  test("field stats persist for exact=false counts; the warm estimate runs ZERO Spark jobs") {
    import spark.implicits._
    val path = tmpDir()
    val c = Collection.create(spark, path, cfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin","price":10.0}"""),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"Berlin","price":20.0}"""),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"London","price":30.0}"""),
      (4L, Seq(0f, 0f, 0f, 1f), """{"city":"Moscow","price":null}"""),
    ).toDF("id", "vector", "payload"))
    // cold: builds + persists the sidecar
    val est = c.estimateCount(Some(Filter.mustAll(MatchValue("city", "Berlin"))))
    assert(est == graft.filters.Cardinality.CardEst(2L, 2L, 2L))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(c.fieldStatsPath))
    // true count always inside [min, max] for snapshot-served filters
    val mixed = c.estimateCount(Some(Filter(
      must = Seq(RangeCond("price", gte = Some(15.0))),
      mustNot = Seq(MatchValue("city", "London")))))
    val truth = 1L // price≥15 ∧ city≠London → point 2
    assert(mixed.min <= truth && truth <= mixed.max, s"$mixed misses $truth")
    // warm: a FRESH instance estimates purely from the sidecar — the whole
    // point of exact=false at 100 TB is zero distributed work
    val warm = new Collection(spark, path, cfg)
    val (jobs, _) = jobsDuring {
      val e2 = warm.estimateCount(
        Some(Filter.mustAll(MatchValue("city", "Berlin"))))
      assert(e2 == est)
    }
    assert(jobs == 0,
      s"warm estimate ran $jobs Spark jobs (expected 0)")
    // IsNull is exact from the null stats
    assert(c.estimateCount(Some(Filter.mustAll(IsNullCond("price")))) ==
      graft.filters.Cardinality.CardEst(1L, 1L, 1L))
    // a mutation drops the sidecar; the next estimate reflects the new data
    c.deleteByIds(Seq(1L))
    assert(!fs.exists(c.fieldStatsPath))
    assert(c.estimateCount(Some(Filter.mustAll(MatchValue("city", "Berlin")))) ==
      graft.filters.Cardinality.CardEst(1L, 1L, 1L))
  }

  test("filtered exact=false facet serves per-value estimates with ZERO Spark jobs warm") {
    import spark.implicits._
    val path = tmpDir()
    // city has 3 complete head values; hot is the filter dimension
    val c = Collection.create(spark, path, cfg.copy(payloadTypes =
      Map("city" -> org.apache.spark.sql.types.StringType,
        "hot" -> org.apache.spark.sql.types.BooleanType)), Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin","hot":true}"""),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"Berlin","hot":false}"""),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"London","hot":true}"""),
      (4L, Seq(0f, 0f, 0f, 1f), """{"city":"Moscow","hot":true}"""),
    ).toDF("id", "vector", "payload"))
    val body = """{"key": "city", "limit": 3,
                 |  "filter": {"must": [{"key": "hot",
                 |    "match": {"value": true}}]}}""".stripMargin
    // cold call builds the sidecar; per-value estimate = round(n·cv/n·cf/n)
    val cold = c.facet(body).collect().map(r => (r.getString(0), r.getLong(1)))
    // n=4, cf=3: Berlin round(2*3/4)=2, London/Moscow round(1*3/4)=1
    assert(cold.toSet == Set(("Berlin", 2L), ("London", 1L), ("Moscow", 1L)),
      cold.mkString(","))
    val warm = new Collection(spark, path, c.config)
    warm.facet(body).collect() // warm the fresh instance's sidecar read
    val (jobs, _) = jobsDuring {
      val again = warm.facet(body)
      // the frame is a driver-local relation: materializing it must not
      // launch any distributed work
      assert(again.collect().length == 3)
    }
    assert(jobs == 0,
      s"warm filtered facet estimate ran $jobs Spark jobs (expected 0)")
  }

  test("sparse MMR under an IDF modifier weights the relevance like its prefetch") {
    import spark.implicits._
    // dim 0 is common (df=3, low idf), dim 1 rare (df=1, high idf);
    // raw dots order [1,3,2], idf-weighted dots order [2,1,3] — distinct,
    // so un-weighted MMR relevance is visibly wrong
    val idfCfg = CollectionConfig(idCol = "id",
      sparse = Seq(graft.sources.SparseVectorConfig("txt", modifier = Some("idf"))))
    val rows = Seq(
      (1L, (Seq(0), Seq(3.0f))),
      (2L, (Seq(0, 1), Seq(1.0f, 1.0f))),
      (3L, (Seq(0), Seq(2.5f))))
    val df = rows.map { case (id, (is, vs)) => (id, is, vs) }
      .toDF("id", "i", "v")
      .select(col("id"), struct(col("i").as("indices"), col("v").as("values"))
        .as("sparse_txt"))
    val c = Collection.create(spark, tmpDir(), idfCfg, df)
    // diversity 0 → λ=1 → pure-relevance selection order == the idf knn
    val mmr = c.query(
      """{"query": {"nearest": {"indices": [0, 1], "values": [1.0, 1.0]},
        |  "mmr": {"diversity": 0.0, "candidates_limit": 3}},
        |  "using": "txt", "limit": 3}""".stripMargin)
      .orderBy(col("position")).collect().map(_.getLong(0)).toSeq
    val knn = c.knnSparse("txt", Seq(0, 1), Seq(1.0, 1.0), k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(knn == Seq(2L, 1L, 3L), s"idf knn order unexpected: $knn")
    assert(mmr == knn, s"idf-weighted MMR relevance order $mmr != knn $knn")
  }

  test("MMR silently drops candidates lacking the `using` vector") {
    // the reference's filter_map over `vector.get(&mmr.using)` ignores
    // vectorless points (`mmr/mod.rs:52-60`); an explicit scroll prefetch
    // feeds ids whose vector cell is NULL into the rescore — they must be
    // skipped, not NPE the driver-side greedy loop
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 2, Dot)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vector", ArrayType(FloatType)),
      StructField("payload", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, Array(1.0f, 0.0f), null),
      Row(2L, Array(0.0f, 1.0f), null),
      Row(3L, Array(0.5f, 0.5f), null),
      Row(4L, null, null)) // optional vector: missing
    val c = Collection.create(spark, tmpDir(), cfg,
      spark.createDataFrame(rows, schema))
    val got = c.query(
      """{"prefetch": [{"limit": 10}],
        |  "query": {"nearest": [1.0, 0.0],
        |    "mmr": {"diversity": 0.5, "candidates_limit": 10}},
        |  "limit": 4}""".stripMargin)
      .orderBy(col("position")).collect().map(_.getLong(0)).toSeq
    assert(got.length == 3 && !got.contains(4L),
      s"vectorless candidate must drop from MMR, got $got")
  }

  test("shard-key stats ride the sidecar: warm shard-scoped estimate is exact, ZERO Spark jobs") {
    import spark.implicits._
    val path = tmpDir()
    val shardCfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot)),
      payloadTypes = Map("city" -> org.apache.spark.sql.types.StringType),
      shardKeyCol = Some("shard_key"))
    val c = Collection.create(spark, path, shardCfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin"}""", "sa"),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"Berlin"}""", "sa"),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"London"}""", "sa"),
      (4L, Seq(0f, 0f, 0f, 1f), """{"city":"Moscow"}""", "sb"),
    ).toDF("id", "vector", "payload", "shard_key"))
    // cold: builds the sidecar (shard-key pass included) — the estimate
    // is the tenant's EXACT size, not unknown(N/2)
    assert(c.count("""{"shard_key": "sa", "exact": false}""")
      .head().getLong(0) == 3L)
    // combined with a payload condition: must-product over exact counts
    val band = c.estimateCount(Some(graft.model.Filter(must = Seq(
      graft.model.MatchAny("shard_key", Seq("sa")),
      graft.model.MatchValue("city", "Berlin")))))
    assert(band.min <= 2L && 2L <= band.max)
    // warm: fresh instance, sidecar only, zero jobs
    val warm = new Collection(spark, path, shardCfg)
    val (jobs, _) = jobsDuring {
      assert(warm.count("""{"shard_key": "sb", "exact": false}""")
        .head().getLong(0) == 1L)
    }
    assert(jobs == 0,
      s"warm shard estimate ran $jobs Spark jobs (expected 0)")
  }

  test("facet exact=false (the default) serves from the sidecar: exact top-K, zero jobs warm") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(), cfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin","price":10.0}"""),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"Berlin","price":20.0}"""),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"London","price":30.0}"""),
      (4L, Seq(0f, 0f, 0f, 1f), """{"city":"Moscow","price":40.0}"""),
    ).toDF("id", "vector", "payload"))
    // cold call builds the sidecar; counts + order equal the exact facet
    val approx = c.facet("""{"key": "city", "limit": 2}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(approx == Seq("Berlin" -> 2L, "London" -> 1L))
    val exact = c.facet("""{"key": "city", "limit": 2, "exact": true}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(exact == approx)
    // warm default-exact facet: zero Spark jobs (toDF on a driver Seq
    // plans locally; collect of a LocalRelation launches no job)
    val (jobs, _) = jobsDuring {
      val warm = c.facet("""{"key": "city", "limit": 3}""")
        .collect().map(_.getString(0)).toSeq
      assert(warm == Seq("Berlin", "London", "Moscow"))
    }
    assert(jobs == 0,
      s"warm facet estimate ran $jobs Spark jobs (expected 0)")
    // filtered exact=false serves per-value ESTIMATES (approximate by
    // contract, like the reference's approx_facet); exact:true keeps the
    // scan's true counts
    val filteredExact = c.facet(
      """{"key": "city", "limit": 3, "exact": true,
        |  "filter": {"must": [{"key": "price", "range": {"gte": 15.0}}]}}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(filteredExact == Seq("Berlin" -> 1L, "London" -> 1L, "Moscow" -> 1L))
    val filteredEst = c.facet(
      """{"key": "city", "limit": 3,
        |  "filter": {"must": [{"key": "price", "range": {"gte": 15.0}}]}}""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // independence product: round(n·(cv/n)·(cf/n)) with n=4, cf≈3 (hist)
    assert(filteredEst.map(_._1) == Seq("Berlin", "London", "Moscow"))
    // estimates stay within [0, cv] and the true count is in the band
    assert(filteredEst.forall { case (_, c2) => c2 >= 1L && c2 <= 2L },
      filteredEst.mkString(","))
  }

  test("facet exact=false serves INTEGER and BOOL keys typed from the sidecar, zero jobs warm") {
    import spark.implicits._
    import org.apache.spark.sql.types.{BooleanType, LongType}
    val tcfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot)),
      payloadTypes = Map("n" -> LongType, "hot" -> BooleanType))
    // n: counts tie between 2 and 10 — numeric tie order (2 before 10)
    // differs from the head's lexicographic order ("10" < "2")
    val c = Collection.create(spark, tmpDir(), tcfg, Seq(
      (1L, """{"n":2,"hot":true}"""), (2L, """{"n":2,"hot":true}"""),
      (3L, """{"n":10,"hot":true}"""), (4L, """{"n":10,"hot":false}"""),
      (5L, """{"n":1,"hot":false}""")
    ).map { case (i, p) => (i, Seq(i.toFloat, 0f, 0f, 0f), p) }
      .toDF("id", "vector", "payload"))
    val ints = c.facet("""{"key": "n", "limit": 2}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ints == Seq(2L -> 2L, 10L -> 2L))
    assert(ints == c.facet("""{"key": "n", "limit": 2, "exact": true}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val bools = c.facet("""{"key": "hot", "limit": 2}""")
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toSeq
    assert(bools == Seq(true -> 3L, false -> 2L))
    // warm typed facets: zero Spark jobs — LocalRelation collect only
    val (jobs, _) = jobsDuring {
      c.facet("""{"key": "n", "limit": 3}""").collect()
      c.facet("""{"key": "hot", "limit": 2}""").collect()
    }
    assert(jobs == 0,
      s"warm typed facet estimate ran $jobs Spark jobs (expected 0)")
  }

  test("facet estimate falls back to the SCAN when the truncated head is " +
      "boundary-unsafe under typed ties; sidecar serves (zero jobs) only when safe") {
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val tcfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 2, Dot)),
      payloadTypes = Map("n" -> LongType))
    // 4200 distinct int values (> StatsTopK = 4096) → the sidecar head is
    // TRUNCATED (tailUnique > 0). Value 0 appears 3× so a limit-1 request
    // ends strictly above the count-1 boundary (safe: sidecar, zero jobs),
    // while any limit touching the boundary tie must take the scan — a
    // tail value could displace a boundary tie under TYPED (numeric)
    // order, which differs from the head's string tie order.
    val rows = (0L until 4200L).map(v => (v + 10L, v)) ++
      Seq((9000L, 0L), (9001L, 0L))
    val c = Collection.create(spark, tmpDir(), tcfg,
      rows.map { case (id, v) => (id, Seq(id.toFloat, 0f), s"""{"n":$v}""") }
        .toDF("id", "vector", "payload"))
    // warm the fieldstats sidecar before counting jobs
    val head1 = c.facet("""{"key": "n", "limit": 1}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(head1 == Seq(0L -> 3L))
    // SAFE: the selected head ends above the boundary count → sidecar
    val (jobs, _) = jobsDuring {
      assert(c.facet("""{"key": "n", "limit": 1}""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq(0L -> 3L))
    }
    assert(jobs == 0,
      s"boundary-safe warm facet ran $jobs Spark jobs (expected 0)")
    // UNSAFE: limit 2 reaches the count-1 boundary tie → exact scan
    // (jobs > 0), typed tie order picks the numerically smallest value
    val (unsafeJobs, _) = jobsDuring {
      val unsafe = c.facet("""{"key": "n", "limit": 2}""")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(unsafe == Seq(0L -> 3L, 1L -> 1L), unsafe.mkString(","))
    }
    assert(unsafeJobs > 0,
      "boundary-unsafe facet must fall back to the exact scan")
    // FILTERED estimate on a truncated head (tailUnique > 0): must also
    // take the scan — an unseen tail value could out-rank the head
    val (filteredJobs, _) = jobsDuring {
      val filtered = c.facet(
        """{"key": "n", "limit": 2,
          |  "filter": {"must": [{"key": "n", "range": {"gte": 1}}]}}""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(filtered == Seq(1L -> 1L, 2L -> 1L), filtered.mkString(","))
    }
    assert(filteredJobs > 0,
      "filtered estimate over a truncated head must fall back to the scan")
  }

  test("sparse IDF stats persist at ingest; the warm query path plans with zero Spark jobs") {
    import spark.implicits._
    import graft.sources.{CollectionConfig, SparseVectorConfig}
    val path = tmpDir()
    val cfg = CollectionConfig(idCol = "id",
      sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf"))))
    def sp(rows: Seq[(Long, (Seq[Int], Seq[Float]))]) =
      rows.toDF("id", "sparse_txt").select(col("id"),
        col("sparse_txt").cast("struct<indices:array<int>,values:array<float>>"))
    val c = Collection.create(spark, path, cfg, sp(Seq(
      1L -> (Seq(1, 5), Seq(1f, 1f)),
      2L -> (Seq(1), Seq(1f)),
      3L -> (Seq(5, 9), Seq(1f, 1f)))))
    // artifact written at create: N=3 (all non-null), df(1)=2, df(5)=2, df(9)=1
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(c.sparseIdfPath))
    assert(c.sparseIdfStats("txt") == ((3L, Map(1 -> 2L, 5 -> 2L, 9 -> 1L))))
    // warm path: a FRESH instance (cold cache) must build the IDF-weighted
    // plan purely from the sidecar — no count/aggregate job at plan time
    val warm = new Collection(spark, path, cfg)
    // baseline: a bare read() plan (parquet schema inference may itself
    // run a small footer-reading job — that is not the IDF path)
    val (baseline, baseSites) = jobsDuring(warm.read())
    var plan: org.apache.spark.sql.DataFrame = null
    val (planJobs, planSites) = jobsDuring {
      plan = warm.knnSparse("txt", Seq(1, 9), Seq(1.0, 1.0), k = 2)
    }
    val jobs = baseline + planJobs
    assert(jobs == 2 * baseline,
      s"warm IDF plan construction ran ${jobs - 2 * baseline} EXTRA " +
        s"Spark jobs beyond the scan plan (expected 0): " +
        (baseSites ++ planSites).mkString(", "))
    // and the weights are the persisted-stats weights
    val top = plan.collect()
    assert(top.nonEmpty)
    // mutations refresh the sidecar: delete point 3 → df(9) drops out
    c.deleteByIds(Seq(3L))
    assert(c.sparseIdfStats("txt") == ((2L, Map(1 -> 2L, 5 -> 1L))))
    // N counts only points that HAVE the sparse vector (indexed_vectors)
    c.upsert(sp(Seq(4L -> (null, null))).select(col("id"),
      lit(null).cast("struct<indices:array<int>,values:array<float>>").as("sparse_txt")))
    assert(c.sparseIdfStats("txt")._1 == 2L)
  }

  test("upsert update_mode: insert_only skips existing, update_only skips new") {
    import spark.implicits._
    import graft.storage.UpdateMode
    val c = mk(tmpDir())
    // insert_only: id 2 exists → skipped; id 5 is new → inserted
    c.upsert(Seq(
      (2L, Seq(9f, 9f, 9f, 9f), """{"city":"Paris"}"""),
      (5L, Seq(0f, 0f, 0f, 1f), """{"city":"Oslo"}"""),
    ).toDF("id", "vector", "payload"), UpdateMode.InsertOnly)
    // update_only: id 3 exists → replaced; id 6 is new → dropped
    c.upsert(Seq(
      (3L, Seq(7f, 7f, 7f, 7f), """{"city":"Kyiv"}"""),
      (6L, Seq(1f, 1f, 1f, 1f), """{"city":"Lima"}"""),
    ).toDF("id", "vector", "payload"), UpdateMode.UpdateOnly)
    // update_only + condition: 1 matches Berlin → updated; 5 exists but
    // fails the condition → kept as-is
    c.upsertConditional(Seq(
      (1L, Seq(6f, 6f, 6f, 6f), """{"city":"Bern"}"""),
      (5L, Seq(6f, 6f, 6f, 6f), """{"city":"Nope"}"""),
    ).toDF("id", "vector", "payload"),
      Filter.mustAll(MatchValue("city", "Berlin")), UpdateMode.UpdateOnly)
    val cities = c.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(cities.keySet == Set(1L, 2L, 3L, 5L))
    assert(cities(2L).contains("London"), "insert_only must not touch id 2")
    assert(cities(3L).contains("Kyiv"))
    assert(cities(1L).contains("Bern"))
    assert(cities(5L).contains("Oslo"), "conditional update_only must skip non-matching id 5")
  }

  test("IVF cell column stays in lockstep through upsert/update/delete vector") {
    import spark.implicits._
    import graft.sources.{CollectionConfig, IvfSpec, VectorConfig}
    val path = tmpDir()
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot, ann = Some(IvfSpec(cells = 2, nprobe = 1)))))
    val c = graft.storage.Collection.create(spark, path, cfg, Seq(
      (1L, Seq(10f, 0f, 0f, 0f)), (2L, Seq(9f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 10f, 0f)), (4L, Seq(0f, 1f, 9f, 0f)),
    ).toDF("id", "vector"))
    def cells(): Map[Long, Any] = c.read().select("id", "ivfcell_vector")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val c0 = cells()
    assert(c0.values.forall(_ != null) && c0.values.toSet.size == 2,
      s"expected 2 populated cells, got $c0")
    // upsert lands in the SAME cell as its nearest neighbors (persisted
    // centroids, no retrain)
    c.upsert(Seq((5L, Seq(10f, 1f, 0f, 0f))).toDF("id", "vector"))
    assert(cells()(5L) == c0(1L), "micro-batch must assign cells from the persisted model")
    // a vector update across the space MOVES the row's cell
    c.updateVector("", org.apache.spark.sql.functions.typedlit(Seq(0f, 0f, 10f, 1f)),
      col("id") === 5L)
    assert(cells()(5L) == c0(3L), "updated vector must re-assign its cell")
    // delete vector nulls the cell alongside
    c.deleteVector("", col("id") === 5L)
    assert(cells()(5L) == null)
    // and the probe search still finds everyone else
    val ids = c.knn("", Seq(10.0, 0.0, 0.0, 0.0), k = 2, nprobe = Some(2))
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L))
  }

  test("wire integer range bounds: f64 on an undeclared float field, exact on a declared integer") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(), CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 2, Dot)), payloadTypes = Map("n" -> LongType)),
      Seq(
        (1L, Seq(1f, 0f), """{"price":49.5,"n":9007199254740992}"""),
        (2L, Seq(0f, 1f), """{"price":50,"n":9007199254740993}"""),
        (3L, Seq(1f, 1f), """{"price":75.25,"n":1}"""),
      ).toDF("id", "vector", "payload"))
    def count(key: String, range: String): Long =
      c.count(s"""{"filter":{"must":[{"key":"$key","range":$range}]},"exact":true}""")
        .collect().head.getAs[Any]("cnt").toString.toLong
    assert(count("price", """{"gte":50}""") == 2L)
    assert(count("price", """{"lt":50}""") == 1L)
    assert(count("n", """{"gte":9007199254740993}""") == 1L)
    assert(count("n", """{"lt":9007199254740993}""") == 2L)
  }

  test("re-create over an existing path drops the stale fieldstats sidecar") {
    import spark.implicits._
    val path = tmpDir()
    val c1 = Collection.create(spark, path, cfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f), """{"city":"Berlin"}"""),
      (2L, Seq(0f, 1f, 0f, 0f), """{"city":"Berlin"}"""),
      (3L, Seq(0f, 0f, 1f, 0f), """{"city":"London"}""")
    ).toDF("id", "vector", "payload"))
    // build + persist the first collection's sidecar
    assert(c1.count("""{"filter": {"must": [
      |  {"key": "city", "match": {"value": "Berlin"}}]}, "exact": false}""".stripMargin)
      .collect()(0).getLong(0) == 2L)
    // REPLACE the collection at the same path: one London row only
    val c2 = Collection.create(spark, path, cfg, Seq(
      (9L, Seq(1f, 0f, 0f, 0f), """{"city":"London"}""")
    ).toDF("id", "vector", "payload"))
    // the estimate must come from the NEW collection's (rebuilt) stats,
    // not the previous sidecar left on disk
    assert(c2.count("""{"filter": {"must": [
      |  {"key": "city", "match": {"value": "Berlin"}}]}, "exact": false}""".stripMargin)
      .collect()(0).getLong(0) == 0L)
    assert(c2.facet("""{"key": "city", "limit": 3}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq("London" -> 1L))
  }

  test("IVF partitioned writes: salted tasks bound files-per-cell by the salt width") {
    import spark.implicits._
    import graft.sources.{CollectionConfig, IvfSpec, VectorConfig}
    val path = tmpDir()
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot, ann = Some(IvfSpec(cells = 4, nprobe = 1)))))
    // 2000 points over 4 clear clusters, scrambled input partitioning
    val rows = (1L to 2000L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(4)(d => if (d == c) 10f + (i % 7) * 0.1f else (i % 3) * 0.1f))
    }
    val c = graft.storage.Collection.create(spark, path, cfg,
      rows.toDF("id", "vector").repartition(16))
    val salt = graft.storage.Collection.writeSalt(c.read())
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("ivfcell_vector="))
    assert(dirs.length == 4, s"expected 4 cell directories, got ${dirs.length}")
    dirs.foreach { d =>
      val files = fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= salt,
        s"cell ${d.getPath.getName}: $files files, salt bound is $salt")
    }
    // the salted layout must not disturb probe pruning or results
    val top = c.knn("", Seq(10.0, 0.0, 0.0, 0.0), k = 3, nprobe = Some(1))
      .collect().map(_.getLong(0))
    assert(top.length == 3 && top.forall(_ % 4 == 0))
  }

  test("applyBatch folds N ops into exactly ONE table rewrite") {
    import spark.implicits._
    import graft.storage.UpdateOp
    val c = mk(tmpDir())
    assert(c.rewriteCount == 0L) // create() commits on its own bootstrap instance
    c.applyBatch(Seq(
      UpdateOp.Upsert(Seq((4L, Seq(0f, 0f, 0f, 1f), """{"city":"Rome"}"""))
        .toDF("id", "vector", "payload")),
      UpdateOp.SetPayload("""{"flag":"hot"}""", col("id") >= 3L),
      UpdateOp.DeleteIds(Seq(2L)),
      UpdateOp.DeletePayloadKeys(Seq("price"), col("id") === 1L),
      UpdateOp.DeleteByFilter(Filter.mustAll(MatchValue("city", "Moscow")))))
    assert(c.rewriteCount == 1L,
      s"applyBatch must commit once, saw ${c.rewriteCount} rewrites")
    // ops composed in order: 4 inserted+flagged, 2 and 3 gone, 1 de-priced
    val rows = c.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.keySet == Set(1L, 4L))
    assert(!rows(1L).contains("price"))
    assert(rows(4L).contains("hot"))
    // the sequential convenience API, by contrast, commits per call
    c.deleteByIds(Seq(4L))
    c.clearPayload(col("id") === 1L)
    assert(c.rewriteCount == 3L)
  }

  test("chained mode-gated upserts in ONE batch compose sequentially (linear fold plan)") {
    // r16 optimization: an admission gate's membership probe used to
    // reference the evolving fold plan three times, so a points/batch chain
    // of mode-gated upserts grew the write plan 3^n-fold; the admitted rows
    // now pin via localCheckpoint (and the local-batch probe compiles to a
    // pushable id IN (...)). This test pins the SEMANTICS the restructure
    // must preserve: each op observes every earlier op's effect, exactly
    // one table rewrite commits.
    import spark.implicits._
    import graft.storage.{UpdateMode, UpdateOp}
    def pt(id: Long, tag: String) =
      Seq((id, Seq(0f, 0f, 0f, 1f), s"""{"city":"$tag"}"""))
        .toDF("id", "vector", "payload")
    val c = mk(tmpDir()) // ids 1..3
    c.applyBatch(Seq(
      UpdateOp.Upsert(pt(10L, "seed")),                       // inserts
      UpdateOp.Upsert(pt(10L, "skip"), UpdateMode.InsertOnly), // exists → skipped
      UpdateOp.Upsert(pt(11L, "ins"), UpdateMode.InsertOnly),  // new → inserts
      UpdateOp.Upsert(pt(11L, "upd"), UpdateMode.UpdateOnly),  // exists (from op 3!) → updates
      UpdateOp.Upsert(pt(12L, "skip"), UpdateMode.UpdateOnly), // new → skipped
      UpdateOp.UpsertConditional(pt(10L, "cond"),
        Filter.mustAll(MatchValue("city", "seed")), UpdateMode.UpdateOnly),
      UpdateOp.UpsertConditional(pt(11L, "nocond"),
        Filter.mustAll(MatchValue("city", "seed")), UpdateMode.UpdateOnly)))
    assert(c.rewriteCount == 1L,
      s"chained batch must commit once, saw ${c.rewriteCount}")
    val cities = c.read().collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!cities.contains(12L), "update_only must not insert")
    assert(cities(10L).contains("cond"),
      s"op6 should see op1's seed and update: ${cities(10L)}")
    assert(cities(11L).contains("upd"),
      s"op7's condition must observe op4's overwrite (city != seed): ${cities(11L)}")
  }

  test("bulk by-id resolution: one probe job, first-missing-id error order preserved") {
    // r17 optimization: by-id vector inputs (recommend/discover/context/
    // feedback/MMR examples) resolve through ONE id-IN-pruned probe per
    // request instead of one Spark job per referenced id. This test pins
    // the semantics the bulk path must preserve: (a) with SEVERAL missing
    // ids, the FIRST in parse order names the error (the reference's
    // per-id discovery order); (b) a present point lacking the vector
    // raises the vector-name shape, still in parse order; (c) results and
    // the referenced-id exclusion are unchanged; (d) the whole resolution
    // costs one job, not one per id.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Dot))),
      spark.range(10).toDF("id")
        .withColumn("vector",
          when(col("id") =!= 5L, array(lit(1.0f), col("id").cast("float"))))
        .withColumn("payload", lit("""{"k":1}""")))
    def err(json: String): String =
      intercept[IllegalArgumentException](c.query(json)).getMessage
    // two missing ids: parse order picks the FIRST (777 before 888)...
    assert(err("""{"query": {"recommend": {"positive": [1, 777, 888]}}}""")
      .contains("No point with id 777"))
    // ...and flipping the order flips the error
    assert(err("""{"query": {"recommend": {"positive": [1, 888, 777]}}}""")
      .contains("No point with id 888"))
    // a null-vector point earlier in parse order wins over a later missing id
    assert(err("""{"query": {"recommend": {"positive": [5, 777]}}}""")
      .contains("Vector with name"))
    // a missing id earlier in parse order wins over a later null-vector point
    assert(err("""{"query": {"recommend": {"positive": [777, 5]}}}""")
      .contains("No point with id 777"))
    // happy path: many ids, ONE resolution job, examples excluded from hits
    var df: org.apache.spark.sql.DataFrame = null
    val (resolveJobs, _) = jobsDuring {
      df = c.query(
        """{"query": {"recommend": {"positive": [1, 2, 3], "negative": [4]}},
          |  "limit": 10}""".stripMargin)
    }
    assert(resolveJobs <= 2,
      s"by-id resolution should be ONE bulk probe, saw $resolveJobs jobs")
    val ids = df.collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L, 4L).intersect(ids).isEmpty,
      s"referenced ids must be excluded from results: $ids")
    assert(ids.nonEmpty)
  }

  test("a by-id query batch resolves every search's ids with one probe") {
    val c = mk(tmpDir())
    def byId(ids: Seq[Long]): String = ids
      .map(id => s"""{"query": $id, "limit": 2}""")
      .mkString("""{"searches": [""", ",", "]}")
    c.queryBatch(byId(Seq(1L))).collect()
    val (one, _) = jobsDuring(c.queryBatch(byId(Seq(1L))))
    var df: org.apache.spark.sql.DataFrame = null
    val (four, sites) = jobsDuring { df = c.queryBatch(byId(Seq(1L, 2L, 3L, 1L))) }
    assert(one >= 1, "the by-id probe should run eagerly")
    assert(four == one,
      s"4-search by-id batch ran $four eager jobs, a 1-search batch $one: $sites")
    // each search still excludes only its own referenced id
    val hits = df.collect().map(r => r.getAs[Int]("req") -> r.getAs[Long]("id"))
    assert(hits.groupMap(_._1)(_._2).map { case (req, ids) =>
      req -> ids.toSet }.toSeq.sortBy(_._1) ==
      Seq(0 -> Set(2L, 3L), 1 -> Set(1L, 3L), 2 -> Set(1L, 2L), 3 -> Set(2L, 3L)))
  }

  test("bulk by-id resolution past InProbeMaxIds probes by semi-join, not an IN over the cap") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    val n = Collection.InProbeMaxIds + 1
    // second component id % 7: the five ids past the referenced range
    // score distinctly against the average of the referenced vectors
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Dot))),
      spark.range(n + 5L).toDF("id")
        .withColumn("vector", array(lit(1.0f), (col("id") % 7).cast("float"))))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        plans.add(qe.optimizedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try {
      val q = c.query(s"""{"query": {"recommend": {"positive": [${
        (0 until n).mkString(", ")}]}}, "limit": 3}""")
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      q
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "the by-id probe should have executed")
    val inSizes = plans.toArray(Array.empty[LogicalPlan]).toSeq.flatMap(
      _.flatMap(_.expressions).flatMap(_.collect {
        case i: In => i.list.length
        case i: InSet => i.hset.size
      }))
    assert(inSizes.forall(_ <= Collection.InProbeMaxIds),
      s"IN lists over the cap were planned: ${inSizes.filter(_ > Collection.InProbeMaxIds)}")
    // the average of the referenced vectors is (1, mean(id % 7)); the
    // referenced ids themselves are excluded from the hits
    val mean = (0 until n).map(_ % 7).sum.toDouble / n
    val expect = Seq(n + 1L, n.toLong, n + 4L)
      .map(id => id -> (1.0 + mean * (id % 7)))
    val got = df.collect().map(r => r.getLong(0) -> r.getAs[Double]("score")).toSeq
    assert(got.map(_._1) == expect.map(_._1), got.mkString(","))
    got.zip(expect).foreach { case ((_, g), (_, e)) => assert(math.abs(g - e) < 1e-5) }
  }

  test("an instance sees the id column another instance over the path widened") {
    val path = tmpDir()
    val a = mk(path)
    // `a` reads the numeric id column first...
    assert(a.getPoint("1").count() == 1)
    // ...then another instance's UUID upsert widens it to string
    val b = new Collection(spark, path, cfg)
    val uuid = "550e8400-e29b-41d4-a716-446655440000"
    graft.api.UpdateBridge.applyJson(b,
      s"""{"operations": [{"upsert": {"points": [{"id": "$uuid",
         |  "vector": [0, 0, 0, 1], "payload": {"city": "Oslo"}}]}}]}""".stripMargin)
    assert(b.read().schema("id").dataType == StringType)
    assert(a.getPoint(uuid).count() == 1)
    assert(a.getPoint("2").count() == 1)
  }

  test("id widening is symmetric: numeric points onto a string-id table compare as strings") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // string-id table holding an id ABOVE 2^53 — a long-vs-string join
    // coerced through Double would alias 9007199254740993 with ...992
    val big = 9007199254740993L // 2^53 + 1
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Dot))),
      Seq((big.toString, Seq(1f, 0f), """{"k":1}"""))
        .toDF("id", "vector", "payload"))
    // LongType batch with the NEIGHBORING value: must NOT replace the
    // existing point (distinct ids), must insert as its decimal rendering
    c.upsert(Seq((big - 1, Seq(0f, 1f), """{"k":2}"""))
      .toDF("id", "vector", "payload"))
    val ids = c.read().select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids == Seq((big - 1).toString, big.toString), ids)
    // and a numeric upsert of the SAME id replaces, not duplicates
    c.upsert(Seq((big, Seq(0.5f, 0.5f), """{"k":3}"""))
      .toDF("id", "vector", "payload"))
    val after = c.read().select("id", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after.size == 2 && after(big.toString).contains("3"), after)
  }

  test("shard-scoped wire updates rewrite ONLY the selected keys' directories") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmpDir()
    val scfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 2, Dot)),
      payloadTypes = Map("tag" -> StringType),
      shardKeyCol = Some("shard_key"))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vector", ArrayType(FloatType)),
      StructField("payload", StringType),
      StructField("shard_key", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, Array(1.0f, 0.0f), """{"tag":"x"}""", "a"),
      Row(2L, Array(0.0f, 1.0f), """{"tag":"x"}""", "b"),
      Row(3L, Array(0.5f, 0.5f), """{"tag":"x"}""", "c"))
    val c = Collection.create(spark, path, scfg,
      spark.createDataFrame(rows, schema))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def filesUnder(key: String): Map[String, Long] = {
      val dir = new org.apache.hadoop.fs.Path(path, s"shard_key=$key")
      val it = fs.listFiles(dir, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet"))
          b += (st.getPath.toString -> st.getModificationTime)
      }
      b.result()
    }
    val bBefore = filesUnder("b")
    val cBefore = filesUnder("c")
    // scoped payload write + scoped upsert: both ops touch only key "a"
    graft.api.UpdateBridge.applyJson(c,
      """{"operations": [
        |  {"set_payload": {"payload": {"tag": "y"}, "points": [1],
        |    "shard_key": "a"}},
        |  {"upsert": {"points": [
        |    {"id": 9, "vector": [0.9, 0.1], "shard_key": "a"}]}}
        |]}""".stripMargin)
    // untouched tenants keep their EXACT files (names + mtimes): the
    // rewrite was partition-scoped, not a table rewrite
    assert(filesUnder("b") == bBefore, "key b was rewritten")
    assert(filesUnder("c") == cBefore, "key c was rewritten")
    val after = c.read().select("id", "shard_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "a"))
    // an upsert MOVING a point between keys rewrites both homes, and the
    // whole-table read still sees exactly one copy
    graft.api.UpdateBridge.applyJson(c,
      """{"operations": [{"upsert": {"points": [
        |  {"id": 2, "vector": [0.2, 0.2], "shard_key": "a"}]}}]}""".stripMargin)
    assert(filesUnder("c") == cBefore, "key c was rewritten by the move")
    val moved = c.read().select("id", "shard_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(moved == Map(1L -> "a", 2L -> "a", 3L -> "c", 9L -> "a"))
  }

  test("id predicates after a mid-batch widening upsert compare as strings " +
      "(ids >= 2^53 must not conflate under double coercion)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = tmpDir()
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 2, Dot)),
      payloadTypes = Map("tag" -> StringType))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vector", ArrayType(FloatType)),
      StructField("payload", StringType)))
    // 2^53 and 2^53+1 are the SAME double — a long-vs-string comparison
    // coerced through double would touch both rows
    val p53 = 9007199254740992L
    val rows = java.util.Arrays.asList(
      Row(p53, Array(1.0f, 0.0f), """{"tag":"even"}"""),
      Row(p53 + 1, Array(0.0f, 1.0f), """{"tag":"odd"}"""))
    val c = Collection.create(spark, path, cfg,
      spark.createDataFrame(rows, schema))
    // one batch: a UUID upsert widens the id column mid-fold, then an
    // id-LIST payload op and a nested has_id FILTER op both name 2^53+1 —
    // each must hit exactly that row against the now-string column
    graft.api.UpdateBridge.applyJson(c,
      s"""{"operations": [
         |  {"upsert": {"points": [{"id": "0f0e0d0c-0b0a-0908-0706-050403020100",
         |    "vector": [0.5, 0.5], "payload": {"tag": "u"}}]}},
         |  {"set_payload": {"payload": {"hit": "list"}, "points": [${p53 + 1}]}},
         |  {"set_payload": {"payload": {"hit2": "filter"},
         |    "filter": {"must": [{"has_id": [${p53 + 1}]}]}}}
         |]}""".stripMargin)
    val tags = c.read().select("id", "payload").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tags.keySet == Set(p53.toString, (p53 + 1).toString,
      "0f0e0d0c-0b0a-0908-0706-050403020100"))
    assert(!tags(p53.toString).contains("hit"),
      s"id $p53 was wrongly touched: ${tags(p53.toString)}")
    assert(tags((p53 + 1).toString).contains("\"hit\":\"list\"") &&
      tags((p53 + 1).toString).contains("\"hit2\":\"filter\""),
      s"id ${p53 + 1} missed an update: ${tags((p53 + 1).toString)}")
  }

  test("IDF sidecar is LAZY and WRITE-SCOPED: payload-only writes keep it " +
      "byte-identical, scoped upserts refresh ONLY touched tenants, " +
      "full writes invalidate for lazy rebuild") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.{CollectionConfig, SparseVectorConfig}
    val path = tmpDir()
    val cfg = CollectionConfig(idCol = "id",
      sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf"))),
      payloadTypes = Map("tag" -> StringType),
      shardKeyCol = Some("shard_key"))
    val sparseT = StructType(Seq(
      StructField("indices", ArrayType(LongType)),
      StructField("values", ArrayType(FloatType))))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("sparse_txt", sparseT),
      StructField("payload", StringType),
      StructField("shard_key", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, Row(Seq(1L, 5L), Seq(1f, 1f)), """{"tag":"x"}""", "a"),
      Row(2L, Row(Seq(1L), Seq(1f)), """{"tag":"x"}""", "b"),
      Row(3L, Row(Seq(5L, 9L), Seq(1f, 1f)), """{"tag":"x"}""", "b"))
    val c = Collection.create(spark, path, cfg,
      spark.createDataFrame(rows, schema))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def sidecar(): String = {
      val in = fs.open(c.sparseIdfPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    // create writes the SHARDED sidecar eagerly (data was hot anyway)
    assert(fs.exists(c.sparseIdfPath))
    assert(c.sparseIdfStats("txt") == ((3L, Map(1L -> 2L, 5L -> 2L, 9L -> 1L))))
    val created = sidecar()
    assert(created.contains("\"sharded\""))

    // 1. a scoped PAYLOAD-ONLY write cannot change document frequencies:
    //    the sidecar file stays byte-identical — zero idf jobs, zero
    //    invalidation (where data-writes merely go lazy, payload ops are
    //    entirely free for the sidecar)
    graft.api.UpdateBridge.applyJson(c,
      """{"operations": [{"set_payload": {"payload": {"tag": "y"},
        |  "points": [1], "shard_key": "a"}}]}""".stripMargin)
    assert(sidecar() == created, "payload-only write disturbed the IDF sidecar")

    // 2. warm stats on a FRESH instance: served from the persisted sidecar,
    //    ZERO Spark jobs
    val warm = new Collection(spark, path, cfg)
    val (jobs, _) = jobsDuring {
      val (n, dfs) = warm.sparseIdfStats("txt")
      assert((n, dfs) == ((3L, Map(1L -> 2L, 5L -> 2L, 9L -> 1L))))
    }
    assert(jobs == 0,
      s"warm sidecar read ran $jobs Spark jobs (expected 0)")

    // 3. a SCOPED upsert into tenant a refreshes ONLY a's partial. Proof by
    //    corruption: poison tenant b's stored partial; a scoped write must
    //    CARRY IT OVER untouched (a full-table recompute would repair it —
    //    exactly what must not happen on a 100 TB table).
    val poisoned = created.replace("\"b\":{\"n\":2", "\"b\":{\"n\":7")
    assert(poisoned != created, "fixture: expected b partial in the sidecar")
    val out = fs.create(c.sparseIdfPath, true)
    try out.write(poisoned.getBytes("UTF-8")) finally out.close()
    val c2 = new Collection(spark, path, cfg) // cold cache → reads the file
    graft.api.UpdateBridge.applyJson(c2,
      """{"operations": [{"upsert": {"points": [
        |  {"id": 9, "vector": {"txt": {"indices": [5], "values": [1.0]}},
        |   "shard_key": "a"}]}}]}""".stripMargin)
    // a recomputed: {1: [1,5], 9: [5]} → n=2, df(1)=1, df(5)=2;
    // b CARRIED corrupted: n=7 (real 2), df {1:1, 5:1, 9:1}
    assert(c2.sparseIdfStats("txt") ==
      ((9L, Map(1L -> 2L, 5L -> 3L, 9L -> 1L))),
      "scoped refresh recomputed untouched tenants (or missed the touched one)")

    // 4. a WHOLE-TABLE df-changing write just invalidates (lazy contract);
    //    the first read needing IDF rebuilds and repairs
    c2.deleteByIds(Seq(2L))
    assert(!fs.exists(c2.sparseIdfPath),
      "whole-table write must invalidate, not eagerly rebuild")
    assert(c2.sparseIdfStats("txt") == ((3L, Map(1L -> 1L, 5L -> 3L, 9L -> 1L))))
    assert(fs.exists(c2.sparseIdfPath), "first IDF read must persist the rebuild")

    // 5. a scoped df-changing write against a COLD sidecar stays cold —
    //    no partial exists to splice into, and eagerly rebuilding would
    //    re-introduce the table-sized write cost the lazy contract removed
    fs.delete(c2.sparseIdfPath, false)
    val c3 = new Collection(spark, path, cfg) // fresh instance: cold cache
    graft.api.UpdateBridge.applyJson(c3,
      """{"operations": [{"upsert": {"points": [
        |  {"id": 11, "vector": {"txt": {"indices": [9], "values": [1.0]}},
        |   "shard_key": "a"}]}}]}""".stripMargin)
    assert(!fs.exists(c3.sparseIdfPath),
      "scoped write on a cold sidecar must stay cold (lazy rebuild on read)")
    assert(c3.sparseIdfStats("txt") == ((4L, Map(1L -> 1L, 5L -> 3L, 9L -> 2L))))

    // 6. a FLAT-format sidecar (hand-seeded, e.g. pre-sharding heritage)
    //    cannot splice per-key partials — a scoped write must invalidate
    //    it rather than trust it
    val merged = c3.sparseIdfStats("txt")
    val flatJson = s"""{"txt":{"n":${merged._1},"df":{${
      merged._2.toSeq.sortBy(_._1).map { case (d, n) => s""""$d":$n""" }.mkString(",")
    }}}}"""
    val out2 = fs.create(c3.sparseIdfPath, true)
    try out2.write(flatJson.getBytes("UTF-8")) finally out2.close()
    val c4 = new Collection(spark, path, cfg)
    graft.api.UpdateBridge.applyJson(c4,
      """{"operations": [{"delete": {"points": [11], "shard_key": "a"}}]}""")
    assert(!fs.exists(c4.sparseIdfPath),
      "a flat-format sidecar must invalidate on a scoped write, not splice")
    assert(c4.sparseIdfStats("txt") == ((3L, Map(1L -> 1L, 5L -> 3L, 9L -> 1L))))

    // 7. PARTIALLY-warm sidecar: with TWO idf spaces the lazy rebuild
    //    persists only the space a read touched, so the other space can be
    //    ABSENT from a warm file. A scoped write must NOT fabricate the
    //    missing entry from the touched tenant's rows (that would record
    //    one tenant's (N, df) as the collection's and stay warm forever) —
    //    it stays absent and the next read rebuilds it table-wide.
    val cfg2 = cfg.copy(sparse = Seq(
      SparseVectorConfig("txt", modifier = Some("idf")),
      SparseVectorConfig("ttl", modifier = Some("idf"))))
    val schema2 = StructType(Seq(
      StructField("id", LongType),
      StructField("sparse_txt", sparseT),
      StructField("sparse_ttl", sparseT),
      StructField("payload", StringType),
      StructField("shard_key", StringType)))
    val rows2 = java.util.Arrays.asList(
      Row(1L, Row(Seq(1L), Seq(1f)), Row(Seq(2L), Seq(1f)), """{"tag":"x"}""", "a"),
      Row(2L, Row(Seq(1L), Seq(1f)), Row(Seq(2L), Seq(1f)), """{"tag":"x"}""", "b"),
      Row(3L, Row(Seq(1L), Seq(1f)), Row(Seq(3L), Seq(1f)), """{"tag":"x"}""", "b"))
    val path2 = tmpDir()
    val c5 = Collection.create(spark, path2, cfg2,
      spark.createDataFrame(rows2, schema2))
    fs.delete(c5.sparseIdfPath, false) // go cold
    val c6 = new Collection(spark, path2, cfg2)
    c6.sparseIdfStats("txt") // lazy rebuild persists ONLY txt
    def sidecar6(): String = {
      val in = fs.open(c6.sparseIdfPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    assert(!sidecar6().contains("\"ttl\""),
      "fixture: the lazy rebuild must persist only the read space")
    graft.api.UpdateBridge.applyJson(c6,
      """{"operations": [{"upsert": {"points": [
        |  {"id": 9, "vector": {
        |     "txt": {"indices": [1], "values": [1.0]},
        |     "ttl": {"indices": [2], "values": [1.0]}},
        |   "shard_key": "a"}]}}]}""".stripMargin)
    assert(!sidecar6().contains("\"ttl\""),
      "scoped refresh fabricated the absent space's entry from one tenant")
    // full-table truth: rows {1,2,9} carry ttl dim 2, row 3 dim 3 → n=4;
    // a tenant-a fabrication would have recorded n=2, df(2)=2
    assert(c6.sparseIdfStats("ttl") == ((4L, Map(2L -> 3L, 3L -> 1L))),
      "absent space must rebuild table-wide on its first read")
  }

  /** (id, score) rows, the score read as a double whatever its column type
    * (u8 Dot scores are BIGINT). */
  private def ranked(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getAs[Number]("score").doubleValue)).toSeq

  test("Uint8 Dot: wire query scores the stored bytes like knn (root, RRF leaf, groups)") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", payloadCol = "payload",
        vectors = Seq(VectorConfig("", 4, Dot, datatype = Uint8)),
        payloadTypes = Map("g" -> LongType)),
      Seq(
        (1L, Seq(10f, 0f, 0f, 0f), """{"g":1}"""),
        (2L, Seq(0f, 9f, 0f, 0f), """{"g":2}"""),
        (3L, Seq(0f, 0f, 0f, 8f), """{"g":3}"""),
        // scores 0 once the query is cast to u8 (0.9 → 0), 18.0 uncast
        (4L, Seq(20f, 0f, 0f, 0f), """{"g":4}"""),
      ).toDF("id", "vector", "payload"))
    val q = "[0.9, 1.9, 0.0, -5.0]"
    // the query casts to u8 [0, 1, 0, 0], as qdrant's byte scorer casts it
    val knn = ranked(c.knn("", Seq(0.9, 1.9, 0.0, -5.0), k = 3))
    assert(knn == Seq((2L, 9.0), (1L, 0.0), (3L, 0.0)), knn)
    val root = ranked(c.query(s"""{"query": $q, "limit": 3}"""))
    // RRF scores are rank-based: the fused order is the leaf's order
    val fused = c.query(
      s"""{"prefetch": [{"query": $q, "limit": 3}], "query": {"fusion": "rrf"},
         |  "limit": 3}""".stripMargin).collect().map(_.getLong(0)).toSeq
    val groups = c.queryGroups(
      s"""{"query": $q, "group_by": "g", "group_size": 1, "limit": 3}""")
      .collect().map(r => (r.getLong(1), r.getAs[Number]("score").doubleValue)).toSeq
    val wrong = Seq(("root", root == knn, root), ("RRF leaf", fused == knn.map(_._1), fused),
      ("groups", groups == knn, groups)).filterNot(_._2)
    assert(wrong.isEmpty,
      wrong.map { case (route, _, got) => s"$route $got" }.mkString("; ") + s" vs knn $knn")
  }

  test("Uint8 multivector wire query equals knnMultivec and exact u8 MaxSim") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("tok", 3, Dot, multivector = true, datatype = Uint8))),
      Seq(
        (1L, Seq(Seq(90f, 0f, 10f), Seq(0f, 50f, 0f))),
        (2L, Seq(Seq(3f, 200f, 1f))),
        (3L, Seq(Seq(1f, 1f, 250f), Seq(40f, 2f, 0f)))
      ).toDF("id", "vector_tok"))
    val qs = Seq(Seq(100.7, 0.0, -3.0), Seq(0.5, 60.2, 0.0))
    def u8(x: Double): Long = if (x <= 0) 0L else math.min(255.0, math.floor(x)).toLong
    val stored = Map(1L -> Seq(Seq(90L, 0L, 10L), Seq(0L, 50L, 0L)),
      2L -> Seq(Seq(3L, 200L, 1L)), 3L -> Seq(Seq(1L, 1L, 250L), Seq(40L, 2L, 0L)))
    val expected = stored.toSeq.map { case (id, toks) =>
      (id, qs.map(q => toks.map(t => t.zip(q).map { case (a, b) => a * u8(b) }.sum).max)
        .sum.toDouble)
    }.sortBy { case (id, sc) => (-sc, id) }
    val knn = ranked(c.knnMultivec("tok", qs, k = 3))
    assert(knn == expected, s"knnMultivec $knn vs $expected")
    val wire = ranked(c.query(
      """{"query": [[100.7, 0.0, -3.0], [0.5, 60.2, 0.0]], "using": "tok",
        |  "limit": 3}""".stripMargin))
    assert(wire == knn, s"wire $wire vs knnMultivec $knn")
  }

  test("Float16 wire nearest equals knn bit for bit") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 4, Dot, datatype = Float16))),
      Seq(
        (1L, Seq(0.1f, 0.2f, 0.3f, 0.4f)),
        (2L, Seq(0.7f, -0.1f, 0.33f, 0.01f)),
        (3L, Seq(-0.6f, 0.9f, 0.123f, 0.5f))
      ).toDF("id", "vector"))
    val q = Seq(0.31, -0.77, 0.123456, 0.9)
    val knn = c.knn("", q, k = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wire = c.query(s"""{"query": ${q.mkString("[", ",", "]")}, "limit": 3}""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wire.map(_._1) == knn.map(_._1), s"wire $wire vs knn $knn")
    wire.zip(knn).foreach { case ((_, w), (_, k)) =>
      assert(java.lang.Double.doubleToLongBits(w) == java.lang.Double.doubleToLongBits(k),
        s"wire score $w vs knn $k")
    }
  }

  test("an idf space weights every example of recommend/discover/context like a nearest") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id",
        sparse = Seq(graft.sources.SparseVectorConfig("txt", modifier = Some("idf")))),
      Seq(
        (1L, (Seq(0, 1), Seq(1.0f, 0.5f))),
        (2L, (Seq(0, 2), Seq(0.3f, 1.0f))),
        (3L, (Seq(1, 3), Seq(2.0f, 0.7f))),
        (4L, (Seq(0), Seq(0.8f))),
        (5L, (Seq(2, 3), Seq(0.4f, 1.5f))),
        (6L, (Seq(3, 4), Seq(0.2f, 1.0f)))
      ).map { case (id, (i, v)) => (id, i, v) }.toDF("id", "i", "v")
        .select(col("id"), struct(col("i").as("indices"), col("v").as("values"))
          .as("sparse_txt")))
    val (p, n, t) = ("""{"indices": [1, 2], "values": [1.0, 0.5]}""",
      """{"indices": [0, 3], "values": [1.0, 0.5]}""",
      """{"indices": [2, 4], "values": [1.0, 1.0]}""")
    def scores(query: String): Map[Long, Double] =
      ranked(c.query(s"""{"query": $query, "using": "txt", "limit": 10}""")).toMap
    // each example's idf-weighted nearest score; rows sharing no dim score 0
    def near(v: String): Long => Double = scores(v).getOrElse(_, 0.0)
    val (sp, sn, st) = (near(p), near(n), near(t))
    // the raw (unweighted) dots differ: a missing weighting cannot pass
    assert(math.abs(sp(3L) - 2.0) > 1e-3, sp(3L))
    def sigma(x: Double) = x / (1.0 + math.abs(x))
    def scaled(x: Double) = 0.5 * (sigma(x) + 1.0)
    def check(kind: String, query: String, expect: Long => Double): Unit = {
      val got = scores(query)
      assert(got.nonEmpty, kind)
      got.foreach { case (id, s) =>
        assert(math.abs(s - expect(id)) < 1e-5, s"$kind id $id: $s vs ${expect(id)}")
      }
    }
    def rec(strategy: String) =
      s"""{"recommend": {"positive": [$p], "negative": [$n], "strategy": "$strategy"}}"""
    // average_vector: one nearest with 2·w(p) − w(n), linear in the dot
    check("average_vector", rec("average_vector"), id => 2 * sp(id) - sn(id))
    check("sum_scores", rec("sum_scores"), id => sp(id) - sn(id))
    check("best_score", rec("best_score"),
      id => if (sp(id) > sn(id)) scaled(sp(id)) else -scaled(sn(id)))
    check("discover",
      s"""{"discover": {"target": $t, "context": [{"positive": $p, "negative": $n}]}}""",
      id => math.signum(sp(id) - sn(id)) + scaled(st(id)))
    check("context", s"""{"context": [{"positive": $p, "negative": $n}]}""",
      id => sigma(math.min(sp(id) - sn(id) - graft.ops.Search.ContextMargin, 0.0)))
  }

  test("Uint8 multivector wire query scores MaxSim under every metric") {
    import spark.implicits._
    // integer queries inside the u8 range: the u8 cast leaves them as is
    val stored = Seq(1L -> Seq(Seq(3, 0), Seq(0, 4)), 2L -> Seq(Seq(1, 1)),
      3L -> Seq(Seq(2, 5), Seq(6, 1)))
    val qs = Seq(Seq(2, 1), Seq(0, 3))
    def dot(a: Seq[Int], b: Seq[Int]) = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
    // per-token similarity, larger-better (Euclid −Σd², Manhattan −Σ|d|)
    val sims: Seq[(Metric, (Seq[Int], Seq[Int]) => Double)] = Seq(
      Dot -> dot,
      Cosine -> ((s, q) => dot(s, q) / (math.sqrt(dot(s, s)) * math.sqrt(dot(q, q)))),
      Euclid -> ((s, q) => -s.zip(q).map { case (x, y) => (x - y) * (x - y) }.sum.toDouble),
      Manhattan -> ((s, q) => -s.zip(q).map { case (x, y) => math.abs(x - y) }.sum.toDouble))
    val df = stored.map { case (id, toks) => (id, toks.map(_.map(_.toFloat))) }
      .toDF("id", "vector_tok")
    sims.foreach { case (metric, sim) =>
      val c = Collection.create(spark, tmpDir(),
        CollectionConfig(idCol = "id", vectors =
          Seq(VectorConfig("tok", 2, metric, multivector = true, datatype = Uint8))), df)
      val expected = stored.map { case (id, toks) =>
        (id, qs.map(q => toks.map(sim(_, q)).max).sum)
      }.sortBy { case (id, sc) => (-sc, id) }
      val wire = ranked(c.query(
        """{"query": [[2, 1], [0, 3]], "using": "tok", "limit": 3}"""))
      assert(wire.map(_._1) == expected.map(_._1), s"$metric: $wire vs $expected")
      wire.zip(expected).foreach { case ((id, w), (_, e)) =>
        assert(math.abs(w - e) < 1e-5, s"$metric id $id: $w vs $e")
      }
    }
  }

  test("a fusion parent ranks a Euclid recommend leaf nearest-first") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Euclid))),
      Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(5f, 5f))).toDF("id", "vector"))
    def ids(json: String) = c.query(json).collect().map(_.getLong(0)).toSeq
    val rec = """{"recommend": {"positive": [[1, 0]], "strategy": "average_vector"}}"""
    val flat = ids(s"""{"query": $rec, "limit": 3}""")
    assert(flat == Seq(1L, 2L, 3L), flat)
    def rrf(leaf: String) = ids(
      s"""{"prefetch": [{"query": $leaf, "limit": 3}], "query": {"fusion": "rrf"},
         |  "limit": 3}""".stripMargin)
    assert(rrf(rec) == flat, "RRF over the recommend leaf")
    assert(rrf("[1, 0]") == flat, "RRF over the nearest leaf")
  }

  test("query/groups ranks only the rows the flat query ranks (dense and sparse)") {
    import org.apache.spark.sql.Row
    import spark.implicits._
    def scored(df: org.apache.spark.sql.DataFrame, idAt: Int) =
      df.collect().map(r => (r.getLong(idAt),
        Option(r.getAs[Number]("score")).map(_.doubleValue))).toSeq
    def groupsEqualFlat(c: Collection, q: String): Unit = {
      val flat = scored(c.query(s"""{$q, "limit": 10}"""), 0)
      val groups = scored(c.queryGroups(
        s"""{$q, "group_by": "g", "group_size": 1, "limit": 10}"""), 1)
      assert(groups == flat, s"groups $groups vs flat $flat")
    }
    // Euclid: point 3 lacks the vector (a null score would lead ascending)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vector", ArrayType(FloatType)), StructField("payload", StringType)))
    val dense = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Euclid)),
        payloadTypes = Map("g" -> LongType)),
      spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, Array(1.0f, 0.0f), """{"g":1}"""),
        Row(2L, Array(0.0f, 1.0f), """{"g":2}"""),
        Row(3L, null, """{"g":3}""")), schema))
    groupsEqualFlat(dense, """"query": [1, 0]""")
    // sparse: point 3 shares no dim with the query
    val sparse = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id",
        sparse = Seq(graft.sources.SparseVectorConfig("txt")),
        payloadTypes = Map("g" -> LongType)),
      Seq((1L, Seq(0), Seq(1.0f), """{"g":1}"""),
          (2L, Seq(0, 1), Seq(0.5f, 1.0f), """{"g":2}"""),
          (3L, Seq(2), Seq(1.0f), """{"g":3}"""))
        .toDF("id", "i", "v", "payload")
        .select(col("id"), struct(col("i").as("indices"), col("v").as("values"))
          .as("sparse_txt"), col("payload")))
    groupsEqualFlat(sparse,
      """"query": {"indices": [0], "values": [1.0]}, "using": "txt"""")
  }

  test("a dense prefetch leaf searches with its own params like knn (IVF + PQ)") {
    import graft.sources.{IvfSpec, QuantizationSpec}
    val sf = "/root/testdata/sf0.001"
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "vec_id", vectors = Seq(VectorConfig("", 64, Dot,
        quantization = Some(QuantizationSpec("product")),
        ann = Some(IvfSpec(cells = 8, nprobe = 3))))),
      Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").as("vector")))
    val q = Tables.embeddingOf(spark, sf, 7L)
    val qj = q.mkString("[", ",", "]")
    // wire `params` → the knn knobs they map to
    val cases = Seq(
      """{"hnsw_ef": 1}""" -> c.knn("", q, nprobe = Some(1)),
      """{"exact": true}""" -> c.knn("", q, exact = true),
      "{}" -> c.knn("", q),
      """{"quantization": {"rescore": false}}""" -> c.knn("", q, rescore = false),
      """{"quantization": {"oversampling": 1.5}}""" -> c.knn("", q, oversampling = 1.5),
      """{"hnsw_ef": 8, "quantization": {"ignore": true}}""" ->
        c.knn("", q, nprobe = Some(8), quantized = false))
    for ((params, knn) <- cases) {
      val want = ranked(knn)
      val root = ranked(c.query(s"""{"query": $qj, "limit": 10, "params": $params}"""))
      assert(root == want, s"root $params: $root vs knn $want")
      val fused = c.query(
        s"""{"prefetch": [{"query": $qj, "limit": 10, "params": $params}],
           |  "query": {"fusion": "rrf"}, "limit": 10}""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
      assert(fused == want.map(_._1), s"RRF leaf $params: $fused vs knn ${want.map(_._1)}")
    }
  }

  test("a prefetch leaf with quantization.rescore = false ranks and scores like knn") {
    import spark.implicits._
    val c = Collection.create(spark, tmpDir(),
      CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 4, Dot,
        quantization = Some(graft.sources.QuantizationSpec("scalar"))))),
      (1L to 40L).map(i =>
        (i, Seq.tabulate(4)(d => math.sin(i * 0.37 + d * 1.3).toFloat)))
        .toDF("id", "vector"))
    val q = Seq(0.3, -0.2, 0.9, 0.1)
    val knn = ranked(c.knn("", q, k = 5, rescore = false))
    // the served int8 scores are not the exact ones
    assert(knn != ranked(c.knn("", q, k = 5, quantized = false)))
    // a formula parent serves each candidate's leaf score
    val leaf = ranked(c.query(
      s"""{"prefetch": [{"query": ${q.mkString("[", ",", "]")}, "limit": 5,
         |  "params": {"quantization": {"rescore": false}}}],
         |  "query": {"formula": "$$score"}, "limit": 5}""".stripMargin))
    assert(leaf == knn, s"leaf $leaf vs knn $knn")
  }
}
