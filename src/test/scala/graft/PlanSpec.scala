package graft

import org.apache.spark.sql.functions._

import graft.model._
import graft.ops.Search

/** Physical-plan shape assertions — the properties the 100 TB design relies
  * on (SURVEY.md §7, README scale notes). These catch regressions where a
  * change silently turns a pushed filter into a post-scan one, or a
  * partial top-k into a global sort.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("single-query knn plans as TakeOrderedAndProject (partial top-k, no global sort)") {
    val p = plan(SparkEntry.queries("knn_dot")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("\nSort "), "knn must not globally sort:\n" + p.take(800))
    // the optional-vector guard must not re-evaluate the scoring kernel
    // (a pre-limit filter on the computed score gets substituted below the
    // projection: 2 kernel evals per row — the regression this pins)
    assert("vecdot".r.findAllIn(p).length <= 1,
      "scoring kernel evaluated more than once:\n" + p.take(1200))
  }

  test("typed filters push down to the parquet scan") {
    val d = Tables.load(spark, sf, "documents")
    val pred = new graft.filters.FilterCompiler(
      new graft.filters.TypedResolver(d.schema, "doc_id"))
      .compile(Filter.mustAll(MatchValue("lang", "en"),
        RangeCond("n_chars", lt = Some(300L))))
    val p = plan(d.filter(pred).select("doc_id"))
    // scalar equality/range conditions must reach PushedFilters
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(lang,en)"),
      "filter not pushed to scan:\n" + p)
    // and the projection must prune the scan schema (no text column read)
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text"),
      "column pruning failed:\n" + p)
  }

  test("referenced-id exclusion folds into the scan predicate — no extra exchange") {
    // the injected `must_not HasId(7)` (`exclude_referenced_ids`) compiles
    // to a NOT-isin conjunct on the id column: it must reach the parquet
    // scan as a pushed Not(In/EqualTo) filter and add ZERO exchanges vs the
    // raw-vector plan — same TakeOrderedAndProject shape
    import graft.api.RequestCodec
    import graft.api.RequestCodec.{Ctx, VectorSpace}
    import graft.ops.PointQuery
    val e = Tables.load(spark, sf, "embeddings")
    val ctx = Ctx(Map("" -> VectorSpace("embedding", Dot)),
      resolveId = (_, _) => Left(Tables.embeddingOf(spark, sf, 7L)))
    val q = RequestCodec.parseQueryRequest("""{"query": 7, "limit": 10}""", ctx)
    val df = PointQuery.execute(spark, e, "vec_id",
      new graft.filters.TypedResolver(e.schema, "vec_id"), q)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("Not(EqualTo(vec_id,7))") || p.contains("Not(In(vec_id"),
      "exclusion not pushed to the scan:\n" + p.take(1500))
    assert(!p.contains("Exchange"),
      "exclusion added an exchange:\n" + p.take(1500))
  }

  test("multivec recommend is one scan + TakeOrdered with the exclusion pushed") {
    // a wire Recommend root on a multivector space (by-id example →
    // excluded) must keep the dense plan shape: MaxSim per example is a
    // codegen'd projection, the injected must_not HasId reaches the scan,
    // and no exchange appears
    import graft.api.RequestCodec
    import graft.api.RequestCodec.{Ctx, VectorSpace}
    import graft.ops.PointQuery
    val path = "/tmp/graft_runtime/planspec_mvrec"
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        array(slice(col("embedding"), 1, 32), slice(col("embedding"), 33, 32))
          .as("vector_tok"))
      .write.mode("overwrite").parquet(path)
    val e = spark.read.parquet(path)
    val ctx = Ctx(Map("tok" -> VectorSpace("vector_tok", Dot, multivector = true)),
      resolveId = (_, _) => Right {
        val v = Tables.embeddingOf(spark, sf, 7L)
        Seq(v.take(32), v.drop(32))
      })
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"recommend": {"positive": [7],
        |  "negative": [[0.1, 0.2]], "strategy": "best_score"}},
        |  "using": "tok", "limit": 10}""".stripMargin, ctx)
    val df = PointQuery.execute(spark, e, "vec_id",
      new graft.filters.TypedResolver(e.schema, "vec_id"), q)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("Not(EqualTo(vec_id,7))") || p.contains("Not(In(vec_id"),
      "exclusion not pushed to the scan:\n" + p.take(1500))
    assert(!p.contains("Exchange"),
      "multivec recommend added an exchange:\n" + p.take(1500))
  }

  test("uuid scroll cursor keeps a pushable raw bound on the id scan") {
    // mixed NumId+Uuid ordering sorts by a derived key (rlike + concat —
    // not pushable), so scrollById conjoins the IMPLIED raw bound
    // `id >= <uuid>` for uuid cursors: that one must reach the parquet
    // scan as a pushed GreaterThanOrEqual so the id-sorted layout prunes
    val path = "/tmp/graft_runtime/planspec_uuid_scroll"
    Tables.load(spark, sf, "documents")
      .select(concat(lit("00000000-0000-0000-0000-"),
        lpad(col("doc_id").cast("string"), 12, "0")).as("id"), col("lang"))
      .write.mode("overwrite").parquet(path)
    val d = spark.read.parquet(path)
    val cursor = "00000000-0000-0000-0000-000000000100"
    val df = graft.ops.Reads.scrollById(d, "id", None,
      new graft.filters.TypedResolver(d.schema, "id"),
      offsetId = Some(cursor), limit = 10, projection = Seq("id", "lang"))
    val p = plan(df)
    assert(p.contains(s"GreaterThanOrEqual(id,$cursor)"),
      "uuid cursor bound not pushed to the scan:\n" + p.take(1500))
  }

  test("batch knn broadcasts the query side") {
    val e = Tables.load(spark, sf, "embeddings")
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = plan(Search.knnBatch(e, "vec_id", "embedding", qs, "qid", "qv", Dot, k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query side not broadcast:\n" + p.take(1200))
  }

  test("batch knn reduces map-side: partial top-k aggregation, no full-row exchange") {
    val e = Tables.load(spark, sf, "embeddings")
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = plan(Search.knnBatch(e, "vec_id", "embedding", qs, "qid", "qv", Dot, k = 3))
    // Long ids → heap-aggregator path: ObjectHashAggregate with a partial
    // stage BELOW the exchange — each mapper ships ≤ k entries per query
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkagg"),
      "no partial top-k aggregation:\n" + p.take(1500))
    assert(!p.contains("Window ["), "agg path must not plan a window:\n" + p.take(1500))
    // the partial aggregate must sit below the exchange (printed after it)
    assert(p.indexOf("partial_topkagg") > p.indexOf("Exchange hashpartitioning"),
      "partial aggregation not below the exchange:\n" + p.take(1500))
  }

  test("batch knn window fallback (non-Long ids) bounds the window map-side") {
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("sid", concat(lit("u"), col("vec_id")))
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val p = plan(Search.knnBatch(e, "sid", "embedding", qs, "qid", "qv", Dot, k = 3))
    // string ids → window path; Spark ≥ 3.5 inserts WindowGroupLimit in
    // Partial mode below the exchange, so the shuffle still ships only
    // ≤ k rows per (mapper, query) — never the full scored row set
    assert(p.contains("WindowGroupLimit") && p.contains(", Partial"),
      "no partial WindowGroupLimit:\n" + p.take(1500))
    assert(p.indexOf(", Partial") > p.indexOf("Exchange hashpartitioning"),
      "partial group-limit not below the exchange:\n" + p.take(1500))
  }

  test("sparse struct knn is one scan + partial top-k — no join, no hash shuffle") {
    import graft.functions.VectorFunctions
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("sv", struct(
        filter(transform(col("embedding"), (x, i) =>
          when(x.cast("double") > lit(0.25d), i).otherwise(lit(-1))),
          x => x =!= lit(-1)).as("indices"),
        filter(col("embedding"), x => x.cast("double") > lit(0.25d)).as("values")))
    val df = graft.ops.Search.scoredTopK(e, "vec_id",
      VectorFunctions.sparseDot(col("sv.indices"), col("sv.values"),
        Seq(1, 5, 9), Seq(1.0, 2.0, 3.0)),
      largerBetter = true,
      Some(arrays_overlap(col("sv.indices"), typedLit(Seq(1, 5, 9)))), k = 10)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      "sparse knn must not shuffle or join:\n" + p.take(1200))
  }

  test("shard-key selector prunes shard directories at the scan") {
    val df = graft.queries.VectorQueries.shardedColl(spark, sf).read()
    val pred = new graft.filters.FilterCompiler(
      new graft.filters.TypedResolver(df.schema, "vec_id"))
      .compile(Filter.mustAll(MatchAny("shard_key", Seq("a", "b"))))
    val p = plan(df.filter(pred).select("vec_id"))
    // the selector must reach PartitionFilters (directory-level pruning),
    // not a post-scan Filter over all shards
    assert(p.contains("PartitionFilters: [") && p.matches("(?s).*PartitionFilters: \\[[^\\]]*shard_key[^\\]]*\\].*"),
      "shard_key not a partition filter:\n" + p.take(1500))
  }

  test("similarity scoring stays inside whole-stage codegen") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = Tables.embeddingOf(spark, sf, 1L)
    val scored = e.select(Search.scoreExpr(Dot, col("embedding"), typedLit(q)).as("s"))
    // the "*(n)" operator prefix marks whole-stage-codegen membership
    assert(plan(scored).contains("*(1)"), plan(scored).take(300))
  }

  test("fused dequant scoring stays inside whole-stage codegen") {
    import graft.index.Quantization
    val e = Tables.load(spark, sf, "embeddings")
    val p = Quantization.ScalarParams(-0.5, 0.5)
    val enc = e.select(Quantization.encodeScalar(col("embedding"), p).as("qvec"))
    val scored = enc.select(
      Quantization.scalarScore(Dot, col("qvec"),
        Tables.embeddingOf(spark, sf, 1L), p).as("s"))
    val pl = plan(scored)
    assert(pl.contains("*(1)"), "dequant fold fell out of codegen:\n" + pl.take(400))
    assert(pl.toLowerCase.contains("vecdequantfold"),
      "approx score is not the fused kernel:\n" + pl.take(400))
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val d = Tables.load(spark, sf, "documents")
    val bench = d.filter(col("doc_id") % 11 === 0)
    val p = plan(graft.pipeline.Dedup.decontaminate(d, "doc_id", "text", bench, "text"))
    assert(p.contains("BroadcastExchange"),
      "benchmark shingles not broadcast:\n" + p.take(1200))
  }

  test("repetition signals are one shuffle-free codegen'd projection") {
    val d = Tables.load(spark, sf, "documents")
    val p = plan(graft.pipeline.TextAnalysis.withRepetitionSignals(d, "text")
      .select("doc_id", "dup_word_frac", "dup_3gram_frac"))
    assert(!p.contains("Exchange"), "signal extraction must not shuffle:\n" + p.take(800))
    assert(p.contains("*(1)"), "kernel fell out of codegen:\n" + p.take(800))
  }

  test("config-routed reduced-width knn reads only the narrow stored column") {
    import java.nio.file.Files
    import graft.sources.{CollectionConfig, VectorConfig}
    import graft.storage.Collection
    import spark.implicits._
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot, datatype = Uint8)))
    val pts = (0L until 64L)
      .map(i => (i, Seq(i * 0.01f, 0.5f - i * 0.001f, 0.25f, -0.125f)))
      .toDF("id", "vector")
    val c = Collection.create(spark,
      Files.createTempDirectory("graft_plan_u8").resolve("pts").toString, cfg, pts)
    val p = plan(c.knn("", Seq(0.1, 0.2, 0.3, 0.4), k = 5))
    // the scan must read the ENCODED column type (array<tinyint>), never a
    // decoded float array — the fused kernel decodes inline
    assert(p.contains("vector:array<tinyint>"),
      "scan does not read the narrow encoded column:\n" + p.take(1200))
    // top-k shape preserved through the config path
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    // the scoring projection stays inside whole-stage codegen
    assert(p.contains("*(1)"), "kernel fell out of codegen:\n" + p.take(800))
  }

  test("IVF partitioned layout prunes unprobed cells at the directory level") {
    val e = Tables.load(spark, sf, "embeddings")
    val model = graft.index.IvfIndex.build(e, "embedding", k = 4)
    val assigned = graft.index.IvfIndex.assign(e, "embedding", model)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/pts"
    graft.index.IvfIndex.writePartitioned(assigned, path)
    val indexed = spark.read.parquet(path)
    val q = Tables.embeddingOf(spark, sf, 7L)
    val score = Search.scoreExpr(Dot, col("embedding"), typedLit(q))
    val cells = Some(Search.Cells("centroid_id", model.probe(q, 1)))
    val probed = Search.nearest(indexed, "vec_id", score, Dot.largerBetter,
      cells = cells, k = 5)
    val p = plan(probed)
    assert(p.contains("PartitionFilters: [") && p.contains("centroid_id"),
      "probe filter did not become a partition filter:\n" + p.takeRight(900))
    // results equal the in-memory filter path
    val expect = Search.nearest(assigned, "vec_id", score, Dot.largerBetter,
      cells = cells, k = 5).collect().map(_.getLong(0)).toSeq
    assert(probed.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("shard-key × IVF layout: a shard-scoped ANN query prunes BOTH partition levels") {
    val e = Tables.load(spark, sf, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsk").toString + "/pts"
    val cfg = graft.sources.CollectionConfig(
      idCol = "vec_id",
      vectors = Seq(graft.sources.VectorConfig("", 64, Dot,
        ann = Some(graft.sources.IvfSpec(cells = 4, nprobe = 1)))),
      shardKeyCol = Some("shard_key"))
    val coll = graft.storage.Collection.create(spark, path, cfg,
      e.select(col("vec_id"), col("embedding").as("vector"),
        when(col("vec_id") % 2 === 0, "a").otherwise("b").as("shard_key")))
    val q = Tables.embeddingOf(spark, sf, 7L)
    val p = plan(coll.knn("", q,
      filter = Some(Filter.mustAll(MatchAny("shard_key", Seq("a")))), k = 5))
    // BOTH the tenant directory and the unprobed cells prune at the scan
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*shard_key[^\\]]*\\].*"),
      "shard selector did not reach PartitionFilters:\n" + p.takeRight(900))
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*ivfcell_vector[^\\]]*\\].*"),
      "IVF probe did not reach PartitionFilters:\n" + p.takeRight(900))
    // correctness: all-probe within the shard equals the exact shard scan
    val approx = coll.knn("", q, filter =
      Some(Filter.mustAll(MatchAny("shard_key", Seq("a")))), k = 5,
      nprobe = Some(4)).collect().map(_.getLong(0)).toSeq
    val exact = coll.knn("", q, filter =
      Some(Filter.mustAll(MatchAny("shard_key", Seq("a")))), k = 5,
      exact = true).collect().map(_.getLong(0)).toSeq
    assert(approx == exact, s"all-probe shard knn $approx != exact $exact")
  }

  test("config-routed IVF: probe is a PartitionFilter, exact=true bypasses it") {
    val e = Tables.load(spark, sf, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfc").toString + "/pts"
    val cfg = graft.sources.CollectionConfig(
      idCol = "vec_id",
      vectors = Seq(graft.sources.VectorConfig("", 64, Dot,
        ann = Some(graft.sources.IvfSpec(cells = 4, nprobe = 1)))))
    val coll = graft.storage.Collection.create(spark, path, cfg,
      e.select(col("vec_id"), col("embedding").as("vector")))
    val q = Tables.embeddingOf(spark, sf, 7L)
    val p = plan(coll.knn("", q, k = 5))
    assert(p.contains("PartitionFilters: [") && p.contains("ivfcell_vector"),
      "declared-IVF probe did not become a partition filter:\n" + p.takeRight(900))
    val pExact = plan(coll.knn("", q, k = 5, exact = true))
    assert(!pExact.matches("(?s).*PartitionFilters: \\[[^\\]]*ivfcell[^\\]]*\\].*"),
      "exact=true must not prune cells:\n" + pExact.takeRight(900))
    // nprobe = cells ≡ full coverage: same ids as the exact scan
    val all = coll.knn("", q, k = 5, nprobe = Some(4))
      .collect().map(_.getLong(0)).toSeq
    val exact = coll.knn("", q, k = 5, exact = true)
      .collect().map(_.getLong(0)).toSeq
    assert(all == exact)
  }

  test("scroll page walk visits every matching point exactly once") {
    val d = Tables.load(spark, sf, "documents")
    val r = new graft.filters.TypedResolver(d.schema, "doc_id")
    val f = Some(Filter.mustAll(MatchValue("lang", "en")))
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cursor: Option[Any] = None
    var pages = 0
    var done = false
    while (!done && pages < 100) {
      val (rows, next) = graft.ops.Reads.scrollPage(
        d, "doc_id", f, r, cursor, limit = 7, projection = Seq("doc_id"))
      all ++= rows.map(_.getLong(0))
      pages += 1
      next match { case Some(n) => cursor = Some(n); case None => done = true }
    }
    val expect = d.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(all.toSeq == expect, s"pages=$pages walked=${all.size} expect=${expect.size}")
  }

  test("upsert plan is anti-join + union — no full-table window shuffle") {
    val d = Tables.load(spark, sf, "documents")
      .select(col("doc_id").as("id"), col("lang"), col("n_chars"))
    val path = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/coll"
    val coll = graft.storage.Collection.create(spark, path,
      graft.sources.CollectionConfig(idCol = "id", payloadCol = "lang"), d)
    val incoming = d.filter(col("id") < 10)
    val merged = coll.upsertPlan(incoming)
    val p = plan(merged)
    assert(!p.contains("Window"), "upsert must not window the full table:\n" + p.take(1200))
    assert(p.contains("LeftAnti"), "upsert should anti-join existing against incoming ids:\n" + p.take(1200))
    // semantics: replaced ids keep exactly one row, total row count unchanged
    assert(merged.count() == d.count())
    assert(merged.filter(col("id") < 10).count() == incoming.count())
  }

  test("a local upsert batch drops replaced ids by NOT IN — no anti-join, no broadcast") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/coll"
    val coll = graft.storage.Collection.create(spark, path,
      graft.sources.CollectionConfig(idCol = "id", payloadCol = "payload"),
      (1L to 100L).map(i => (i, s"""{"n":$i}""")).toDF("id", "payload"))
    val merged = coll.upsertPlan(
      Seq((5L, """{"n":0}"""), (500L, """{"n":1}""")).toDF("id", "payload"))
    val p = plan(merged)
    assert(!p.contains("LeftAnti") && !p.contains("BroadcastExchange"),
      "a local batch must not join the table:\n" + p.take(1200))
    assert(merged.count() == 101)
    assert(merged.filter(col("id") === 5L).select("payload").as[String]
      .collect().toSeq == Seq("""{"n":0}"""))
  }

  test("group-by search selects top groups via orderBy+limit, not a global window") {
    val e = Tables.load(spark, sf, "documents")
    val r = new graft.filters.TypedResolver(e.schema, "doc_id")
    val g = graft.ops.GroupBy.groupBySearch(e, "doc_id",
      col("n_chars").cast("double"), largerBetter = true,
      groupByField = "lang", r, groupSize = 2, groups = 3)
    val p = plan(g)
    assert(p.contains("TakeOrderedAndProject"),
      "top-groups selection must be a partial top-k:\n" + p.take(1500))
  }

  test("near-dup catalog entries never plan an all-pairs join") {
    // minhash/simhash catalog entries now return one-row contract summaries,
    // so assert on the underlying pair-generation plans directly
    val d = Tables.load(spark, sf, "documents")
    val pairGens = Seq(
      "embedding_neardup" -> (() => SparkEntry.queries("embedding_neardup")(spark, sf)),
      "ngram_jaccard" -> (() => SparkEntry.queries("ngram_jaccard")(spark, sf)),
      "minhash_lsh" -> (() => graft.pipeline.Dedup.minhashLshPairs(
        d, "doc_id", "text", k = 3, bands = 16, rowsPerBand = 4, threshold = 0.05)),
      "simhash_pairs" -> (() => graft.pipeline.Dedup.simhashPairs(
        d, "doc_id", "text", maxHamming = 16)))
    for ((q, mk) <- pairGens) {
      val p = plan(mk())
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q plans an unblocked all-pairs join:\n" + p.take(1500))
    }
  }

  test("VARIANT payload queries parse the JSON payload exactly once per row") {
    for (q <- Seq("payload_json_facet", "payload_json_count")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      // physical plan renders parse as VariantExpressionEvalUtils.parseJson(
      val parses = "parseJson\\(|try_parse_json|get_json_object".r
        .findAllIn(p).length
      assert(parses == 1,
        s"$q must parse the payload once, found $parses:\n" + p.take(1500))
    }
  }

  test("slice filter is a deterministic scan-stage predicate (no shuffle)") {
    val e = Tables.load(spark, sf, "embeddings")
    val pred = new graft.filters.FilterCompiler(
      new graft.filters.TypedResolver(e.schema, "vec_id"))
      .compile(Filter.mustAll(SliceCond(total = 4, index = 1)))
    val p = plan(e.filter(pred).select("vec_id"))
    assert(!p.contains("Exchange"), "slice filter must not shuffle:\n" + p.take(800))
  }

  test("tenant must-match prunes bucket directories at the scan") {
    val coll = graft.queries.TenantQueries.tenantColl(spark, sf)
    // through the real count handler — the prune must survive the whole
    // request path, not just a hand-built predicate
    val cnt = coll.count(
      """{"filter": {"must": [
        |  {"key": "source", "match": {"value": "src3"}}]},
        |  "exact": true}""".stripMargin)
    val p = plan(cnt)
    assert(p.contains("PartitionFilters: [") &&
      p.matches("(?s).*PartitionFilters: \\[[^\\]]*tenantb_source[^\\]]*\\].*"),
      "tenant match not a partition filter:\n" + p.take(1500))
    // the folded literal set: the value's bucket plus the −1 irregular
    // bucket (rows whose tenant field is a list/missing park there)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*-1[^\\]]*\\].*"),
      "irregular −1 bucket missing from the prune:\n" + p.take(1500))
  }

  test("tenant match under must_not or should must NOT prune") {
    val coll = graft.queries.TenantQueries.tenantColl(spark, sf)
    for (body <- Seq(
        """{"filter": {"must_not": [
          |  {"key": "source", "match": {"value": "src3"}}]},
          |  "exact": true}""".stripMargin,
        """{"filter": {"should": [
          |  {"key": "source", "match": {"value": "src3"}},
          |  {"key": "lang", "match": {"value": "en"}}]},
          |  "exact": true}""".stripMargin)) {
      val p = plan(coll.count(body))
      assert(!p.matches("(?s).*PartitionFilters: \\[[^\\]]*tenantb[^\\]]*\\].*"),
        "non-must tenant condition must not prune:\n" + p.take(1500))
    }
  }

  test("declared geo index: the cell-prune conjunct reaches PushedFilters") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = "/tmp/graft_runtime/planspec_geoidx"
    val rows = (1L to 300L).map(i =>
      (i, s"""{"location": {"lon": ${(i % 60).toDouble + 0.5}, """ +
        s""""lat": ${(i % 40).toDouble + 0.5}}}"""))
    val base = graft.storage.Collection.create(spark, path,
      graft.sources.CollectionConfig(), rows.toDF("id", "payload"))
    val (f, dt, _, flags) = graft.api.RequestCodec.parseFieldIndexRequest(
      """{"field_name": "location", "field_schema": "geo"}""")
    val coll = base.buildPayloadIndex(f, dt, flags)
    // a city-radius query: the bounded cover stays at full column
    // precision → an In over the geocell column, translatable to the
    // parquet source together with its IsNotNull guard
    val cnt = coll.count(
      """{"filter": {"must": [{"key": "location", "geo_radius":
        |  {"center": {"lon": 10.0, "lat": 20.0}, "radius": 5000.0}}]},
        |  "exact": true}""".stripMargin)
    val p = plan(cnt)
    // (the In's value list is display-truncated, so no closing-bracket
    // regex — match the translated filters directly)
    assert(p.contains("PushedFilters: [IsNotNull(geocell_location), " +
      "In(geocell_location, [*,"),
      "geo cell prune not in PushedFilters:\n" + p.take(2000))
    // results still exact: the pruned count equals the JSON-only compute
    val expect = rows.count { case (_, pl) =>
      val lon = (pl.split("\"lon\": ")(1).split(",")(0)).toDouble
      val lat = (pl.split("\"lat\": ")(1).split("}")(0)).toDouble
      val rad = math.Pi / 180
      val a = math.pow(math.sin((20.0 - lat) * rad / 2), 2) +
        math.cos(lat * rad) * math.cos(20.0 * rad) *
          math.pow(math.sin((10.0 - lon) * rad / 2), 2)
      2 * 6371008.8 * math.asin(math.sqrt(a)) < 5000.0
    }.toLong
    assert(cnt.head().getLong(0) == expect)
  }

  test("tenant prune reaches the knn scan through the query endpoint") {
    val coll = graft.queries.TenantQueries.tenantColl(spark, sf)
    val q = Tables.embeddingOf(spark, sf, 7L)
    val hits = coll.query(
      s"""{"query": {"nearest": ${q.mkString("[", ",", "]")}},
         |  "filter": {"must": [
         |    {"key": "source", "match": {"value": "src2"}}]},
         |  "limit": 5}""".stripMargin)
    val p = plan(hits)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*tenantb_source[^\\]]*\\].*"),
      "query-endpoint tenant filter not a partition filter:\n" + p.take(1500))
  }

  test("shard_key × ivfcell × geocell: all three prune levels on one query") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the 100 TB multi-tenant geo corpus shape: tenant directories prune
    // via the shard-key partition column, unprobed IVF cells via the
    // ivfcell partition column, and the declared geo index's cell
    // conjunct reaches the parquet source filters — one query, all three
    val path = "/tmp/graft_runtime/planspec_ivfgeo"
    val rows = (1L to 240L).map(i => (i,
      Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat - 6.0f),
      if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
      s"""{"location": {"lon": ${(i % 60).toDouble + 0.5}, """ +
        s""""lat": ${(i % 40).toDouble + 0.5}}}"""))
    val cfg = graft.sources.CollectionConfig(idCol = "id",
      vectors = Seq(graft.sources.VectorConfig("", 8, graft.model.Dot,
        ann = Some(graft.sources.IvfSpec(cells = 4, nprobe = 2)))),
      shardKeyCol = Some("shard_key"))
    val base = graft.storage.Collection.create(spark, path, cfg,
      rows.toDF("id", "vector", "shard_key", "payload"))
    val (f, dt, _, flags) = graft.api.RequestCodec.parseFieldIndexRequest(
      """{"field_name": "location", "field_schema": "geo"}""")
    val coll = base.buildPayloadIndex(f, dt, flags)
    val hits = coll.query(
      """{"query": {"nearest": [1.0, 0.5, -0.5, 1.0, 0.0, 0.5, -1.0, 0.5]},
        |  "shard_key": ["a", "b"],
        |  "filter": {"must": [{"key": "location", "geo_radius":
        |    {"center": {"lon": 10.0, "lat": 20.0}, "radius": 5000.0}}]},
        |  "limit": 5}""".stripMargin)
    val p = plan(hits)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*shard_key[^\\]]*\\].*"),
      "shard_key not in PartitionFilters:\n" + p.take(2000))
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*ivfcell[^\\]]*\\].*"),
      "ivfcell not in PartitionFilters:\n" + p.take(2000))
    assert(p.contains("In(geocell_location, [*,"),
      "geo cell prune not pushed to the source:\n" + p.take(2000))
  }
}
