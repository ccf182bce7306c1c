package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.api.RequestCodec
import graft.api.RequestCodec.{Ctx, VectorSpace}
import graft.filters.TypedResolver
import graft.model._
import graft.ops.{Mmr, PointQuery, Reads, Search}

/** Wire-format parity entries: each runs a literal qdrant REST JSON body
  * through `api/RequestCodec` → `PointQuery.execute` and must produce the
  * EXACT rows of the equivalent hand-built catalog entry — the DuckDB
  * oracles are the same SQL. This is the "switch engines without rewriting
  * requests" contract: the JSON below is what a qdrant client would send to
  * `POST /collections/{c}/points/query` (`src/actix/api/query_api.rs:31`).
  *
  * Query-vector ids in the requests resolve against the embeddings table
  * (`VectorInput::Id`, `lib/api/src/rest/schema.rs:563`; resolve step
  * `lib/collection/src/collection/query.rs:456-546`).
  */
object ApiQueries {

  private def ctx(s: SparkSession, dir: String): Ctx = Ctx(
    spaces = Map(
      "" -> VectorSpace("embedding", Dot),
      "cosine" -> VectorSpace("embedding", Cosine)),
    resolveId = (_, id) => Left(Tables.embeddingOf(s, dir, id.asInstanceOf[Long])),
    resolveLookup = (lf, id) => {
      // the host's table catalog: one foreign collection, sharded, with a
      // named vector column — the fixture of `recommend_lookup_from_shard`
      require(lf.collection == "queries_sharded", s"unknown lookup collection ${lf.collection}")
      import org.apache.spark.sql.functions.{col, lit}
      val e = Tables.load(s, dir, "embeddings")
      val lookup = e.filter(col("vec_id") < 100)
        .select(lit("a").as("shard_key"), (col("vec_id") + 10000).as("qid"),
          col("embedding").as("vec"))
        .unionByName(e.filter(col("vec_id") >= 50 && col("vec_id") < 150)
          .select(lit("b").as("shard_key"), (col("vec_id") + 9950).as("qid"),
            col("embedding").as("vec")))
      val vecCol = lf.vector.getOrElse("vec")
      if (lf.shardKeys.isEmpty)
        Left(Tables.embeddingFrom(lookup, "qid", vecCol, id))
      else Left(Tables.embeddingFromShards(lookup, "shard_key", lf.shardKeys,
        "qid", vecCol, id))
    })

  private def runOnEmbeddings(s: SparkSession, dir: String, json: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    PointQuery.execute(s, e, "vec_id", new TypedResolver(e.schema, "vec_id"),
      RequestCodec.parseQueryRequest(json, ctx(s, dir)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // knn + filter + offset + threshold; nearest-by-id; must_not given as a
    // single object (MaybeOneOrMany). Mirrors `knn_filtered`.
    "api_query_knn_filtered" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"nearest": 7},
        |  "filter": {
        |    "must": [
        |      {"key": "label", "match": {"any": [1, 3, 5, 7]}},
        |      {"key": "vec_id", "range": {"gte": 10}}
        |    ],
        |    "must_not": {"key": "label", "match": {"value": 5}}
        |  },
        |  "limit": 10, "offset": 3, "score_threshold": -100.0
        |}""".stripMargin)),
    // recommend best_score with by-id positives/negatives. Mirrors
    // `recommend_best_score`.
    "api_query_recommend_best" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"recommend": {
        |    "positive": [1, 2, 3], "negative": [4], "strategy": "best_score"}},
        |  "limit": 10
        |}""".stripMargin)),
    // `with_payload` selector ON the query endpoint (`QueryRequest.
    // with_payload`, the same `WithPayloadInterface` as retrieve,
    // `types.rs:4175-4183`): search WITHOUT payload, then enrich only the
    // final ≤ k ids (`query.rs:207-300` fetches payload per final id) and
    // run the parsed include selector over it — `source` is excluded, so
    // it must come back NULL.
    "api_query_with_payload" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val json =
        """{"query": {"nearest": 7}, "limit": 10,
          |  "with_payload": {"include": ["lang", "n_chars"]}}""".stripMargin
      val q = RequestCodec.parseQueryRequest(json, ctx(s, dir))
      val sel = RequestCodec.parseWithPayload(
        org.json4s.jackson.JsonMethods.parse(json) \ "with_payload").get
      val e = Tables.load(s, dir, "embeddings")
      val hits = PointQuery.execute(s, e, "vec_id",
        new TypedResolver(e.schema, "vec_id"), q)
      val payload = Tables.load(s, dir, "documents").select(
        col("doc_id").as("vec_id"),
        to_json(struct(col("lang"), col("source"), col("n_chars"))).as("payload"))
      hits.join(payload, Seq("vec_id"), "left")
        .withColumn("payload", sel(col("payload")))
        .select(col("vec_id"), col("score"),
          get_json_object(col("payload"), "$.lang").as("lang"),
          get_json_object(col("payload"), "$.n_chars").cast("long").as("n_chars"),
          get_json_object(col("payload"), "$.source").as("source_excluded"))
        .orderBy(col("score").desc, col("vec_id").asc)
    }),
    // A request with NO `query` is a plain id-order scroll
    // (`planned_query.rs:189`; `test_query.py` uses `{"prefetch":
    // {"limit": 1000}}` prefetches with no query).
    "api_query_scroll_noquery" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{"limit": 20}""")),
    // no-query scroll WITH offset: `skip(offset)` applies after the id
    // order (`query.rs:448-451`) — page = ids 6..15.
    "api_query_scroll_offset" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{"limit": 10, "offset": 5}""")),
    // `root_and_rescored_query` invariant (`test_query.py:90-120`): a
    // query over a full-scan prefetch (`{"prefetch": {"limit": N}}`, no
    // query in the prefetch) equals the root query — the candidate
    // semi-join over everything must not change the ranking.
    "api_query_prefetch_fullscan" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{"prefetch": {"limit": 1000000}, "query": {"nearest": 7}, "limit": 10}""")),
    // Strict-mode gate (`StrictModeConfig`, `types.rs:1323-1430`;
    // verification `lib/collection/src/operations/verification/`;
    // `tests/openapi/test_strictmode.py`): parse the wire
    // strict_mode_config, then verify a battery of requests BEFORE
    // execution — each row = (check_name, rejected). Serving-only knobs
    // (timeouts, rate limits, byte caps) parse but have no batch analog.
    "strict_mode_rejections" -> ((s, dir) => {
      import s.implicits._
      import graft.api.{RequestCodec, StrictMode, StrictModeViolation}
      val cfg = StrictMode.parse(
        """{"enabled": true, "max_query_limit": 10,
          |  "unindexed_filtering_retrieve": false,
          |  "unindexed_filtering_update": false,
          |  "search_allow_exact": false, "search_max_oversampling": 4.0,
          |  "upsert_max_batchsize": 2, "filter_max_conditions": 3,
          |  "condition_max_size": 3}""".stripMargin)
      val indexed = Set("label", "vec_id", "location")
      def q(body: String): Boolean =
        try {
          StrictMode.verifyQuery(
            RequestCodec.parseQueryRequest(body, ctx(s, dir)), cfg, indexed)
          false
        } catch { case _: StrictModeViolation => true }
      def u(body: String): Boolean =
        try {
          StrictMode.verifyUpdate(
            RequestCodec.parseUpdateOperations(body), cfg, indexed)
          false
        } catch { case _: StrictModeViolation => true }
      (Seq(
        ("limit_over", q("""{"query": {"nearest": 7}, "limit": 100}""")),
        ("limit_ok", q("""{"query": {"nearest": 7}, "limit": 5}""")),
        ("unindexed_filter", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"key": "lang", "match": {"value": "en"}}]}}"""
            .stripMargin)),
        ("indexed_filter_ok", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"key": "label", "match": {"value": 3}}]}}"""
            .stripMargin)),
        // geo conditions address their key like any other condition
        // (`verification/`: the payload-index check walks every condition
        // kind) — a DECLARED geo field passes, an undeclared one rejects
        ("geo_indexed_ok", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"key": "location", "geo_radius":
            |   {"center": {"lon": 1.0, "lat": 2.0}, "radius": 10.0}}]}}"""
            .stripMargin)),
        ("geo_unindexed", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"key": "geopos", "geo_bounding_box":
            |   {"top_left": {"lon": -1.0, "lat": 1.0},
            |    "bottom_right": {"lon": 1.0, "lat": -1.0}}}]}}"""
            .stripMargin)),
        ("condition_too_big", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"key": "label", "match": {"any": [1,2,3,4]}}]}}"""
            .stripMargin)),
        ("exact_denied", q(
          """{"query": {"nearest": 7}, "limit": 5, "params": {"exact": true}}""")),
        ("oversampling_over", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "params": {"quantization": {"oversampling": 8.0}}}""".stripMargin)),
        ("too_many_conditions", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [
            |   {"key": "label", "match": {"value": 1}},
            |   {"key": "label", "range": {"gte": 0}},
            |   {"key": "vec_id", "range": {"gte": 0}},
            |   {"key": "vec_id", "range": {"lt": 100}}]}}""".stripMargin)),
        ("prefetch_limit_over", q(
          """{"prefetch": [{"query": {"nearest": 7}, "limit": 100}],
            | "query": {"fusion": "rrf"}, "limit": 5}""".stripMargin)),
        ("upsert_too_big", u(
          """{"operations": [{"upsert": {"points":
            |   [{"id": 1}, {"id": 2}, {"id": 3}]}}]}""".stripMargin)),
        ("nested_indexed_ok", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [{"nested": {"key": "label",
            |   "filter": {"must": [{"key": "x", "range": {"gte": 0}}]}}}]}}"""
            .stripMargin)),
        ("update_filter_unindexed", u(
          """{"operations": [{"delete": {"filter":
            |   {"must": [{"key": "lang", "match": {"value": "de"}}]}}}]}"""
            .stripMargin)),
        // the injected referenced-id `must_not HasId` does NOT count
        // against filter_max_conditions — the reference verifies BEFORE
        // injecting (`collection_query.rs:701-705` runs after the
        // verification layer), so a by-id query whose user filter sits
        // EXACTLY at the cap (3 here) still passes
        ("by_id_exclusion_not_counted", q(
          """{"query": {"nearest": 7}, "limit": 5,
            | "filter": {"must": [
            |   {"key": "label", "match": {"value": 1}},
            |   {"key": "vec_id", "range": {"gte": 0}},
            |   {"key": "vec_id", "range": {"lt": 100}}]}}""".stripMargin))) ++ {
        // The gate is WIRED into the collection: a `strict_mode_config`
        // declared at create rejects inside `Collection.query` and the
        // update bridge themselves (`query_api.rs:31-110` checks strict
        // mode inside the handler for every request).
        val ccfg = RequestCodec.parseCollectionConfig(
          """{"vectors": {"size": 64, "distance": "Dot"},
            |  "strict_mode_config": {"enabled": true, "max_query_limit": 10,
            |    "upsert_max_batchsize": 2}}""".stripMargin, idCol = "vec_id")
        val path = "/tmp/graft_runtime/strict_coll_" +
          dir.replaceAll("[^A-Za-z0-9]", "_")
        import org.apache.spark.sql.functions.col
        val coll = graft.storage.Collection.create(s, path, ccfg,
          graft.Tables.load(s, dir, "embeddings").filter(col("vec_id") < 20)
            .select(col("vec_id"), col("embedding").as("vector")))
        def cq(body: String): Boolean =
          try { coll.query(body); false }
          catch { case _: StrictModeViolation => true }
        def cu(body: String): Boolean =
          try { graft.api.UpdateBridge.applyJson(coll, body); false }
          catch { case _: StrictModeViolation => true }
        Seq(
          ("collection_query_limit_over",
            cq("""{"query": {"nearest": 7}, "limit": 100}""")),
          ("collection_query_ok",
            cq("""{"query": {"nearest": 7}, "limit": 5}""")),
          ("collection_upsert_too_big", cu(
            """{"operations": [{"upsert": {"points":
              |  [{"id": 1}, {"id": 2}, {"id": 3}]}}]}""".stripMargin)))
      })
        .toDF("check_name", "rejected")
    }),
    // best_score with ONLY negatives through the wire (positives optional
    // for this strategy, `test_recommendation_multivector.py`). Mirrors
    // `recommend_best_only_negatives`.
    "api_query_recommend_negatives_only" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"recommend": {
        |    "negative": [4, 11], "strategy": "best_score"}},
        |  "limit": 10
        |}""".stripMargin)),
    // discover with target + context pairs by id. Mirrors `discover`.
    "api_query_discover" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"discover": {
        |    "target": 5,
        |    "context": [
        |      {"positive": 10, "negative": 20},
        |      {"positive": 30, "negative": 40}
        |    ]}},
        |  "limit": 10
        |}""".stripMargin)),
    // two prefetches (default Dot space and the named cosine space) fused
    // by RRF with explicit k and weights. Mirrors `fusion_rrf`.
    "api_query_fusion_rrf" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "prefetch": [
        |    {"query": {"nearest": 7}, "limit": 20},
        |    {"query": {"nearest": 42}, "using": "cosine", "limit": 20}
        |  ],
        |  "query": {"rrf": {"k": 2, "weights": [1.0, 2.0]}},
        |  "limit": 10
        |}""".stripMargin)),
    // Filtered hybrid over the wire: a ROOT filter that must propagate into
    // both prefetches and merge with the first prefetch's own filter
    // (`planned_query.rs:306-340`), plus root-level score_threshold
    // (non-strict take_while over the fused list, `query.rs:389-396`) and
    // offset (`query.rs:448-451`) — all parsed from the literal JSON body.
    "api_query_prefetch_filtered" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "prefetch": [
        |    {"query": {"nearest": 7},
        |     "filter": {"must": [{"key": "label", "range": {"lt": 8}}]},
        |     "limit": 20},
        |    {"query": {"nearest": 42}, "using": "cosine", "limit": 20}
        |  ],
        |  "query": {"rrf": {}},
        |  "filter": {"must": [{"key": "label", "range": {"gte": 2}}]},
        |  "score_threshold": 0.15,
        |  "offset": 1,
        |  "limit": 10
        |}""".stripMargin)),
    // formula rescore over a prefetch: score blend + gauss decay on a
    // payload field + division. Mirrors `formula_rescore`.
    "api_query_formula" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "prefetch": {"query": {"nearest": 7}, "limit": 50},
        |  "query": {"formula": {"sum": [
        |    {"mult": [0.6, "$score[0]"]},
        |    {"mult": [0.3, {"gauss_decay": {
        |      "x": "label", "target": 5.0, "midpoint": 0.5, "scale": 3.0}}]},
        |    {"div": {"left": 10.0, "right": {"sum": ["vec_id", 1.0]}}}
        |  ]}},
        |  "limit": 10
        |}""".stripMargin)),
    // request-level lookup_from with named vector + shard-key selector
    // (`LookupLocation`/`ShardKeySelector`, `schema.rs:608-613,1122-1133`):
    // recommend ids resolve against the FOREIGN sharded collection's `vec`
    // column restricted to shard "b". Mirrors `recommend_lookup_from_shard`
    // (same oracle).
    "api_query_lookup_from" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"recommend": {
        |    "positive": [10001, 10003], "negative": [10005],
        |    "strategy": "average_vector"}},
        |  "lookup_from": {
        |    "collection": "queries_sharded", "vector": "vec", "shard_key": ["b"]},
        |  "limit": 10
        |}""".stripMargin)),
    // nearest + mmr sugar (`collection_query.rs:190-199`, diversity →
    // λ = 1 − diversity, candidates_limit prefetch): the wire plan must
    // reproduce the hand-built candidates→greedy-rerank rows exactly —
    // ids, original query scores, and selection positions.
    // context pairs by id (resolved through the ctx hook). Mirrors
    // `context` (same oracle).
    "api_query_context" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"context": [
        |    {"positive": 10, "negative": 20},
        |    {"positive": 30, "negative": 40}
        |  ]},
        |  "limit": 10
        |}""".stripMargin)),
    // relevance feedback, naive strategy with explicit a/b/c
    // (`FeedbackStrategy::Naive`, `collection_query.rs:202-220`). Mirrors
    // `feedback_naive` (same oracle).
    "api_query_feedback" -> ((s, dir) => runOnEmbeddings(s, dir,
      """{
        |  "query": {"relevance_feedback": {
        |    "target": 5,
        |    "feedback": [
        |      {"example": 10, "score": 0.9},
        |      {"example": 20, "score": 0.4},
        |      {"example": 30, "score": 0.1}
        |    ],
        |    "strategy": {"naive": {"a": 1.0, "b": 2.0, "c": 0.5}}}},
        |  "limit": 10
        |}""".stripMargin)),
    // sample: random over the wire — the wire path must reproduce the
    // hand-built seeded sample exactly (the codec carries the seed in ctx).
    "api_query_sample" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, xxhash64}
      import s.implicits._
      val wire = runOnEmbeddings(s, dir,
        """{"query": {"sample": "random"}, "limit": 20}""")
        .collect().map(_.getLong(0)).toSeq
      // the engine's seeded-sampling contract: pseudorandom by seeded id
      // hash — deterministic across runs AND partitionings
      val hand = Tables.load(s, dir, "embeddings")
        .orderBy(xxhash64(col("vec_id"), lit(42L)).asc, col("vec_id").asc)
        .limit(20).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      Seq((wire.length.toLong, wire == hand))
        .toDF("n", "wire_matches_hand")
    }),
    // Offset is IGNORED on a bare random root — the output is not stable,
    // so the reference zeroes it (`collection_query.rs:690-696`): with a
    // non-zero offset the page still returns min(limit, matching) rows and
    // the id set equals the seeded top-limit WITHOUT any skip. (WITH a
    // prefetch the offset applies — pinned by `prefetch_random_offset`.)
    "api_query_sample_offset_ignored" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, xxhash64}
      import s.implicits._
      val wire = runOnEmbeddings(s, dir,
        """{"query": {"sample": "random"}, "limit": 10, "offset": 5,
          |  "filter": {"must": [{"key": "vec_id", "range": {"lt": 12}}]}}"""
          .stripMargin)
        .collect().map(_.getLong(0)).toSet
      // offset ignored: the full seeded top-10 of the 12 matching rows
      val hand = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 12)
        .orderBy(xxhash64(col("vec_id"), lit(42L)).asc, col("vec_id").asc)
        .limit(10).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      Seq((wire.size.toLong, wire == hand))
        .toDF("n", "offset_ignored")
    }),
    "api_query_mmr" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      import s.implicits._
      val wire = runOnEmbeddings(s, dir,
        """{
          |  "query": {
          |    "nearest": 7,
          |    "mmr": {"diversity": 0.5, "candidates_limit": 50}},
          |  "limit": 10
          |}""".stripMargin)
        .orderBy(col("position")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val e = Tables.load(s, dir, "embeddings")
      val qv = Tables.embeddingOf(s, dir, 7L)
      // the by-id example is excluded from the candidate fetch (the wire
      // path injects must_not HasId(7) before the candidates Nearest runs,
      // ref `collection_query.rs:701-705`) — the hand twin drops it too
      val cands = Search.knn(
        e.filter(org.apache.spark.sql.functions.col("vec_id") =!= 7L),
        "vec_id", "embedding", qv, Dot,
        k = 50, extraCols = Seq("embedding"))
      val hand = Mmr.rerank(s, cands, "vec_id",
          PointQuery.Space("embedding", Dot), PointQuery.DenseVector(qv),
          lambda = 0.5, limit = 10)
        .orderBy(col("position")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      Seq((wire.length.toLong, wire == hand))
        .toDF("n", "wire_matches_hand")
    }),
    // order-by scroll with a numeric descending start_from cursor
    // (`OrderByInterface::Struct`, Desc → lte range, `order_by.rs:31-40`).
    "api_query_order_by" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      PointQuery.execute(s, ev, "event_id",
        new TypedResolver(ev.schema, "event_id"),
        RequestCodec.parseQueryRequest(
          """{
            |  "query": {"order_by": {
            |    "key": "value", "direction": "desc", "start_from": 900.5}},
            |  "limit": 40
            |}""".stripMargin, ctx(s, dir)))
    }),
    // count endpoint body. Mirrors `count_filtered`.
    "api_count_filtered" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val f = RequestCodec.parseCountRequest(
        """{
          |  "filter": {
          |    "must": [
          |      {"key": "l_quantity", "range": {"gte": 5.0, "lt": 30.0}},
          |      {"key": "l_returnflag", "match": {"any": ["A", "N"]}}
          |    ],
          |    "must_not": [{"key": "l_linestatus", "match": {"value": "F"}}]
          |  },
          |  "exact": true
          |}""".stripMargin)
      Reads.count(li, f.filter, new TypedResolver(li.schema, "l_orderkey"))
    }),
    // facet endpoint body. Mirrors `facet_lang`.
    "api_facet_lang" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val spec = RequestCodec.parseFacetRequest("""{"key": "lang", "limit": 10}""")
      Reads.facet(d, "doc_id", spec.key, spec.filter,
        new TypedResolver(d.schema, "doc_id"), spec.limit)
    }),
    // scroll endpoint body: by-id keyset page with filter + offset cursor.
    // Mirrors `scroll_by_id`.
    "api_scroll_by_id" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val spec = RequestCodec.parseScrollRequest(
        """{
          |  "offset": 100, "limit": 20,
          |  "filter": {"must": [
          |    {"key": "lang", "match": {"value": "en"}},
          |    {"key": "n_chars", "range": {"lt": 300}}
          |  ]}
          |}""".stripMargin)
      assert(spec.orderBy.isEmpty)
      Reads.scrollById(d, "doc_id", spec.filter,
        new TypedResolver(d.schema, "doc_id"), spec.offset, spec.limit,
        projection = Seq("doc_id", "lang", "n_chars"))
    }),
    // ordered heterogeneous update-op list (`POST /points/batch`) through
    // the wire codec + UpdateBridge: the upsert batches are RENDERED as the
    // literal JSON a client would send (round-trip through the parser),
    // then the whole list applies as one rewrite. Mirrors
    // `batch_update_ops` (same oracle). The delete_payload uses a
    // has_id FILTER selector: an id LIST naming the ids the preceding
    // filter-delete removed would 404 (`check_unprocessed_points` — the
    // r13 unknown-point contract, pinned by api_update_unknown_point_404),
    // while the by-filter arm silently skips them like the reference.
    "api_batch_update_ops" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.{LongType, StringType}
      import graft.sources.CollectionConfig
      import graft.storage.Collection
      val cfg = CollectionConfig(idCol = "id", payloadCol = "payload",
        payloadTypes = Map("lang" -> StringType, "source" -> StringType,
          "n_chars" -> LongType))
      def pts(s2: SparkSession, wherePred: org.apache.spark.sql.Column) =
        Tables.load(s2, dir, "documents").filter(wherePred)
          .select(col("doc_id").as("id"),
            to_json(struct(col("lang"), col("source"), col("n_chars"))).as("payload"))
      def pointJsons(wherePred: org.apache.spark.sql.Column, src: String): String =
        Tables.load(s, dir, "documents").filter(wherePred)
          .select(col("doc_id"), col("lang"), col("n_chars")).orderBy(col("doc_id"))
          .collect().map { r =>
            s"""{"id": ${r.getLong(0)}, "payload": {"lang": "${r.getString(1)}", """ +
              s""""source": "$src", "n_chars": ${r.getLong(2)}}}"""
          }.mkString(", ")
      val path = "/tmp/graft_runtime/api_batch_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val coll = Collection.create(s, path, cfg, pts(s, col("doc_id") < 150))
      graft.api.UpdateBridge.applyJson(coll,
        s"""{"operations": [
           |  {"upsert": {"points": [${pointJsons(col("doc_id") >= 90 && col("doc_id") < 110, "b1")}]}},
           |  {"set_payload": {"payload": {"flag": "x"},
           |                   "filter": {"must": [{"key": "n_chars", "range": {"gte": 300}}]}}},
           |  {"delete": {"filter": {"must": [{"key": "lang", "match": {"value": "de"}}]}}},
           |  {"delete_payload": {"keys": ["source"],
           |    "filter": {"must": [{"has_id": [${(0 until 20).mkString(", ")}]}]}}},
           |  {"upsert": {"points": [${pointJsons(col("doc_id") < 10, "b2")}]}}
           |]}""".stripMargin)
      coll.read()
        .select(col("id"),
          get_json_object(col("payload"), "$.lang").as("lang"),
          get_json_object(col("payload"), "$.source").as("source"),
          get_json_object(col("payload"), "$.n_chars").cast("long").as("n_chars"),
          get_json_object(col("payload"), "$.flag").as("flag"))
        .orderBy(col("id"))
    }),
    // batch endpoint: two independent requests (Dot and named-cosine
    // spaces) answered in one call, results tagged by position.
    "api_query_batch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Tables.load(s, dir, "embeddings")
      val r = new TypedResolver(e.schema, "vec_id")
      val qs = RequestCodec.parseQueryBatch(
        """{"searches": [
          |  {"query": {"nearest": 7}, "limit": 5},
          |  {"query": {"nearest": 42}, "using": "cosine", "limit": 5}
          |]}""".stripMargin, ctx(s, dir))
      qs.zipWithIndex.map { case (q, i) =>
        PointQuery.execute(s, e, "vec_id", r, q).withColumn("req", lit(i))
      }.reduce(_ unionByName _)
    }),
    // group-by endpoint body (group_by/group_size/limit=groups +
    // with_lookup). Mirrors `group_by_lookup` (same oracle).
    "api_group_by_lookup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = Tables.load(s, dir, "embeddings")
      val spec = RequestCodec.parseGroupRequest(
        """{
          |  "query": {"nearest": 7},
          |  "group_by": "label", "group_size": 2, "limit": 5,
          |  "with_lookup": {"collection": "embeddings"}
          |}""".stripMargin, ctx(s, dir))
      val PointQuery.Nearest(sp, PointQuery.DenseVector(qv)) = spec.query.scoring: @unchecked
      val grouped = graft.ops.GroupBy.groupBySearch(e, "vec_id",
        graft.ops.Search.scoreExpr(sp.metric, col(sp.col), typedLit(qv)),
        largerBetter = sp.metric.largerBetter,
        groupByField = spec.groupBy, resolver = new TypedResolver(e.schema, "vec_id"),
        filter = spec.query.filter,
        groupSize = spec.groupSize, groups = spec.groups, keepGroupRank = true)
      val lookup = Tables.load(s, dir, spec.lookupCollection.get)
        .select(col("vec_id").as("_lk"), col("label").as("lookup_label"))
      graft.ops.GroupBy.withLookup(grouped, lookup, "_lk", Seq("lookup_label"))
        .select(col("group_value"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"),
          col("grp_rank").cast("long").as("grp_rank"), col("lookup_label"))
        .orderBy(col("grp_rank"), col("rank"))
    }),
    // distance-matrix endpoint body. Mirrors `distance_matrix_pairs` (the
    // wire `filter` drives the sample predicate; `sample` recorded —
    // the catalog pins a deterministic filter-defined sample so the oracle
    // can replay it, like the hand-built twin).
    "api_distance_matrix" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val spec = RequestCodec.parseMatrixRequest(
        """{"filter": {"must": [{"key": "vec_id", "range": {"lt": 20}}]},
          |  "sample": 20, "limit": 3}""".stripMargin)
      val pred = new graft.filters.FilterCompiler(
        new TypedResolver(e.schema, "vec_id")).compile(spec.filter.get)
      graft.ops.DistanceMatrix.pairs(e, "vec_id", "embedding", Cosine,
        samplePred = pred, limitPerSample = spec.limit)
    }),
    // retrieve body with a with_payload include selector (nested key) —
    // the enrichment surface (`WithPayloadInterface`, types.rs:4175-4183).
    "api_retrieve_selectors" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = Tables.load(s, dir, "documents").select(col("doc_id"),
        to_json(struct(col("lang"), col("source"),
          struct(col("n_chars"), substring(col("text"), 1, 8).as("head"))
            .as("meta"))).as("payload"))
      val spec = RequestCodec.parseRetrieveRequest(
        """{"ids": [3, 5, 8, 13, 21],
          |  "with_payload": {"include": ["lang", "meta.n_chars"]}}""".stripMargin)
      val out = Reads.retrieve(d, "doc_id", spec.ids, Seq("doc_id", "payload"))
      val sel = spec.withPayload.get
      out.select(col("doc_id"),
        get_json_object(sel(col("payload")), "$.lang").as("lang_inc"),
        get_json_object(sel(col("payload")), "$.meta.n_chars").cast("long").as("nch_inc"),
        get_json_object(sel(col("payload")), "$.source").as("src_inc"))
        .orderBy(col("doc_id"))
    }),
    // datetime range filter with RFC3339 string bounds parsed from the wire
    // form (array + mixed precisions). Mirrors `range_datetime_rfc3339`.
    "api_filter_datetime_count" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val f = RequestCodec.parseFilter(
        """{
          |  "must": [
          |    {"key": "ts", "range": {"gte": "2024-01-10T06:30:00Z"}},
          |    {"key": "ts", "range": {"gt": "2024-01-09T22:00:00-04:00"}},
          |    {"key": "ts", "range": {"lt": "2024-01-20 18:45:30.250"}},
          |    {"key": "ts", "range": {"lte": "2024-02-01"}},
          |    {"key": "ts", "range": {"gt": "2024-01-09t20:00:00+0200"}},
          |    {"key": "ts", "range": {"lte": "2024-02-01T00:00+02"}}
          |  ]
          |}""".stripMargin)
      Reads.count(ev, Some(f), new TypedResolver(ev.schema, "event_id"))
    }),
  )

  /** Oracles: where a wire entry mirrors a hand-built twin that takes RAW
    * vectors, the SQL is shared. By-id wire entries carry their OWN SQL
    * with the referenced ids excluded (`WHERE vec_id NOT IN (...)`) — the
    * reference merges `must_not HasId(referenced ids)` into every by-id
    * query's filter (`exclude_referenced_ids`, `collection_query.rs:
    * 523-531,701-705`; `test_query_full.py:160`), so a by-id result NEVER
    * contains its own examples while the raw-vector twin still can. */
  val oracles: Map[String, String] = Map(
    "api_query_knn_filtered" -> VectorQueries.oracles("knn_filtered"),
    // recommend best_score by ids 1,2,3 / 4 — the examples are excluded
    "api_query_recommend_best" ->
      """WITH q1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=1),
        |q2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=2),
        |q3 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=3),
        |q4 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |s AS (SELECT e.vec_id AS vec_id,
        |  greatest(list_dot_product(e.embedding::DOUBLE[], q1.v),
        |           list_dot_product(e.embedding::DOUBLE[], q2.v),
        |           list_dot_product(e.embedding::DOUBLE[], q3.v)) AS mp,
        |  list_dot_product(e.embedding::DOUBLE[], q4.v) AS mn
        |  FROM embeddings e, q1, q2, q3, q4
        |  WHERE e.vec_id NOT IN (1, 2, 3, 4))
        |SELECT vec_id,
        |  round(CASE WHEN mp > mn THEN 0.5*(mp/(1+abs(mp))+1)
        |             ELSE -(0.5*(mn/(1+abs(mn))+1)) END, 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_recommend_negatives_only" ->
      RankQueries.oracles("recommend_best_only_negatives"),
    "api_query_with_payload" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |hits AS (SELECT e.vec_id AS vec_id,
        |           round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score
        |         FROM embeddings e, q
        |         WHERE e.vec_id <> 7
        |         ORDER BY score DESC, vec_id ASC LIMIT 10)
        |SELECT h.vec_id AS vec_id, h.score AS score, d.lang AS lang,
        |       d.n_chars::BIGINT AS n_chars,
        |       CAST(NULL AS VARCHAR) AS source_excluded
        |FROM hits h LEFT JOIN documents d ON d.doc_id = h.vec_id
        |ORDER BY h.score DESC, h.vec_id ASC""".stripMargin,
    "api_query_scroll_noquery" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 20",
    "api_query_scroll_offset" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id ASC LIMIT 10 OFFSET 5",
    "api_query_prefetch_fullscan" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |       round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id <> 7
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "strict_mode_rejections" ->
      """SELECT * FROM (VALUES
        |  ('limit_over', true), ('limit_ok', false),
        |  ('unindexed_filter', true), ('indexed_filter_ok', false),
        |  ('geo_indexed_ok', false), ('geo_unindexed', true),
        |  ('condition_too_big', true), ('exact_denied', true),
        |  ('oversampling_over', true), ('too_many_conditions', true),
        |  ('prefetch_limit_over', true), ('upsert_too_big', true),
        |  ('nested_indexed_ok', false),
        |  ('update_filter_unindexed', true),
        |  ('by_id_exclusion_not_counted', false),
        |  ('collection_query_limit_over', true),
        |  ('collection_query_ok', false),
        |  ('collection_upsert_too_big', true)) AS t(check_name, rejected)"""
        .stripMargin,
    // discover by ids: target 5 + context ids 10/20/30/40 all excluded
    "api_query_discover" ->
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=5),
        |p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
        |n2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=40),
        |s AS (SELECT e.vec_id AS vec_id,
        |  list_dot_product(e.embedding::DOUBLE[], t.v) AS st,
        |  list_dot_product(e.embedding::DOUBLE[], p1.v) AS sp1,
        |  list_dot_product(e.embedding::DOUBLE[], n1.v) AS sn1,
        |  list_dot_product(e.embedding::DOUBLE[], p2.v) AS sp2,
        |  list_dot_product(e.embedding::DOUBLE[], n2.v) AS sn2
        |  FROM embeddings e, t, p1, n1, p2, n2
        |  WHERE e.vec_id NOT IN (5, 10, 20, 30, 40))
        |SELECT vec_id,
        |  round((CASE WHEN sp1 > sn1 THEN 1 WHEN sp1 < sn1 THEN -1 ELSE 0 END
        |       + CASE WHEN sp2 > sn2 THEN 1 WHEN sp2 < sn2 THEN -1 ELSE 0 END)::DOUBLE
        |      + 0.5*(st/(1+abs(st))+1), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    // RRF over two by-id prefetches: the exclusion rides the ROOT filter,
    // which propagates into BOTH prefetch leaves (`planned_query.rs:325`)
    "api_query_fusion_rrf" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=42),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS s
        |      FROM embeddings e, q7 WHERE e.vec_id NOT IN (7, 42)
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ar AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM a),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q42.v, q42.v))), 6) AS s
        |      FROM embeddings e, q42 WHERE e.vec_id NOT IN (7, 42)
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |br AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM b),
        |u AS (SELECT vec_id, 1.0/(pos/1.0 + 1.0) AS c FROM ar
        |      UNION ALL SELECT vec_id, 1.0/(pos/2.0 + 1.0) AS c FROM br)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_prefetch_filtered" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=42),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS s
        |      FROM embeddings e, q7 WHERE e.label >= 2 AND e.label < 8
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ar AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM a),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q42.v, q42.v))), 6) AS s
        |      FROM embeddings e, q42 WHERE e.label >= 2
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |br AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM b),
        |u AS (SELECT vec_id, 1.0/(pos + 1.0) AS c FROM ar
        |      UNION ALL SELECT vec_id, 1.0/(pos + 1.0) AS c FROM br),
        |f AS (SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |      ORDER BY score DESC, vec_id ASC LIMIT 11)
        |SELECT vec_id, score FROM f WHERE score >= 0.15
        |ORDER BY score DESC, vec_id ASC OFFSET 1""".stripMargin,
    // formula rescore over a by-id prefetch: 7 is excluded from the
    // prefetch candidates, so it never reaches the formula either
    "api_query_formula" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |pre AS (SELECT e.vec_id AS vec_id,
        |          round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS s
        |        FROM embeddings e, q WHERE e.vec_id <> 7
        |        ORDER BY s DESC, vec_id ASC LIMIT 50)
        |SELECT e.vec_id AS vec_id,
        |  round(0.6 * p.s
        |      + 0.3 * exp(ln(0.5)/9 * (e.label - 5.0) * (e.label - 5.0))
        |      + 10.0 / (e.vec_id + 1.0), 6) AS score
        |FROM embeddings e JOIN pre p ON e.vec_id = p.vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_lookup_from" -> RankQueries.oracles("recommend_lookup_from_shard"),
    "api_query_mmr" ->
      "SELECT 10::BIGINT AS n, true AS wire_matches_hand",
    // context pairs by ids 10/20/30/40 — all four examples excluded
    "api_query_context" ->
      """WITH p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
        |n2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=40),
        |s AS (SELECT e.vec_id AS vec_id,
        |  least(list_dot_product(e.embedding::DOUBLE[], p1.v)
        |      - list_dot_product(e.embedding::DOUBLE[], n1.v) - 1.1920928955078125e-07, 0) AS d1,
        |  least(list_dot_product(e.embedding::DOUBLE[], p2.v)
        |      - list_dot_product(e.embedding::DOUBLE[], n2.v) - 1.1920928955078125e-07, 0) AS d2
        |  FROM embeddings e, p1, n1, p2, n2
        |  WHERE e.vec_id NOT IN (10, 20, 30, 40))
        |SELECT vec_id,
        |  round(d1/(1+abs(d1)) + d2/(1+abs(d2)), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    // feedback: target 5 + example ids 10/20/30 excluded
    "api_query_feedback" ->
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=5),
        |f1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |f2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |f3 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
        |s AS (SELECT e.vec_id AS vec_id,
        |  list_dot_product(e.embedding::DOUBLE[], t.v) AS st,
        |  list_dot_product(e.embedding::DOUBLE[], f1.v) AS s1,
        |  list_dot_product(e.embedding::DOUBLE[], f2.v) AS s2,
        |  list_dot_product(e.embedding::DOUBLE[], f3.v) AS s3
        |  FROM embeddings e, t, f1, f2, f3
        |  WHERE e.vec_id NOT IN (5, 10, 20, 30))
        |SELECT vec_id,
        |  round(1.0 * st
        |    + power(0.9 - 0.4, 2.0) * 0.5 * (s1 - s2)
        |    + power(0.9 - 0.1, 2.0) * 0.5 * (s1 - s3)
        |    + power(0.4 - 0.1, 2.0) * 0.5 * (s2 - s3), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_sample" ->
      "SELECT 20::BIGINT AS n, true AS wire_matches_hand",
    "api_query_sample_offset_ignored" ->
      "SELECT 10::BIGINT AS n, true AS offset_ignored",
    "api_query_order_by" ->
      """SELECT event_id, value FROM events
        |WHERE value <= 900.5
        |ORDER BY value DESC, event_id ASC LIMIT 40""".stripMargin,
    "api_filter_datetime_count" -> ReadQueries.oracles("range_datetime_rfc3339"),
    "api_count_filtered" -> ReadQueries.oracles("count_filtered"),
    "api_facet_lang" -> ReadQueries.oracles("facet_lang"),
    "api_scroll_by_id" -> ReadQueries.oracles("scroll_by_id"),
    "api_batch_update_ops" -> StorageQueries.oracles("batch_update_ops"),
    "api_retrieve_selectors" ->
      """SELECT doc_id, lang AS lang_inc, n_chars::BIGINT AS nch_inc,
        |  CAST(NULL AS VARCHAR) AS src_inc
        |FROM documents WHERE doc_id IN (3, 5, 8, 13, 21)
        |ORDER BY doc_id ASC""".stripMargin,
    "api_group_by_lookup" -> RankQueries.oracles("group_by_lookup"),
    "api_distance_matrix" -> RankQueries.oracles("distance_matrix_pairs"),
    "api_query_batch" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 42),
        |r0 AS (SELECT e.vec_id AS vec_id,
        |         round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS score,
        |         0 AS req
        |       FROM embeddings e, q7 WHERE e.vec_id <> 7
        |       ORDER BY score DESC, vec_id ASC LIMIT 5),
        |r1 AS (SELECT e.vec_id AS vec_id,
        |         round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |                  * sqrt(list_dot_product(q42.v, q42.v))), 6) AS score,
        |         1 AS req
        |       FROM embeddings e, q42 WHERE e.vec_id <> 42
        |       ORDER BY score DESC, vec_id ASC LIMIT 5)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1""".stripMargin,
  )
}
