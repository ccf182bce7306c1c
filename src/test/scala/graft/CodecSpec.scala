package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.RequestCodec
import graft.api.RequestCodec.{Ctx, VectorSpace}
import graft.model._
import graft.ops.{Formula, PointQuery}
import graft.ops.PointQuery._

/** REST wire-codec parse semantics (fixtures shaped like the reference's
  * OpenAPI bodies, `lib/api/src/rest/schema.rs` / `types.rs` serde forms).
  * Execution parity is covered by the `api_*` CORRECTNESS entries; this
  * spec pins the parse-level contracts: untagged condition resolution,
  * MaybeOneOrMany, FieldCondition sugar, variable/defaults handling, and
  * loud failures on unsupported forms. */
class CodecSpec extends AnyFunSuite {

  private val ctx = Ctx(
    spaces = Map("" -> VectorSpace("embedding", Dot),
      "img" -> VectorSpace("img_vec", Cosine)),
    resolveId = {
      case (_, 7L) => Left(Seq(1.0, 2.0))
      case (_, other) => fail(s"unexpected id resolve: $other")
    })

  test("filter: all clause groups, single-object MaybeOneOrMany forms") {
    val f = RequestCodec.parseFilter(
      """{"must": {"key": "city", "match": {"value": "Berlin"}},
        | "should": [{"key": "price", "range": {"gte": 100, "lt": 450.5}}],
        | "min_should": {"conditions": [{"has_id": [1, 2, "a0f5e3b1-0000-0000-0000-000000000000"]},
        |                               {"key": "tags", "values_count": {"gt": 2}}],
        |                "min_count": 1},
        | "must_not": [{"is_empty": {"key": "tags"}}, {"is_null": {"key": "tags"}}]}""".stripMargin)
    assert(f.must == Seq(MatchValue("city", "Berlin")))
    assert(f.should == Seq(RangeCond("price", gte = Some(100L), lt = Some(450.5))))
    val ms = f.minShould.get
    assert(ms.minCount == 1)
    assert(ms.conditions.head ==
      HasId(Seq(1L, 2L, "a0f5e3b1-0000-0000-0000-000000000000")))
    assert(ms.conditions(1) == ValuesCount("tags", gt = Some(2L)))
    assert(f.mustNot == Seq(IsEmpty("tags"), IsNullCond("tags")))
  }

  test("filter: match variants, nested, slice, has_vector, sub-filter") {
    val f = RequestCodec.parseFilter(
      """{"must": [
        |  {"key": "t", "match": {"text": "hello world"}},
        |  {"key": "t", "match": {"text_any": "either or"}},
        |  {"key": "t", "match": {"phrase": "exact run"}},
        |  {"key": "t", "match": {"prefix": "pre"}},
        |  {"key": "lbl", "match": {"except": [1, 2]}},
        |  {"nested": {"key": "diet", "filter": {"must": [{"key": "food", "match": {"value": "meat"}}]}}},
        |  {"slice": {"total": 4, "index": 1}},
        |  {"has_vector": "img"},
        |  {"should": [{"key": "a", "match": {"value": true}}]}
        |]}""".stripMargin)
    assert(f.must(0) == MatchText("t", "hello world"))
    assert(f.must(1) == MatchTextAny("t", "either or"))
    assert(f.must(2) == MatchPhrase("t", "exact run"))
    assert(f.must(3) == MatchPrefix("t", "pre"))
    assert(f.must(4) == MatchExcept("lbl", Seq(1L, 2L)))
    assert(f.must(5) ==
      NestedCond("diet", Filter.mustAll(MatchValue("food", "meat"))))
    assert(f.must(6) == SliceCond(4, 1))
    assert(f.must(7) == HasVector("img"))
    assert(f.must(8) == SubFilter(Filter(should = Seq(MatchValue("a", true)))))
  }

  test("filter: geo conditions and field-condition sugar / multi-check AND") {
    val f = RequestCodec.parseFilter(
      """{"must": [
        |  {"key": "loc", "geo_bounding_box": {"top_left": {"lon": -1.0, "lat": 2.0},
        |                                      "bottom_right": {"lon": 1.0, "lat": -2.0}}},
        |  {"key": "loc", "geo_radius": {"center": {"lon": 0.5, "lat": 0.5}, "radius": 1000}},
        |  {"key": "loc", "geo_polygon": {"exterior": {"points": [{"lon": 0, "lat": 0},
        |     {"lon": 1, "lat": 0}, {"lon": 0, "lat": 1}, {"lon": 0, "lat": 0}]}}},
        |  {"key": "flag", "is_empty": true},
        |  {"key": "price", "match": {"value": 9}, "range": {"lt": 10}}
        |]}""".stripMargin)
    assert(f.must(0) == GeoBoundingBox("loc", GeoPoint(-1.0, 2.0), GeoPoint(1.0, -2.0)))
    assert(f.must(1) == GeoRadius("loc", GeoPoint(0.5, 0.5), 1000.0))
    assert(f.must(2) == GeoPolygonCond("loc",
      Seq(GeoPoint(0, 0), GeoPoint(1, 0), GeoPoint(0, 1), GeoPoint(0, 0)), Nil))
    assert(f.must(3) == IsEmpty("flag"))
    // match + range on one FieldCondition AND together (nested must)
    assert(f.must(4) == SubFilter(Filter(must =
      Seq(MatchValue("price", 9L), RangeCond("price", lt = Some(10L))))))
  }

  test("filter: datetime range bounds stay RFC3339 strings for the compiler") {
    val f = RequestCodec.parseFilter(
      """{"must": [{"key": "ts", "range": {"gte": "2024-01-10T06:30:00Z", "lt": "2024-02-01"}}]}""")
    assert(f.must.head ==
      RangeCond("ts", gte = Some("2024-01-10T06:30:00Z"), lt = Some("2024-02-01")))
  }

  test("query: raw-vector shorthand, defaults for limit/offset") {
    val q = RequestCodec.parseQueryRequest("""{"query": [0.1, 0.2, 0.3]}""", ctx)
    assert(q == Query(Nearest(Space("embedding", Dot), DenseVector(Seq(0.1, 0.2, 0.3)))))
    assert(q.limit == 10 && q.offset == 0)
  }

  test("query: nearest by id resolves through the ctx hook; using routes the space") {
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "using": "img", "limit": 3}""", ctx)
    assert(q.scoring == Nearest(Space("img_vec", Cosine), DenseVector(Seq(1.0, 2.0))))
    assert(q.limit == 3)
  }

  test("query: prefetch without its own lookup_from does NOT inherit the parent's") {
    // Each node resolves ids with only its own lookup_from
    // (`collection_query.rs:613-638`; schema.rs Prefetch doc: "if not
    // specified - use the current collection").
    val lctx = Ctx(
      spaces = Map("" -> VectorSpace("embedding", Dot)),
      resolveId = { case (_, 7L) => Left(Seq(1.0, 2.0))
        case (_, id) => fail(s"bad id $id") },
      resolveLookup = (lf, id) => {
        assert(lf.collection == "other" && id == 7L); Left(Seq(9.0, 9.0))
      })
    val q = RequestCodec.parseQueryRequest(
      """{"lookup_from": {"collection": "other"},
        |  "prefetch": {"query": {"nearest": 7}, "limit": 5},
        |  "query": {"nearest": 7}, "limit": 3}""".stripMargin, lctx)
    // the root's own id resolves through the foreign collection...
    assert(q.scoring == Nearest(Space("embedding", Dot), DenseVector(Seq(9.0, 9.0))))
    // ...but the prefetch resolves against the CURRENT collection
    assert(q.prefetches.head.scoring ==
      Nearest(Space("embedding", Dot), DenseVector(Seq(1.0, 2.0))))
    // a prefetch WITH its own lookup_from still installs its own redirect
    val q2 = RequestCodec.parseQueryRequest(
      """{"prefetch": {"lookup_from": {"collection": "other"},
        |              "query": {"nearest": 7}, "limit": 5},
        |  "query": {"nearest": 7}, "limit": 3}""".stripMargin, lctx)
    assert(q2.scoring == Nearest(Space("embedding", Dot), DenseVector(Seq(1.0, 2.0))))
    assert(q2.prefetches.head.scoring ==
      Nearest(Space("embedding", Dot), DenseVector(Seq(9.0, 9.0))))
  }

  test("query: referenced ids collect as excludeIds — root, nested, lookup_from exemption") {
    // `exclude_referenced_ids` (`collection_query.rs:523-531,701-705`):
    // every same-collection id resolved as a vector input lands in
    // Query.excludeIds (kept out of the filter until resolveExclusion so
    // strict mode counts only user conditions)
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "limit": 3}""", ctx)
    assert(q.excludeIds == Seq(7L))
    assert(q.filter.isEmpty)
    val r = PointQuery.resolveExclusion(q)
    assert(r.excludeIds.isEmpty)
    assert(r.filter.get.mustNot == Seq(HasId(Seq(7L))))
    // nested prefetch ids collect into the ROOT's excludeIds
    val nested = RequestCodec.parseQueryRequest(
      """{"prefetch": [{"query": {"nearest": 7}, "limit": 5}],
        |  "query": {"rrf": {}}, "limit": 3}""".stripMargin, ctx)
    assert(nested.excludeIds == Seq(7L))
    assert(nested.prefetches.head.excludeIds.isEmpty)
    // a FOREIGN lookup_from exempts its ids; the SAME collection (by
    // name) does not (`lookup_collection != collection_name`,
    // `collection_query.rs:552-556`)
    val lctx = Ctx(
      spaces = Map("" -> VectorSpace("embedding", Dot)),
      resolveId = { case (_, _) => Left(Seq(1.0, 2.0)) },
      resolveLookup = (_, _) => Left(Seq(9.0, 9.0)),
      collectionName = Some("self"))
    val foreign = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7},
        |  "lookup_from": {"collection": "other"}, "limit": 3}""".stripMargin, lctx)
    assert(foreign.excludeIds.isEmpty)
    val same = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7},
        |  "lookup_from": {"collection": "self"}, "limit": 3}""".stripMargin, lctx)
    assert(same.excludeIds == Seq(7L))
  }

  test("lookup_from without a vector falls back to the node's `using` name — dense AND sparse") {
    // `get_lookup_vector_name` (`retrieve_request_trait.rs:117-125`):
    // `LookupLocation.vector` falls back to the REQUEST's vector name, so
    // `{"using": "x", "lookup_from": {"collection": "q"}}` resolves the
    // foreign collection's "x" space, not its default unnamed vector
    var denseSeen: Option[Option[String]] = None
    var sparseSeen: Option[Option[String]] = None
    val fctx = Ctx(
      spaces = Map("x" -> VectorSpace("vector_x", Dot),
        "tok" -> VectorSpace("sparse_tok", Dot, sparse = true)),
      resolveLookup = (lf, _) => { denseSeen = Some(lf.vector); Left(Seq(1.0, 2.0)) },
      resolveSparseLookup = (lf, _) => {
        sparseSeen = Some(lf.vector); (Seq(0), Seq(1.0)) })
    RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "using": "x",
        |  "lookup_from": {"collection": "q"}, "limit": 3}""".stripMargin, fctx)
    assert(denseSeen == Some(Some("x")))
    RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "using": "tok",
        |  "lookup_from": {"collection": "q"}, "limit": 3}""".stripMargin, fctx)
    assert(sparseSeen == Some(Some("tok")))
    // an EXPLICIT lookup vector still wins over the fallback
    RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "using": "x",
        |  "lookup_from": {"collection": "q", "vector": "other"}, "limit": 3}"""
        .stripMargin, fctx)
    assert(denseSeen == Some(Some("other")))
  }

  test("filter: an unparseable string range bound rejects with the reference message") {
    // string range bounds are always datetimes (`RangeInterface` is f64 or
    // `DatetimeRange`); the reference 422s at deserialization
    // (`types.rs:107`) — a silent pass-through would cast to NULL and
    // match nothing
    val ex = intercept[IllegalArgumentException] {
      RequestCodec.parseFilter(
        """{"must": [{"key": "ts", "range": {"gte": "2014-99-01"}}]}""")
    }
    assert(ex.getMessage.contains(
      "'2014-99-01' does not match accepted datetime format (RFC3339). " +
        "Example: 2014-01-01T00:00:00Z"))
    // `order_by.start_from` shares the contract (`StartFrom` is
    // Integer | Float | Datetime — a string is always a datetime)
    val ex2 = intercept[IllegalArgumentException] {
      RequestCodec.parseQueryRequest(
        """{"query": {"order_by": {"key": "ts", "start_from": "2014-99-01"}},
          |  "limit": 3}""".stripMargin, ctx)
    }
    assert(ex2.getMessage.contains("does not match accepted datetime format"))
    // numeric and VALID datetime cursors still pass
    RequestCodec.parseQueryRequest(
      """{"query": {"order_by": {"key": "ts", "start_from": 900.5}},
        |  "limit": 3}""".stripMargin, ctx)
    RequestCodec.parseQueryRequest(
      """{"query": {"order_by": {"key": "ts",
        |  "start_from": "2024-01-20T12:00:00Z"}}, "limit": 3}""".stripMargin, ctx)
  }

  test("query: multi-dense matrix becomes MaxSim (the only multivector comparator)") {
    val q = RequestCodec.parseQueryRequest(
      """{"query": [[0.1, 0.2], [0.3, 0.4]]}""", ctx)
    assert(q.scoring ==
      Nearest(Space("embedding", Dot), MultiVector(Seq(Seq(0.1, 0.2), Seq(0.3, 0.4)))))
  }

  test("query: a single dense vector over a multivector space is a 1-token MaxSim") {
    // the legacy-API emulation (`TryFrom<VectorInternal> for
    // MultiDenseVectorInternal`, `data_types/vectors.rs:176-190`;
    // `test_multi_vector.py:287-371`) — raw, nearest-object and the
    // prefetch forms all promote
    val mctx = Ctx(spaces = Map(
      "tok" -> VectorSpace("vector_tok", Dot, multivector = true)))
    val raw = RequestCodec.parseQueryRequest(
      """{"query": [0.1, 0.2], "using": "tok"}""", mctx)
    assert(raw.scoring == Nearest(Space("vector_tok", Dot), MultiVector(Seq(Seq(0.1, 0.2)))))
    val nearest = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": [0.1, 0.2]}, "using": "tok"}""", mctx)
    assert(nearest.scoring == Nearest(Space("vector_tok", Dot), MultiVector(Seq(Seq(0.1, 0.2)))))
    val pf = RequestCodec.parseQueryRequest(
      """{"prefetch": [{"query": [0.3, 0.4], "using": "tok", "limit": 7}],
        |  "query": {"nearest": [0.1, 0.2]}, "using": "tok"}""".stripMargin, mctx)
    assert(pf.prefetches.head.scoring ==
      Nearest(Space("vector_tok", Dot), MultiVector(Seq(Seq(0.3, 0.4)))))
  }

  test("query: custom queries over a multivector space take matrix examples") {
    // recommend / discover / context / feedback / mmr against a multivec
    // `using`: by-id examples resolve stored matrices, inline dense expands
    // to 1-token, inline nested arrays stay matrices
    val mctx = Ctx(
      spaces = Map("tok" -> VectorSpace("vector_tok", Dot, multivector = true)),
      resolveId = (n, id) => { assert(n == "tok" && id == 7L)
        Right(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))) })
    val rec = RequestCodec.parseQueryRequest(
      """{"query": {"recommend": {"positive": [7, [0.1, 0.2]],
        |  "negative": [[[0.3, 0.4], [0.5, 0.6]]], "strategy": "best_score"}},
        |  "using": "tok"}""".stripMargin, mctx)
    assert(rec.scoring == Recommend(Space("vector_tok", Dot), "best_score",
      Seq(MultiVector(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))), MultiVector(Seq(Seq(0.1, 0.2)))),
      Seq(MultiVector(Seq(Seq(0.3, 0.4), Seq(0.5, 0.6))))))
    assert(rec.excludeIds == Seq(7L))
    val disc = RequestCodec.parseQueryRequest(
      """{"query": {"discover": {"target": 7,
        |  "context": [{"positive": [0.1, 0.2], "negative": [0.3, 0.4]}]}},
        |  "using": "tok"}""".stripMargin, mctx)
    assert(disc.scoring == Discover(Space("vector_tok", Dot),
      MultiVector(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      Seq((MultiVector(Seq(Seq(0.1, 0.2))), MultiVector(Seq(Seq(0.3, 0.4)))))))
    val cx = RequestCodec.parseQueryRequest(
      """{"query": {"context": [{"positive": 7, "negative": [0.3, 0.4]}]},
        |  "using": "tok"}""".stripMargin, mctx)
    assert(cx.scoring == Context(Space("vector_tok", Dot),
      Seq((MultiVector(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))), MultiVector(Seq(Seq(0.3, 0.4)))))))
    val fb = RequestCodec.parseQueryRequest(
      """{"query": {"relevance_feedback": {"target": 7,
        |  "feedback": [{"example": [0.1, 0.2], "score": 0.9}],
        |  "strategy": {"naive": {"a": 1.0, "b": 2.0, "c": 0.5}}}},
        |  "using": "tok"}""".stripMargin, mctx)
    assert(fb.scoring == Feedback(Space("vector_tok", Dot),
      MultiVector(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      Seq((MultiVector(Seq(Seq(0.1, 0.2))), 0.9)), 1.0, 2.0, 0.5))
    val mmr = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": [0.1, 0.2],
        |  "mmr": {"diversity": 0.8, "candidates_limit": 32}},
        |  "using": "tok", "limit": 5}""".stripMargin, mctx)
    val MmrQ(Space(vc, m, _, _), MultiVector(qm), lambda) = mmr.scoring: @unchecked
    assert(vc == "vector_tok" && m == Dot && qm == Seq(Seq(0.1, 0.2)))
    assert(math.abs(lambda - 0.2) < 1e-12)
    assert(mmr.prefetches ==
      Seq(Query(Nearest(Space("vector_tok", Dot), MultiVector(Seq(Seq(0.1, 0.2)))), limit = 32)))
  }

  test("query: nearest+mmr synthesizes the candidates prefetch, lambda = 1 - diversity") {
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": [1.0, 0.0], "mmr": {"diversity": 0.8, "candidates_limit": 64}},
        | "limit": 5}""".stripMargin, ctx)
    val MmrQ(Space(colName, m, _, _), DenseVector(v), lambda) = q.scoring: @unchecked
    assert(colName == "embedding" && m == Dot && v == Seq(1.0, 0.0))
    assert(math.abs(lambda - 0.2) < 1e-12)
    assert(q.prefetches ==
      Seq(Query(Nearest(Space("embedding", Dot), DenseVector(Seq(1.0, 0.0))), limit = 64)))
    assert(q.limit == 5)
  }

  test("query: sparse by-id nearest and sparse MMR resolve through the sparse space") {
    val sctx = Ctx(
      spaces = Map("txt" -> VectorSpace("sparse_txt", Dot, sparse = true)),
      resolveSparseId = (name, id) => {
        assert(name == "txt" && id == 7L); (Seq(1, 3), Seq(0.5, 2.0))
      })
    // bare-id and nearest-object forms must both succeed against a sparse
    // `using` (`tests/openapi/test_query_full.py:1411-1421`)
    val bare = RequestCodec.parseQueryRequest(
      """{"query": 7, "using": "txt"}""", sctx)
    assert(bare.scoring ==
      Nearest(Space("sparse_txt", Dot), SparseVector(Seq(1, 3), Seq(0.5, 2.0))))
    val tagged = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7}, "using": "txt"}""", sctx)
    assert(tagged.scoring == bare.scoring)
    // sparse MMR: the root becomes a sparse MmrQ and the synthesized
    // candidates prefetch is the resolved sparse leaf
    val mmr = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": 7, "mmr": {"diversity": 0.7,
        |  "candidates_limit": 20}}, "using": "txt", "limit": 5}""".stripMargin,
      sctx)
    val MmrQ(Space(c, _, _, _), SparseVector(qi, qv), lam) = mmr.scoring: @unchecked
    assert(c == "sparse_txt" && qi == Seq(1, 3) && qv == Seq(0.5, 2.0))
    assert(math.abs(lam - 0.3) < 1e-12)
    assert(mmr.prefetches ==
      Seq(Query(Nearest(Space("sparse_txt", Dot), SparseVector(Seq(1, 3), Seq(0.5, 2.0))),
        limit = 20)))
  }

  test("query: recommend defaults to average_vector; sum_scores and best_score route") {
    def rec(strategy: String) = RequestCodec.parseQueryRequest(
      s"""{"query": {"recommend": {"positive": [[1.0]], "negative": [[2.0]]$strategy}}}""", ctx)
    assert(rec("").scoring == Recommend(Space("embedding", Dot), "average_vector",
      Seq(DenseVector(Seq(1.0))), Seq(DenseVector(Seq(2.0)))))
    assert(rec(""", "strategy": "best_score"""").scoring ==
      Recommend(Space("embedding", Dot), "best_score",
        Seq(DenseVector(Seq(1.0))), Seq(DenseVector(Seq(2.0)))))
    assert(rec(""", "strategy": "sum_scores"""").scoring ==
      Recommend(Space("embedding", Dot), "sum_scores",
        Seq(DenseVector(Seq(1.0))), Seq(DenseVector(Seq(2.0)))))
  }

  test("query: order_by bare-key and struct forms; sample needs the seeded ctx") {
    val bare = RequestCodec.parseQueryRequest("""{"query": {"order_by": "price"}}""", ctx)
    assert(bare.scoring == OrderByField("price", asc = true))
    val full = RequestCodec.parseQueryRequest(
      """{"query": {"order_by": {"key": "ts", "direction": "desc",
        |                        "start_from": "2024-01-01T00:00:00Z"}}}""".stripMargin, ctx)
    assert(full.scoring ==
      OrderByField("ts", asc = false, Some("2024-01-01T00:00:00Z")))
    val sample = RequestCodec.parseQueryRequest("""{"query": {"sample": "random"}}""", ctx)
    assert(sample.scoring == SampleRandom(ctx.sampleSeed))
  }

  test("query: fusion string form and rrf struct form with k + weights") {
    val f = RequestCodec.parseQueryRequest(
      """{"prefetch": [{"query": [1.0]}, {"query": [2.0]}], "query": {"fusion": "dbsf"}}""", ctx)
    assert(f.scoring == FusionQ("dbsf"))
    assert(f.prefetches.length == 2)
    val r = RequestCodec.parseQueryRequest(
      """{"prefetch": {"query": [1.0]}, "query": {"rrf": {"k": 60, "weights": [1.0, 2.0]}}}""", ctx)
    assert(r.scoring == FusionQ("rrf", Some(Seq(1.0, 2.0)), Some(60)))
  }

  test("formula: variables, defaults, decay params, condition indicator") {
    val e = RequestCodec.formulaOf(org.json4s.jackson.JsonMethods.parse(
      """{"sum": ["$score", "$score[2]", "price",
        |         {"exp_decay": {"x": {"datetime_key": "ts"},
        |                        "target": {"datetime": "2024-01-01T00:00:00Z"}}},
        |         {"key": "city", "match": {"value": "Berlin"}}]}""".stripMargin),
      defaults = Map("price" -> 1.5))
    val Formula.Sum(parts) = e: @unchecked
    assert(parts(0) == Formula.ScoreVar(0))
    assert(parts(1) == Formula.ScoreVar(2))
    assert(parts(2) == Formula.PayloadVar("price", Some(1.5)))
    assert(parts(3) == Formula.Decay(Formula.ExpDecay,
      Formula.DatetimeVar("ts"), Formula.DatetimeConstant("2024-01-01T00:00:00Z"),
      midpoint = 0.5, scale = 1.0))
    assert(parts(4) == Formula.CondVar(MatchValue("city", "Berlin")))
  }

  test("scroll/count/facet bodies parse with defaults") {
    val sc = RequestCodec.parseScrollRequest(
      """{"offset": 100, "filter": {"must": [{"key": "lang", "match": {"value": "en"}}]},
        | "order_by": {"key": "ts", "direction": "desc"}}""".stripMargin)
    assert(sc.offset.contains(100L) && sc.limit == 10)
    assert(sc.filter.get.must == Seq(MatchValue("lang", "en")))
    assert(sc.orderBy.contains(OrderByField("ts", asc = false)))
    // a UUID offset parses (canonicalized); a loose string is NOT an id
    assert(RequestCodec.parseScrollRequest(
      """{"offset": "B524A3C4-C568-4383-8019-C9CA08243D6A"}""").offset
      .contains("b524a3c4-c568-4383-8019-c9ca08243d6a"))
    assert(intercept[IllegalArgumentException](
      RequestCodec.parseScrollRequest("""{"offset": "a0f5-uuid"}"""))
      .getMessage.contains("is not a valid point ID"))
    assert(RequestCodec.parseCountRequest("""{"exact": true}""").filter.isEmpty)
    assert(!RequestCodec.parseCountRequest("""{"exact": false}""").exact)
    assert(RequestCodec.parseCountRequest("""{}""").exact)
    val fc = RequestCodec.parseFacetRequest("""{"key": "lang", "limit": 3}""")
    assert(fc.key == "lang" && fc.limit == 3 && fc.filter.isEmpty)
  }

  test("retrieve body: with_payload bool / list / include / exclude forms") {
    import org.json4s.jackson.JsonMethods.parse
    val spec = RequestCodec.parseRetrieveRequest(
      """{"ids": [1, "1d675313-d3dd-4646-8b98-8052364872da"],
        |  "with_payload": {"exclude": ["meta.head"]}}""".stripMargin)
    assert(spec.ids == Seq(1L, "1d675313-d3dd-4646-8b98-8052364872da") &&
      spec.withPayload.isDefined)
    assert(RequestCodec.parseWithPayload(parse("false")).isEmpty)
    assert(RequestCodec.parseWithPayload(parse("true")).isDefined)
    assert(RequestCodec.parseWithPayload(parse("""["lang"]""")).isDefined)
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseWithPayload(parse("""{"frob": 1}"""))
    }
  }

  test("group-by and matrix bodies parse (limit = group count; matrix defaults)") {
    val g = RequestCodec.parseGroupRequest(
      """{"query": [1.0], "group_by": "label", "group_size": 2, "limit": 5,
        | "with_lookup": "other"}""".stripMargin, ctx)
    assert(g.groupBy == "label" && g.groupSize == 2 && g.groups == 5)
    assert(g.lookupCollection.contains("other"))
    assert(g.query.scoring == Nearest(Space("embedding", Dot), DenseVector(Seq(1.0))))
    val g2 = RequestCodec.parseGroupRequest(
      """{"query": [1.0], "group_by": "k", "with_lookup": {"collection": "c2"}}""", ctx)
    assert(g2.groupSize == 3 && g2.groups == 10 && g2.lookupCollection.contains("c2"))
    val m = RequestCodec.parseMatrixRequest("""{"sample": 20, "limit": 4}""")
    assert(m.sample == 20 && m.limit == 4 && m.filter.isEmpty)
    val md = RequestCodec.parseMatrixRequest("{}")
    assert(md.sample == 10 && md.limit == 3)
  }

  test("update operations: every op form parses in order") {
    import RequestCodec._
    val ops = RequestCodec.parseUpdateOperations(
      """{"operations": [
        |  {"upsert": {"points": [
        |     {"id": 1, "vector": [0.1, 0.2], "payload": {"a": 1}},
        |     {"id": "B524A3C4-C568-4383-8019-C9CA08243D6A", "vector": {"img": [0.5]}}]}},
        |  {"upsert": {"points": [{"id": 2, "vector": [1.0]}],
        |              "update_filter": {"must": [{"key": "a", "match": {"value": 1}}]}}},
        |  {"delete": {"points": [1, 2]}},
        |  {"delete": {"filter": {"must": [{"key": "lang", "match": {"value": "de"}}]}}},
        |  {"set_payload": {"payload": {"flag": "x"}, "points": [3]}},
        |  {"overwrite_payload": {"payload": {"only": true}, "filter": {"must": [{"has_id": [4]}]}}},
        |  {"delete_payload": {"keys": ["source"], "points": [5]}},
        |  {"clear_payload": {"points": [6]}},
        |  {"update_vectors": {"points": [{"id": 7, "vector": [9.0]}]}},
        |  {"delete_vectors": {"points": [8], "vector": ["img"]}}
        |]}""".stripMargin)
    assert(ops.length == 10)
    val WUpsert(pts, None, graft.storage.UpdateMode.Upsert, None) = ops(0): @unchecked
    assert(pts(0) == WirePoint(1L, Map("" -> WDenseVec(Seq(0.1, 0.2))), Some("""{"a":1}""")))
    // UPPERCASE wire form canonicalizes at parse (ExtendedPointId is the
    // parsed 128-bit value, types.rs:243-268)
    assert(pts(1) == WirePoint("b524a3c4-c568-4383-8019-c9ca08243d6a",
      Map("img" -> WDenseVec(Seq(0.5))), None))
    val WUpsert(_, Some(uf), _, _) = ops(1): @unchecked
    assert(uf.must == Seq(MatchValue("a", 1L)))
    assert(ops(2) == WDelete(Selector(Some(Seq(1L, 2L)), None)))
    val WDelete(Selector(None, Some(df), Nil)) = ops(3): @unchecked
    assert(df.must == Seq(MatchValue("lang", "de")))
    assert(ops(4) == WSetPayload("""{"flag":"x"}""", Selector(Some(Seq(3L)), None), overwrite = false))
    val WSetPayload(ow, Selector(None, Some(owf), Nil), true, None) = ops(5): @unchecked
    assert(ow == """{"only":true}""" && owf.must == Seq(HasId(Seq(4L))))
    assert(ops(6) == WDeletePayload(Seq("source"), Selector(Some(Seq(5L)), None)))
    assert(ops(7) == WClearPayload(Selector(Some(Seq(6L)), None)))
    assert(ops(8) == WUpdateVectors(Seq(WirePoint(7L, Map("" -> WDenseVec(Seq(9.0))), None))))
    assert(ops(9) == WDeleteVectors(Selector(Some(Seq(8L)), None), Seq("img")))
    // path-scoped payload merge parses (`SetPayloadOp.key`); overwrite
    // ignores the key like the reference (`update/mod.rs:167-178`)
    val keyed = RequestCodec.parseUpdateOperations(
      """{"operations": [
        |  {"set_payload": {"payload": {"a": 1}, "points": [1], "key": "nested.path"}},
        |  {"overwrite_payload": {"payload": {"a": 1}, "points": [1], "key": "nested.path"}}
        |]}""".stripMargin)
    assert(keyed(0) == WSetPayload("""{"a":1}""",
      Selector(Some(Seq(1L)), None), overwrite = false, key = Some("nested.path")))
    assert(keyed(1) == WSetPayload("""{"a":1}""",
      Selector(Some(Seq(1L)), None), overwrite = true, key = None))
  }

  test("sparse wire input: unsorted indices canonicalize, duplicates rejected") {
    import RequestCodec._
    val sctx = Ctx(spaces = Map(
      "" -> VectorSpace("embedding", Dot),
      "txt" -> VectorSpace("sparse_txt", Dot, sparse = true)))
    // the reference accepts any wire order and sorts internally
    // (`sort_by_indices`, `data_types/vectors.rs:76`)
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"indices": [5, 2], "values": [0.5, 1.0]},
        |  "using": "txt", "limit": 3}""".stripMargin, sctx)
    assert(q.scoring ==
      Nearest(Space("sparse_txt", Dot), SparseVector(Seq(2, 5), Seq(1.0, 0.5))))
    // uniqueness is a hard invariant (`validate_sparse_vector_impl`)
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest(
        """{"query": {"indices": [2, 2], "values": [1.0, 1.0]},
          |  "using": "txt"}""".stripMargin, sctx)
    }
    // same canonicalization on the upsert path
    val ops = RequestCodec.parseUpdateOperations(
      """{"operations": [{"upsert": {"points": [
        |  {"id": 1, "vector": {"txt": {"indices": [9, 3], "values": [0.9, 0.3]}}}
        |]}}]}""".stripMargin)
    val WUpsert(pts, None, _, _) = ops.head: @unchecked
    assert(pts.head.vectors("txt") == WSparseVec(Seq(3, 9), Seq(0.3, 0.9)))
  }

  test("nearest+mmr with explicit prefetches keeps them as the candidate set") {
    val q = RequestCodec.parseQueryRequest(
      """{"prefetch": [{"query": [0.5, 0.5], "limit": 50}],
        |  "query": {"nearest": [1.0, 0.0], "mmr": {"diversity": 0.5}},
        |  "limit": 5}""".stripMargin, ctx)
    // the user's prefetch union IS the candidate set (MMR is a rescore
    // parent over sources); the synthesized Nearest only applies when no
    // prefetch is given
    assert(q.prefetches == Seq(
      Query(Nearest(Space("embedding", Dot), DenseVector(Seq(0.5, 0.5))), limit = 50)))
  }

  test("query validation: no-query scroll, prefetch/threshold/order_by rules, limit >= 1") {
    // no query = plain id-order scroll (`planned_query.rs:189`)
    val scroll = RequestCodec.parseQueryRequest("""{"limit": 20}""", ctx)
    assert(scroll.scoring == ScrollById && scroll.limit == 20)
    // the reference's validation messages (`test_query.py::test_query_validation`)
    def msg(body: String): String =
      intercept[IllegalArgumentException](
        RequestCodec.parseQueryRequest(body, ctx)).getMessage
    assert(msg("""{"prefetch": [{"query": [1.0, 2.0]}]}""")
      .contains("Can't have prefetches without defining a query"))
    assert(msg("""{"score_threshold": 10}""")
      .contains("Can't have score_threshold without defining a query"))
    assert(msg("""{"score_threshold": 10, "query": {"order_by": {"key": "price"}}}""")
      .contains("Can't use score_threshold with an order_by query"))
    assert(msg("""{"query": [1.0], "limit": 0}""").contains("must be 1 or larger"))
    // fusion×using rejects on PRESENCE of the field, an explicit "" included
    // (`collection_query.rs:769-776` — serde yields Some("") for "")
    assert(msg("""{"prefetch": [{"query": [1.0]}],
      |  "query": {"fusion": "rrf"}, "using": ""}""".stripMargin)
      .contains("Fusion queries cannot be combined with the 'using' field."))
  }

  test("bm25 murmur3: standard x86_32 test vectors; token_id unsigned_abs") {
    import graft.functions.Bm25
    def h(s: String, seed: Int = 0) =
      Bm25.murmur3(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), seed)
    // published MurmurHash3 x86_32 vectors (Appleby reference impl)
    assert(h("") == 0)
    assert(h("test") == 0xba6bd213)
    assert(h("Hello, world!") == 0xc0363e43)
    assert(h("The quick brown fox jumps over the lazy dog") == 0x2e4ff723)
    assert(h("", 1) == 0x514e28b7)
    // token_id is |h| (u32 unsigned_abs; lib.rs:166-168)
    assert(Bm25.tokenId("test") == math.abs(0xba6bd213))
    assert(Bm25.tokenId("test") > 0)
    // embed_query: sorted unique ids at weight 1.0 (lib.rs:118-130)
    val (qi, qv) = Bm25.embedQuery(Seq("b", "a", "b"))
    assert(qi.length == 2 && qi == qi.sorted && qv.forall(_ == 1.0))
  }

  test("upsert points: dense / multi-dense / sparse vector values parse typed") {
    import RequestCodec._
    val ops = RequestCodec.parseUpdateOperations(
      """{"operations": [{"upsert": {"points": [
        |  {"id": 1, "vector": {"": [1.0, 2.0],
        |     "tok": [[1.0, 0.0], [0.0, 1.0]],
        |     "txt": {"indices": [2, 5], "values": [0.5, 1.5]}}},
        |  {"id": 2, "vector": [3.0, 4.0]}]}}]}""".stripMargin)
    val WUpsert(pts, None, _, _) = ops.head: @unchecked
    assert(pts(0).vectors("") == WDenseVec(Seq(1.0, 2.0)))
    assert(pts(0).vectors("tok") == WMultiVec(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
    assert(pts(0).vectors("txt") == WSparseVec(Seq(2, 5), Seq(0.5, 1.5)))
    assert(pts(1).vectors("") == WDenseVec(Seq(3.0, 4.0)))
  }

  test("params: SearchParams knobs parse; absent params stay None") {
    val q = RequestCodec.parseQueryRequest(
      """{"query": [1.0, 2.0], "limit": 5,
        |  "params": {"exact": true, "hnsw_ef": 128, "indexed_only": false,
        |    "quantization": {"ignore": false, "rescore": false,
        |                     "oversampling": 2.5}}}""".stripMargin, ctx)
    assert(q.params.contains(SearchParams(
      exact = true, quantIgnore = false, rescore = false,
      oversampling = Some(2.5), hnswEf = Some(128))))
    val bare = RequestCodec.parseQueryRequest(
      """{"query": [1.0, 2.0], "limit": 5}""", ctx)
    assert(bare.params.isEmpty)
  }

  test("collection PATCH diff: quantization add/remove per vector, sparse modifier, immutability") {
    import graft.sources.{CollectionConfig, QuantizationSpec, SparseVectorConfig, VectorConfig}
    val base = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 64, Dot)),
      sparse = Seq(SparseVectorConfig("txt")))
    val patched = RequestCodec.parseCollectionUpdate(
      """{"vectors": {"": {"quantization_config": {"scalar": {"type": "int8",
        |    "quantile": 0.9}}}},
        | "sparse_vectors": {"txt": {"modifier": "idf"}}}""".stripMargin, base)
    assert(patched.vectors.head.quantization
      .contains(QuantizationSpec("scalar", quantile = 0.9)))
    assert(patched.sparse.head.modifier.contains("idf"))
    // explicit null removes quantization; absent knob keeps current
    val removed = RequestCodec.parseCollectionUpdate(
      """{"vectors": {"": {"quantization_config": null}}}""", patched)
    assert(removed.vectors.head.quantization.isEmpty)
    assert(removed.sparse.head.modifier.contains("idf"))
    // unknown vector names in the diff fail loudly
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseCollectionUpdate(
        """{"vectors": {"nope": {"quantization_config": null}}}""", base)
    }
  }

  test("query: bare shorthands — id, uuid-form string rejection path, sparse object") {
    // `QueryInterface::Nearest(VectorInput)` is untagged (schema.rs:637-640)
    val q = RequestCodec.parseQueryRequest("""{"query": 7, "limit": 3}""", ctx)
    assert(q.scoring == Nearest(Space("embedding", Dot), DenseVector(Seq(1.0, 2.0))))
    val sctx = Ctx(spaces = Map(
      "" -> VectorSpace("embedding", Dot),
      "txt" -> VectorSpace("sparse_txt", Dot, sparse = true)))
    val sq = RequestCodec.parseQueryRequest(
      """{"query": {"indices": [2, 4], "values": [1.0, 2.0]},
        |  "using": "txt", "limit": 3}""".stripMargin, sctx)
    assert(sq.scoring ==
      Nearest(Space("sparse_txt", Dot), SparseVector(Seq(2, 4), Seq(1.0, 2.0))))
    // bare id against a sparse space fails loudly
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest("""{"query": 7, "using": "txt"}""", sctx)
    }
  }

  test("point ids: ExtendedPointId wire forms — UUID canonicalization and rejections") {
    import graft.api.PointId
    val canon = "b524a3c4-c568-4383-8019-c9ca08243d6a"
    // the uuid crate's four accepted syntaxes (types.rs:243-268 tries
    // u64 then Uuid), every form canonicalizing to lowercase hyphenated
    assert(PointId.parseString(canon) == canon)
    assert(PointId.parseString(canon.toUpperCase) == canon)
    assert(PointId.parseString(canon.replace("-", "")) == canon)
    assert(PointId.parseString("URN:UUID:" + canon.toUpperCase) == canon)
    assert(PointId.parseString(s"{$canon}") == canon)
    // non-UUID strings reject with the reference deserializer's message —
    // including DIGIT strings ("5" is only an id on path params, never in
    // a JSON body) and near-misses
    for (bad <- Seq("foo", "5", canon.dropRight(1), canon + "0",
        "b524a3c4-c568-4383-8019-c9ca08243d6g", "urn:" + canon))
      assert(intercept[IllegalArgumentException](PointId.parseString(bad))
        .getMessage.contains("is not a valid point ID"))
    // unsigned integers across the FULL u64 domain: the i64 range stays
    // Long, the [2^63, 2^64) tail becomes its decimal-string rendering
    // (the mixed-id machinery orders/hashes it as a NumId), beyond u64
    // rejects loudly like serde's u64 arm
    assert(PointId.parseNum(BigInt(0)) == 0L)
    assert(PointId.parseNum(BigInt(Long.MaxValue)) == Long.MaxValue)
    assert(PointId.parseNum(BigInt(Long.MaxValue) + 1)
      == "9223372036854775808")
    assert(PointId.parseNum((BigInt(1) << 64) - 1) == "18446744073709551615")
    assert(intercept[IllegalArgumentException](PointId.parseNum(BigInt(-1)))
      .getMessage.contains("is not a valid point ID"))
    assert(intercept[IllegalArgumentException](
      PointId.parseNum(BigInt(1) << 64))
      .getMessage.contains("exceeds the supported id range"))
    // the id-bearing wire surfaces all route through the parser: upsert,
    // retrieve ids, has_id, by-id query inputs
    assert(intercept[IllegalArgumentException](RequestCodec.parseUpdateOperations(
      """{"operations": [{"upsert": {"points": [{"id": "x", "vector": [1.0]}]}}]}"""))
      .getMessage.contains("is not a valid point ID"))
    assert(intercept[IllegalArgumentException](RequestCodec.parseRetrieveRequest(
      """{"ids": [1.5]}""", None))
      .getMessage.contains("is not a valid point ID"))
    assert(intercept[IllegalArgumentException](RequestCodec.parseQueryRequest(
      """{"query": "not-a-uuid", "limit": 3}""", ctx))
      .getMessage.contains("is not a valid point ID"))
    // a filter has_id list canonicalizes its UUID members
    val f = RequestCodec.parseFilter(
      s"""{"must": [{"has_id": [7, "${canon.toUpperCase}"]}]}""")
    assert(f.must == Seq(HasId(Seq(7L, canon))))
  }

  test("query: sparse nearest routes to the sparse space; mismatches fail loudly") {
    val sctx = Ctx(spaces = Map(
      "" -> VectorSpace("embedding", Dot),
      "txt" -> VectorSpace("sparse_txt", Dot, sparse = true)))
    val q = RequestCodec.parseQueryRequest(
      """{"query": {"nearest": {"indices": [3, 7], "values": [0.5, 1.5]}},
        |  "using": "txt", "limit": 5}""".stripMargin, sctx)
    assert(q.scoring ==
      Nearest(Space("sparse_txt", Dot), SparseVector(Seq(3, 7), Seq(0.5, 1.5))))
    // dense input into a sparse space fails loudly, both forms
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest(
        """{"query": [1.0, 2.0], "using": "txt"}""", sctx)
    }
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest(
        """{"query": {"nearest": [1.0, 2.0]}, "using": "txt"}""", sctx)
    }
  }

  test("collection config: single/named vectors, datatype, multivector, sparse modifier") {
    import graft.sources.{SparseVectorConfig, VectorConfig}
    // single unnamed vector params
    val single = RequestCodec.parseCollectionConfig(
      """{"vectors": {"size": 4, "distance": "Cosine"}}""")
    assert(single.vectors == Seq(VectorConfig("", 4, Cosine)))
    // dimension cap 1..=65536 (PR #2544; test_limits.py pins the message)
    assert(RequestCodec.parseCollectionConfig(
      """{"vectors": {"size": 65536, "distance": "Dot"}}""")
      .vectors.head.dim == 65536)
    for (bad <- Seq(0L, 65537L))
      assert(intercept[IllegalArgumentException](
        RequestCodec.parseCollectionConfig(
          s"""{"vectors": {"size": $bad, "distance": "Dot"}}"""))
        .getMessage.contains(
          s"vectors.size: value $bad invalid, must be from 1 to 65536"))
    // named map with datatype + multivector comparator; sparse with modifier;
    // online-index knobs (hnsw_config, on_disk) parse-and-ignore
    val cfg = RequestCodec.parseCollectionConfig(
      """{
        |  "vectors": {
        |    "img": {"size": 8, "distance": "Euclid", "datatype": "uint8",
        |            "hnsw_config": {"m": 16}, "on_disk": true},
        |    "tok": {"size": 16, "distance": "Dot",
        |            "multivector_config": {"comparator": "max_sim"}}
        |  },
        |  "sparse_vectors": {"txt": {"modifier": "idf"}, "raw": {}}
        |}""".stripMargin, idCol = "pid")
    assert(cfg.idCol == "pid")
    assert(cfg.vectors.toSet == Set(
      VectorConfig("img", 8, Euclid, datatype = Uint8),
      VectorConfig("tok", 16, Dot, multivector = true)))
    assert(cfg.sparse.toSet == Set(
      SparseVectorConfig("txt", Some("idf")), SparseVectorConfig("raw", None)))
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseCollectionConfig(
        """{"vectors": {"size": 4, "distance": "Chebyshev"}}""")
    }
  }

  test("loud failures: sparse input, unknown vector name, bad condition") {
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest(
        """{"query": {"nearest": {"indices": [1], "values": [0.5]}}}""", ctx)
    }
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseQueryRequest("""{"query": [1.0], "using": "nope"}""", ctx)
    }
    assertThrows[IllegalArgumentException] {
      RequestCodec.parseFilter("""{"must": [{"frobnicate": 1}]}""")
    }
  }

  test("execute smoke: parsed request runs end-to-end on a tiny in-memory table") {
    val spark = SparkTestBase.session
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f), 10L), (2L, Seq(0.9f, 0.1f), 20L),
      (3L, Seq(0.0f, 1.0f), 10L), (4L, Seq(0.5f, 0.5f), 30L))
      .toDF("id", "embedding", "label")
    val q = RequestCodec.parseQueryRequest(
      """{"query": [1.0, 0.0],
        |  "filter": {"must": [{"key": "label", "range": {"lte": 20}}]},
        |  "limit": 2}""".stripMargin, ctx)
    val rows = PointQuery.execute(spark, pts, "id",
      new graft.filters.TypedResolver(pts.schema, "id"), q)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 1.0), (2L, 0.9)))
  }

  test("legacy search/recommend/discover bodies rewrite to the universal form") {
    import org.json4s.jackson.JsonMethods
    def norm(j: String): org.json4s.JValue = JsonMethods.parse(j)
    // named-vector form + top alias + with_vectors alias + passthroughs
    assert(norm(RequestCodec.legacyToQuery(
      """{"vector": {"name": "img", "vector": [0.1, 0.2]}, "top": 7,
        |  "score_threshold": 0.5, "with_vectors": true,
        |  "filter": {"must": [{"key": "a", "match": {"value": 1}}]}}""".stripMargin,
      "search")) == norm(
      """{"query": {"nearest": [0.1, 0.2]}, "limit": 7, "using": "img",
        |  "with_vector": true,
        |  "filter": {"must": [{"key": "a", "match": {"value": 1}}]},
        |  "score_threshold": 0.5}""".stripMargin))
    // raw-array search keeps no using
    assert(norm(RequestCodec.legacyToQuery(
      """{"vector": [1.0], "limit": 3}""", "search")) ==
      norm("""{"query": {"nearest": [1.0]}, "limit": 3}"""))
    // recommend carries strategy/examples into query.recommend, keeps
    // using/lookup_from passthrough
    assert(norm(RequestCodec.legacyToQuery(
      """{"positive": [1, 2], "negative": [4], "strategy": "best_score",
        |  "limit": 5, "using": "img",
        |  "lookup_from": {"collection": "other"}}""".stripMargin,
      "recommend")) == norm(
      """{"query": {"recommend": {"positive": [1, 2], "negative": [4],
        |            "strategy": "best_score"}},
        |  "limit": 5, "using": "img",
        |  "lookup_from": {"collection": "other"}}""".stripMargin))
    // discover carries target/context
    assert(norm(RequestCodec.legacyToQuery(
      """{"target": 5, "context": [{"positive": 1, "negative": 2}],
        |  "limit": 4, "offset": 1}""".stripMargin, "discover")) == norm(
      """{"query": {"discover": {"target": 5,
        |            "context": [{"positive": 1, "negative": 2}]}},
        |  "limit": 4, "offset": 1}""".stripMargin))
    // limit/top required
    assertThrows[IllegalArgumentException](
      RequestCodec.legacyToQuery("""{"vector": [1.0]}""", "search"))
  }
}
