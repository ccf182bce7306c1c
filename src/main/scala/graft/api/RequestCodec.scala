package graft.api

import org.apache.spark.sql.Column
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model._
import graft.ops.{Formula, PointQuery}
import graft.ops.PointQuery._

/** Wire-format codec for the reference's REST request surface: parses the
  * JSON bodies a qdrant client sends — `Filter` trees and universal
  * `QueryRequest`s (prefetch DAG, all scoring forms, formula expressions) —
  * into the engine's ASTs, so a caller can switch engines without rewriting
  * requests.
  *
  * Shapes mirror `lib/api/src/rest/schema.rs` and
  * `lib/segment/src/types.rs` exactly:
  *   - `Filter` `types.rs:4409-4441` with `MaybeOneOrMany` clause lists
  *     (a single condition object is accepted wherever an array is),
  *   - `Condition` untagged forms `types.rs:3964-3985` (field condition,
  *     `is_empty`/`is_null` both standalone and as FieldCondition sugar,
  *     `has_id`, `has_vector`, `slice`, `nested`, nested filter),
  *   - `Match` untagged variants `types.rs:3081-3092`
  *     (value/text/text_any/phrase/prefix/any/except),
  *   - `RangeInterface` float + RFC3339 datetime bounds `types.rs:3229-3345`,
  *   - `QueryRequestInternal`/`Prefetch` `schema.rs:570-600,776-800`:
  *     raw-vector shorthand, `nearest` (+`mmr`), `recommend`, `discover`,
  *     `context`, `relevance_feedback`, `order_by` (key or struct),
  *     `fusion`/`rrf`, `formula`+`defaults`, `sample`,
  *   - formula `Expression` untagged forms `schema.rs:931-951`.
  *
  * Sparse vectors parse in the universal-query position when `using`
  * names a sparse space (nearest `{indices, values}`, bare sparse object,
  * hybrid prefetches), and `with_payload` parses via [[parseWithPayload]]
  * (the enrichment step composes it after execution — oracle
  * `api_query_with_payload`).
  *
  * Out of codec scope (documented, fail loudly): `Document`/`Image`/
  * `InferenceObject` vector inputs (external inference service,
  * SURVEY.md §2.3 — the local BM25 path is served by
  * `functions/Bm25Embed`).
  */
object RequestCodec {

  /** Vector-space config for resolving `using`: column + metric per named
    * vector; the default (unnamed) vector is the "" entry
    * (`NamedVectors` default name, `data_types/vectors.rs:525`). `sparse`
    * marks a sparse named vector (`sparse_vectors` config) — its column is
    * struct<indices, values> and `nearest` takes `{indices, values}`
    * (`VectorInput`, `schema.rs:559-567`). */
  final case class VectorSpace(col: String, metric: Metric,
      sparse: Boolean = false,
      /** declared dimension — raw dense inputs are validated against it
        * (`OperationError::WrongVectorDimension`, reference
        * `operation_error.rs:24`); None = unchecked (hand-built ctx). */
      dim: Option[Int] = None,
      /** the space stores token MATRICES (`multivector_config`) — a single
        * dense query input is then emulated as a 1-token matrix and scores
        * MaxSim (`TryFrom<VectorInternal> for MultiDenseVectorInternal`,
        * `data_types/vectors.rs:176-190`; e2e `test_multi_vector.py:
        * 287-371`). */
      multivector: Boolean = false,
      /** storage element type of a dense space — queries score the stored
        * column in it */
      datatype: VectorDatatype = Float32,
      /** a sparse space's `modifier` (`"idf"`) */
      modifier: Option[String] = None) {
    /** The space a parsed query carries. */
    def space: PointQuery.Space = PointQuery.Space(col, metric, datatype, modifier)
  }

  /** Wire `lookup_from` (`LookupLocation` + `ShardKeySelector`,
    * `lib/api/src/rest/schema.rs:608-613,1122-1133`): resolve vector-input
    * ids against another collection — optionally a specific named vector
    * and/or shard-key subset of it. */
  final case class LookupFrom(
      collection: String,
      vector: Option[String],
      shardKeys: Seq[Any])

  final case class Ctx(
      spaces: Map[String, VectorSpace],
      /** recommend/discover-by-id resolve hook (`lib/collection/src/
        * collection/query.rs:456-546`); given the point id, returns the
        * dense vector from the configured lookup collection. */
      /** By-id `VectorInput` resolve: (resolved `using` name, id) → the
        * example's stored vector FROM THAT NAMED SPACE (`resolve_referenced
        * _vectors` keys the lookup by the request's `using`,
        * `lib/collection/src/recommendations.rs` — a named-space example id
        * must NOT resolve the default vector). Left = dense, Right = the
        * matrix of a multivector space (by-id nearest then scores MaxSim,
        * like any matrix input). */
      resolveId: (String, Any) => Either[Seq[Double], Seq[Seq[Double]]] =
        (name, id) =>
          throw new IllegalArgumentException(
            s"vector-input id $id (space '$name') given but no id resolver configured"),
      /** By-id resolve against a SPARSE `using` space → the example's
        * stored (indices, values). */
      resolveSparseId: (String, Any) => (Seq[Long], Seq[Double]) =
        (name, id) =>
          throw new IllegalArgumentException(
            s"sparse vector-input id $id (space '$name') given but no id resolver configured"),
      /** Seed for `sample: random` (the wire form carries none). */
      sampleSeed: Long = 42L,
      /** Foreign-collection id resolve for a request-level `lookup_from`
        * (`query.rs:456-546` resolves against the lookup collection when
        * one is named). Wired by the host that owns the table catalog.
        * Left = dense vector, Right = a multivector space's matrix (the
        * reference resolves referenced vectors of ANY kind,
        * `fetch_vectors.rs:173-183`). */
      resolveLookup: (LookupFrom, Any) => Either[Seq[Double], Seq[Seq[Double]]] =
        (lf, id) =>
          throw new IllegalArgumentException(
            s"lookup_from ${lf.collection} given but no lookup resolver configured"),
      /** Foreign-collection SPARSE id resolve for `lookup_from` — the
        * reference fetches referenced vectors of any kind from the lookup
        * collection (`fetch_vectors.rs:301`, `convert_to_vectors_owned`). */
      resolveSparseLookup: (LookupFrom, Any) => (Seq[Long], Seq[Double]) =
        (lf, id) =>
          throw new IllegalArgumentException(
            s"lookup_from ${lf.collection} given but no sparse lookup resolver configured"),
      /** The collection's shard-key partition column, when custom sharding
        * is configured — a request-level `shard_key` selector
        * (`ShardKeySelector`, `schema.rs:620`) compiles to a pruning
        * condition on it. */
      shardKeyField: Option[String] = None,
      /** Name of the collection this ctx serves — used to decide whether a
        * `lookup_from` id is same-collection (then it IS excluded from the
        * results like any referenced id) or foreign (exempt). The reference
        * compares `lookup_collection != collection_name`
        * (`collection_query.rs:552-556`). None (hand-built ctx) = every
        * lookup_from id is treated as foreign. */
      collectionName: Option[String] = None) {
    def space(using: Option[String]): VectorSpace = {
      val name = using.getOrElse("")
      spaces.getOrElse(name,
        throw new IllegalArgumentException(s"unknown vector name '$name'"))
    }
  }

  // ================================================================ filters

  def parseFilter(json: String): Filter = filterOf(JsonMethods.parse(json))

  def filterOf(j: JValue): Filter = j match {
    case o: JObject =>
      Filter(
        must = oneOrMany(o \ "must").map(conditionOf),
        should = oneOrMany(o \ "should").map(conditionOf),
        minShould = (o \ "min_should") match {
          case ms: JObject =>
            Some(MinShould(
              oneOrMany(ms \ "conditions").map(conditionOf),
              num(ms \ "min_count").toInt))
          case _ => None
        },
        mustNot = oneOrMany(o \ "must_not").map(conditionOf))
    case JNothing | JNull => Filter.empty
    case other => fail(s"filter must be an object, got $other")
  }

  /** Untagged `Condition` resolution, same discriminating keys as serde. */
  def conditionOf(j: JValue): Condition = j match {
    case o: JObject =>
      val keys = o.obj.map(_._1).toSet
      if (keys.contains("key")) fieldCondition(o)
      else if (keys.contains("is_empty"))
        IsEmpty(str(o \ "is_empty" \ "key"))
      else if (keys.contains("is_null"))
        IsNullCond(str(o \ "is_null" \ "key"))
      else if (keys.contains("has_id"))
        HasId(arr(o \ "has_id").map(idOf))
      else if (keys.contains("has_vector"))
        HasVector(str(o \ "has_vector"))
      else if (keys.contains("slice"))
        SliceCond(num(o \ "slice" \ "total").toInt, num(o \ "slice" \ "index").toInt)
      else if (keys.contains("nested"))
        NestedCond(str(o \ "nested" \ "key"), filterOf(o \ "nested" \ "filter"))
      else if (keys.exists(Set("must", "should", "must_not", "min_should")))
        SubFilter(filterOf(o))
      else fail(s"unrecognized condition object: keys ${keys.mkString(",")}")
    case other => fail(s"condition must be an object, got $other")
  }

  /** `FieldCondition` (`types.rs:3568-3596`): one sub-check per set field;
    * several set at once AND together (the reference checks each present
    * field — `condition_checker`), expressed here as a nested must-filter. */
  private def fieldCondition(o: JObject): Condition = {
    val key = str(o \ "key")
    val parts = Seq.newBuilder[Condition]
    (o \ "match") match {
      case m: JObject => parts += matchOf(key, m)
      case _ => ()
    }
    (o \ "range") match {
      case r: JObject =>
        // a STRING range bound is always a datetime in the reference
        // (`RangeInterface` is f64 or `DatetimeRange`, nothing else) and an
        // unparseable one 422s at deserialization with this message
        // (`types.rs:107`, `parse_range_interface`) — passing it through
        // would silently cast to NULL and match nothing
        def chk(b: Option[Any]): Option[Any] = b.map {
          case s: String if graft.filters.Temporal.parseInstant(s).isEmpty =>
            fail(s"'$s' does not match accepted datetime format (RFC3339). " +
              "Example: 2014-01-01T00:00:00Z")
          case v => v
        }
        parts += RangeCond(key, chk(bound(r \ "gt")), chk(bound(r \ "gte")),
          chk(bound(r \ "lt")), chk(bound(r \ "lte")))
      case _ => ()
    }
    (o \ "geo_bounding_box") match {
      case g: JObject =>
        parts += GeoBoundingBox(key, geoPoint(g \ "top_left"),
          geoPoint(g \ "bottom_right"))
      case _ => ()
    }
    (o \ "geo_radius") match {
      case g: JObject =>
        parts += GeoRadius(key, geoPoint(g \ "center"), num(g \ "radius"))
      case _ => ()
    }
    (o \ "geo_polygon") match {
      case g: JObject =>
        parts += GeoPolygonCond(key,
          ring(g \ "exterior"),
          arr(g \ "interiors").map(ring))
      case _ => ()
    }
    (o \ "values_count") match {
      case v: JObject =>
        parts += ValuesCount(key,
          bound(v \ "gt").map(anyLong), bound(v \ "gte").map(anyLong),
          bound(v \ "lt").map(anyLong), bound(v \ "lte").map(anyLong))
      case _ => ()
    }
    // FieldCondition sugar: `{"key": k, "is_empty": true}` (`types.rs:3590-3596`)
    if ((o \ "is_empty") == JBool(true)) parts += IsEmpty(key)
    if ((o \ "is_null") == JBool(true)) parts += IsNullCond(key)
    parts.result() match {
      case Seq(single) => single
      // a bare `{"key": k}` with no sub-check is malformed — the
      // reference 422s with this message (`test_filter.py::test_just_key`)
      case Seq() => fail("Validation error in JSON body: " +
        s"At least one field condition must be specified (key '$key')")
      case many => SubFilter(Filter(must = many))
    }
  }

  /** `Match` untagged variants (`types.rs:3081-3092`). */
  private def matchOf(key: String, m: JObject): Condition = {
    val keys = m.obj.map(_._1).toSet
    if (keys.contains("value")) MatchValue(key, anyScalar(m \ "value"))
    else if (keys.contains("text")) MatchText(key, str(m \ "text"))
    else if (keys.contains("text_any")) MatchTextAny(key, str(m \ "text_any"))
    else if (keys.contains("phrase")) MatchPhrase(key, str(m \ "phrase"))
    else if (keys.contains("prefix")) MatchPrefix(key, str(m \ "prefix"))
    else if (keys.contains("any")) MatchAny(key, arr(m \ "any").map(anyScalar))
    else if (keys.contains("except")) MatchExcept(key, arr(m \ "except").map(anyScalar))
    else fail(s"unrecognized match variant: keys ${keys.mkString(",")}")
  }

  // ========================================================= universal query

  /** Parse a full `POST /collections/{c}/points/query` body into the
    * executable DAG. A node with NO `query` parses to [[ScrollById]] (a
    * plain id-order scroll, `planned_query.rs:189`) — valid as a root or
    * prefetch leaf, but rejected with the reference's messages when
    * combined with prefetches or a score_threshold
    * (`test_query.py::test_query_validation`). */
  def parseQueryRequest(json: String, ctx: Ctx): Query =
    queryNode(JsonMethods.parse(json), ctx, topLevel = true)

  /** Top-level parse wrapper: records every point id resolved as a vector
    * input against THIS collection (root and nested prefetch nodes; ids
    * resolved through a foreign-collection `lookup_from` are exempt) and
    * attaches them as [[Query.excludeIds]] — the reference merges
    * `must_not HasId(referenced ids)` into the request filter so a by-id
    * query never returns its own examples (`exclude_referenced_ids`,
    * `collection_query.rs:523-531,701-705`; legacy recommend path
    * `recommendations.rs:206-226,398,463`; `test_query_full.py:160`). The
    * exclusion stays OUT of the parsed filter until execution so the
    * strict-mode gate counts only user conditions (the reference verifies
    * before injecting). */
  private def queryNode(j: JValue, ctx0: Ctx, topLevel: Boolean): Query =
    if (!topLevel) queryNode0(j, ctx0, topLevel = false)
    else {
      val seen = scala.collection.mutable.LinkedHashSet[Any]()
      val tracked = ctx0.copy(
        resolveId = (n, id) => { seen += id; ctx0.resolveId(n, id) },
        resolveSparseId = (n, id) => { seen += id; ctx0.resolveSparseId(n, id) },
        resolveLookup = (lf, id) => {
          if (ctx0.collectionName.contains(lf.collection)) seen += id
          ctx0.resolveLookup(lf, id)
        },
        resolveSparseLookup = (lf, id) => {
          if (ctx0.collectionName.contains(lf.collection)) seen += id
          ctx0.resolveSparseLookup(lf, id)
        })
      val q = queryNode0(j, tracked, topLevel = true)
      if (seen.isEmpty) q else q.copy(excludeIds = seen.toSeq)
    }

  private def queryNode0(j: JValue, ctx0: Ctx, topLevel: Boolean): Query = {
    val o = j match {
      case o: JObject => o
      case other => fail(s"query request must be an object, got $other")
    }
    // `lookup_from` re-routes id resolution for THIS node only. Each node
    // resolves with only its own lookup_from (`collection_query.rs:613-638`
    // uses self.lookup_from per node; `fetch_vectors.rs:428-452`; schema.rs
    // Prefetch doc: "if not specified - use the current collection"), so a
    // prefetch WITHOUT its own lookup_from must NOT inherit the parent's —
    // prefetches below are parsed with the original ctx0.
    val ctx = (o \ "lookup_from") match {
      case lf: JObject =>
        val loc = LookupFrom(
          collection = str(lf \ "collection"),
          vector = (lf \ "vector") match {
            case JString(v) => Some(v); case _ => None },
          shardKeys = (lf \ "shard_key") match {
            case JNothing | JNull => Nil
            case JArray(xs) => xs.map(shardKeyValue)
            case v => Seq(shardKeyValue(v))
          })
        // the lookup vector name defaults to the node's `using` for BOTH
        // dense and sparse resolves (`get_lookup_vector_name` falls back to
        // the request's vector name, `retrieve_request_trait.rs:117-125`) —
        // without the dense fallback `{"query":{"nearest":7},"using":"x",
        // "lookup_from":{"collection":"q"}}` would resolve q's default
        // unnamed vector instead of its "x" space
        ctx0.copy(resolveId = (name, id) => ctx0.resolveLookup(
            if (loc.vector.isDefined) loc else loc.copy(vector = Some(name)), id),
          resolveSparseId = (name, id) => ctx0.resolveSparseLookup(
            if (loc.vector.isDefined) loc else loc.copy(vector = Some(name)), id))
      case _ => ctx0
    }
    val prefetches = oneOrMany(o \ "prefetch")
      .map(p => queryNode(p, ctx0, topLevel = false))
    val filter0 = (o \ "filter") match {
      case f: JObject => Some(filterOf(f))
      case _ => None
    }
    val filter =
      if (!topLevel) filter0
      else shardKeyFilter(o, ctx0.shardKeyField, filter0)
    val limit = (o \ "limit") match {
      case JNothing | JNull => 10 // default limit `collection_query.rs:50`
      case v => posInt(v, "limit")
    }
    val offset =
      if (!topLevel) 0
      else (o \ "offset") match {
        case JNothing | JNull => 0
        case v => num(v).toInt
      }
    val threshold = (o \ "score_threshold") match {
      case JNothing | JNull => None
      case v => Some(num(v))
    }
    val using = (o \ "using") match {
      case JString(s) => Some(s)
      case _ => None
    }
    // `params` (`SearchParams`, `types.rs:573-618`): quantization routing
    // knobs + hnsw_ef (the per-request recall knob — on a declared IVF
    // collection it overrides the configured nprobe, same role the ef
    // candidate-list size plays for the reference's HNSW); indexed_only
    // accepted and ignored (serving-index tuning — BASELINE.json scopes
    // online ANN out).
    val params = (o \ "params") match {
      case p: JObject =>
        def bool(v: JValue, dflt: Boolean): Boolean = v match {
          case JBool(b) => b
          case JNothing | JNull => dflt
          case other => fail(s"expected boolean, got $other")
        }
        val q = p \ "quantization"
        Some(graft.ops.PointQuery.SearchParams(
          exact = bool(p \ "exact", dflt = false),
          quantIgnore = bool(q \ "ignore", dflt = false),
          rescore = bool(q \ "rescore", dflt = true),
          oversampling = (q \ "oversampling") match {
            case JNothing | JNull => None
            case v => Some(num(v))
          },
          hnswEf = (p \ "hnsw_ef") match {
            case JNothing | JNull => None
            case v =>
              // `SearchParams.hnsw_ef` is `1..` (`#[validate(range(min=1))]`,
              // `types.rs:573-618`; `test_validation.py:58-73`)
              val ef = num(v).toInt
              if (ef < 1) fail("Validation error in JSON body: " +
                s"[params.hnsw_ef: value $ef invalid, must be 1 or larger]")
              Some(ef)
          },
          // `idf` (`IdfParams`, untagged: the "global" scope string or a
          // `{"corpus": <filter>}` object — `types.rs:700-723`)
          idf = (p \ "idf") match {
            case JNothing | JNull => None
            case JString("global") => Some(None)
            case o2: JObject if (o2 \ "corpus") != JNothing =>
              Some(Some(filterOf(o2 \ "corpus")))
            case other => fail(s"bad idf params: $other")
          }))
      case _ => None
    }
    // A node with NO `query` is a plain scroll (`planned_query.rs:189`) —
    // valid as a leaf, but not as a prefetch parent and not with a
    // threshold (`test_query.py::test_query_validation` messages).
    if ((o \ "query") == JNothing || (o \ "query") == JNull) {
      if (prefetches.nonEmpty)
        fail("A query is needed to merge the prefetches. " +
          "Can't have prefetches without defining a query.")
      if (threshold.isDefined)
        fail("A query is needed to use the score_threshold. " +
          "Can't have score_threshold without defining a query.")
      return Query(graft.ops.PointQuery.ScrollById, Nil, filter, limit,
        offset, None, params)
    }
    val scoring = scoringOf(o \ "query", using, ctx, limit) match {
      case (s, Some(innerPrefetch)) =>
        // nearest+mmr sugar: WITHOUT explicit prefetches the MMR leaf
        // becomes a candidates_limit Nearest (`planned_query.rs:368-460`);
        // WITH prefetches the user's prefetch union IS the candidate set
        // (MMR is a rescore parent over sources, `local_shard/query.rs`)
        // — the synthesized candidates query must NOT replace it.
        val pf = if (prefetches.nonEmpty) prefetches else Seq(innerPrefetch)
        return Query(s, prefetches = pf, filter = filter,
          limit = limit, offset = offset, scoreThreshold = threshold,
          params = params)
      case (s, None) => s
    }
    scoring match {
      case OrderByField(_, _, _) if threshold.isDefined =>
        fail("Can't use score_threshold with an order_by query.")
      case _ => ()
    }
    Query(scoring, prefetches, filter, limit, offset, threshold, params)
  }

  /** `QueryInterface` (`schema.rs:637-674`): raw vector shorthand or one of
    * the tagged query forms, each carrying the node's space and its
    * query-side vectors. Returns the scoring plus, for `nearest+mmr`, the
    * synthesized candidate prefetch. */
  private def scoringOf(j: JValue, using: Option[String], ctx: Ctx,
      limit: Int): (Scoring, Option[Query]) = {
    val sp = ctx.space(using)
    val space = sp.space
    val name = using.getOrElse("")
    // dense inputs are dimension-checked against the declared space
    // (`OperationError::WrongVectorDimension` — the reference rejects
    // mis-sized query vectors; a zipped kernel would silently truncate)
    def dims(v: Seq[Double]): Seq[Double] = {
      sp.dim.foreach(d => if (v.length != d)
        fail(s"Vector dimension error: expected dim: $d, got ${v.length}"))
      v
    }
    // a `VectorInput` against this space. Sparse: inline {indices, values}
    // or an id resolved from the sparse space. Multivector: a matrix, the
    // stored matrix of an id, or an inline dense vector expanded to a
    // 1-token matrix (the legacy emulation, `TryFrom<VectorInternal> for
    // MultiDenseVectorInternal`, `data_types/vectors.rs:176-190`;
    // `test_multi_vector.py:287-371`). Dense: a vector, or a matrix where
    // `matrix` allows it (a nearest input, which then scores MaxSim).
    def input(j: JValue, matrix: Boolean = false): QueryVector =
      if (sp.sparse) {
        val (is, vs) = sparseInput(j, ctx, name)
        SparseVector(is, vs)
      } else vectorInput(j, ctx, name) match {
        case Left(v) if sp.multivector => MultiVector(Seq(dims(v)))
        case Left(v) => DenseVector(dims(v))
        case Right(m) if sp.multivector || matrix => MultiVector(m.map(dims))
        case Right(_) => fail("expected a dense vector, got a multi-dense matrix")
      }
    def pairOf(j: JValue): (QueryVector, QueryVector) =
      (input(j \ "positive"), input(j \ "negative"))
    // a nearest input: a sparse `{indices, values}` is only valid against a
    // sparse space and a dense array only against a dense one
    // (`schema.rs:559-567`); an id resolves from the `using` space, sparse
    // included (`{"query": 7, "using": "sparse-text"}` must succeed,
    // `tests/openapi/test_query_full.py:1411-1421`)
    def nearestInput(v: JValue): QueryVector = v match {
      case o: JObject if (o \ "indices") != JNothing && !sp.sparse =>
        fail(s"sparse vector input for dense vector '${sp.col}'")
      case JArray(_) if sp.sparse =>
        fail(s"dense vector input for sparse vector '${sp.col}'")
      case _ => input(v, matrix = true)
    }
    j match {
      // raw vector and bare point-id shorthand
      // (`QueryInterface::Nearest(VectorInput)` is untagged,
      // `schema.rs:637-640`): `"query": [..]` / `7` / `"<uuid>"`
      case JArray(_) | JInt(_) | JLong(_) | JString(_) =>
        (Nearest(space, nearestInput(j)), None)
      case o: JObject =>
        val keys = o.obj.map(_._1).toSet
        if (keys.contains("indices") && !keys.contains("nearest"))
          // bare sparse-vector shorthand (`VectorInput`, untagged)
          (Nearest(space, nearestInput(o)), None)
        else if (keys.contains("nearest")) {
          val v = nearestInput(o \ "nearest")
          (o \ "mmr") match {
            case m: JObject =>
              // lambda = 1 - diversity, default 0.5 (`collection_query.rs:481`)
              val lambda = (m \ "diversity") match {
                case JNothing | JNull => 0.5
                case d => 1.0 - num(d)
              }
              val candidates = (m \ "candidates_limit") match {
                case JNothing | JNull => limit
                case c => num(c).toInt
              }
              // the reference's MMR is vector-kind-agnostic
              // (`lib/shard/src/query/mmr/mod.rs:42-170` works over
              // `VectorInternal`)
              (MmrQ(space, v, lambda),
                Some(Query(Nearest(space, v), limit = candidates)))
            case _ => (Nearest(space, v), None)
          }
        } else if (keys.contains("recommend")) {
          val r = o \ "recommend"
          val strategy = (r \ "strategy") match {
            case JString(s) => s
            case _ => "average_vector" // default `RecommendStrategy`
          }
          if (!Set("average_vector", "best_score", "sum_scores")(strategy))
            fail(s"unknown recommend strategy '$strategy'")
          // a recommend with NO examples at all is a 422 validation error
          // BEFORE any resolution (`validate.rs:67-75`,
          // `test_recommend.py::test_without_positives`)
          if (oneOrMany(r \ "positive").isEmpty && oneOrMany(r \ "negative").isEmpty)
            fail("At least one positive or negative vector/id must be provided")
          (Recommend(space, strategy, oneOrMany(r \ "positive").map(input(_)),
            oneOrMany(r \ "negative").map(input(_))), None)
        } else if (keys.contains("discover")) {
          val d = o \ "discover"
          (Discover(space, input(d \ "target"),
            oneOrMany(d \ "context").map(pairOf)), None)
        } else if (keys.contains("context")) {
          (Context(space, oneOrMany(o \ "context").map(pairOf)), None)
        } else if (keys.contains("relevance_feedback")) {
          val f = o \ "relevance_feedback"
          val fb = arr(f \ "feedback").map { item =>
            (input(item \ "example"), num(item \ "score"))
          }
          // wire validations (`test_relevance_feedback.py:59,82`): an empty
          // feedback list and negative strategy params both reject
          if (fb.isEmpty) fail("feedback elements must be non-empty")
          val naive = f \ "strategy" \ "naive"
          val (a, b, c) = (num(naive \ "a"), num(naive \ "b"), num(naive \ "c"))
          Seq("a" -> a, "b" -> b, "c" -> c).foreach { case (k, v) =>
            if (v < 0.0) fail("Validation error in JSON body: [internal.query." +
              s"relevance_feedback.strategy.naive.$k: value $v invalid, " +
              "must be 0.0 or larger]")
          }
          (Feedback(space, input(f \ "target"), fb, a, b, c), None)
        } else if (keys.contains("order_by")) {
          val s = (o \ "order_by") match {
            case JString(key) => OrderByField(key, asc = true)
            case ob: JObject =>
              val asc = (ob \ "direction") match {
                case JString("desc") => false
                case _ => true
              }
              val startFrom = (ob \ "start_from") match {
                case JNothing | JNull => None
                case v => Some(startFromScalar(v))
              }
              OrderByField(str(ob \ "key"), asc, startFrom)
            case other => fail(s"bad order_by: $other")
          }
          (s, None)
        } else if (keys.contains("fusion")) {
          // every node validates fusion×using (`CollectionQueryRequest::
          // validation` runs for the root AND each prefetch,
          // `collection_query.rs:769-776,575,684`) — PRESENCE of the
          // field rejects, an explicit "" included
          if (using.isDefined)
            fail("Fusion queries cannot be combined with the 'using' field.")
          (FusionQ(str(o \ "fusion")), None)
        } else if (keys.contains("rrf")) {
          if (using.isDefined)
            fail("Fusion queries cannot be combined with the 'using' field.")
          val r = o \ "rrf"
          val weights = (r \ "weights") match {
            case JArray(ws) => Some(ws.map(num))
            case _ => None
          }
          val k = (r \ "k") match {
            case JNothing | JNull => None
            case v => Some(num(v).toInt)
          }
          (FusionQ("rrf", weights, k), None)
        } else if (keys.contains("formula")) {
          val defaults: Map[String, Double] = (o \ "defaults") match {
            case d: JObject => d.obj.collect {
              case (k, v: JValue) if numOpt(v).isDefined => k -> num(v)
            }.toMap
            case _ => Map.empty
          }
          val scoreDefault = defaults.collectFirst {
            case (k, v) if k == "$score" || k.startsWith("$score[") => v
          }.getOrElse(0.0)
          (FormulaQ(formulaOf(o \ "formula", defaults), scoreDefault), None)
        } else if (keys.contains("sample")) {
          str(o \ "sample") match {
            case "random" => (SampleRandom(ctx.sampleSeed), None)
            case other => fail(s"unknown sample kind '$other'")
          }
        } else fail(s"unrecognized query form: keys ${keys.mkString(",")}")
      case JNothing | JNull =>
        fail("query is required (order-by-id scroll is served by Reads.scrollPage)")
      case other => fail(s"bad query: $other")
    }
  }

  /** `VectorInput` (`schema.rs:559-567`): dense array, multi-dense matrix,
    * or a point id resolved via the ctx hook AGAINST the node's resolved
    * `using` space (`name`). Left = dense, Right = multi. */
  private def vectorInput(j: JValue, ctx: Ctx,
      name: String): Either[Seq[Double], Seq[Seq[Double]]] =
    j match {
      case JArray(xs) if xs.nonEmpty && xs.head.isInstanceOf[JArray] =>
        Right(xs.map(x => arr(x).map(num)))
      case JArray(xs) => Left(xs.map(num))
      case JString(uuid) => ctx.resolveId(name, PointId.parseString(uuid))
      case JInt(i) => ctx.resolveId(name, PointId.parseNum(i))
      case JLong(i) => ctx.resolveId(name, PointId.parseNum(BigInt(i)))
      case o: JObject if o.obj.exists(_._1 == "indices") =>
        fail("sparse vector input is only valid for a sparse named vector " +
          "(`using` a space declared sparse)")
      case other => fail(s"unsupported vector input: $other")
    }

  /** A sparse `VectorInput`: inline `{indices, values}` or an example id
    * resolved from the node's sparse `using` space. */
  private def sparseInput(j: JValue, ctx: Ctx,
      name: String): (Seq[Long], Seq[Double]) =
    j match {
      case o: JObject if o.obj.exists(_._1 == "indices") =>
        sparsePair(arr(o \ "indices").map(sparseIdx),
          arr(o \ "values").map(num))
      case JString(uuid) => ctx.resolveSparseId(name, PointId.parseString(uuid))
      case JInt(i) => ctx.resolveSparseId(name, PointId.parseNum(i))
      case JLong(i) => ctx.resolveSparseId(name, PointId.parseNum(BigInt(i)))
      case other => fail(s"unsupported sparse vector input: $other")
    }

  // ================================================================ formula

  /** Formula `Expression` untagged forms (`schema.rs:931-951`); payload
    * variable defaults come from the request's `defaults` map
    * (`FormulaQuery.defaults`, keyed by the unparsed variable id). */
  def formulaOf(j: JValue, defaults: Map[String, Double]): Formula.Expr = {
    def go(j: JValue): Formula.Expr = j match {
      case JDouble(d) => Formula.Constant(d)
      case JInt(i) => Formula.Constant(i.toDouble)
      case JLong(i) => Formula.Constant(i.toDouble)
      case JDecimal(d) => Formula.Constant(d.toDouble)
      case JString(s) => variableOf(s, defaults)
      case o: JObject =>
        val keys = o.obj.map(_._1).toSet
        if (keys.contains("mult")) Formula.Mult(arr(o \ "mult").map(go))
        else if (keys.contains("sum")) Formula.Sum(arr(o \ "sum").map(go))
        else if (keys.contains("neg")) Formula.Neg(go(o \ "neg"))
        else if (keys.contains("abs")) Formula.AbsE(go(o \ "abs"))
        else if (keys.contains("div")) {
          val d = o \ "div"
          Formula.Div(go(d \ "left"), go(d \ "right"),
            numOpt(d \ "by_zero_default"))
        } else if (keys.contains("sqrt")) Formula.SqrtE(go(o \ "sqrt"))
        else if (keys.contains("pow")) {
          val p = o \ "pow"
          Formula.PowE(go(p \ "base"), go(p \ "exponent"))
        } else if (keys.contains("exp")) Formula.ExpE(go(o \ "exp"))
        else if (keys.contains("log10")) Formula.Log10E(go(o \ "log10"))
        else if (keys.contains("ln")) Formula.LnE(go(o \ "ln"))
        else if (keys.contains("geo_distance")) {
          val g = o \ "geo_distance"
          Formula.GeoDistanceVar(geoPoint(g \ "origin"), str(g \ "to"))
        } else if (keys.contains("datetime"))
          Formula.DatetimeConstant(str(o \ "datetime"))
        else if (keys.contains("datetime_key"))
          Formula.DatetimeVar(str(o \ "datetime_key"))
        else if (keys.contains("lin_decay")) decay(Formula.LinDecay, o \ "lin_decay")
        else if (keys.contains("exp_decay")) decay(Formula.ExpDecay, o \ "exp_decay")
        else if (keys.contains("gauss_decay")) decay(Formula.GaussDecay, o \ "gauss_decay")
        else Formula.CondVar(conditionOf(o)) // a filter condition as 0/1
      case other => fail(s"bad formula expression: $other")
    }
    def decay(kind: Formula.DecayKind, p: JValue): Formula.Expr =
      Formula.Decay(kind,
        x = go(p \ "x"),
        target = (p \ "target") match {
          case JNothing | JNull => Formula.Constant(0.0)
          case t => go(t)
        },
        midpoint = numOpt(p \ "midpoint").getOrElse(0.5),
        scale = numOpt(p \ "scale").getOrElse(1.0))
    go(j)
  }

  /** `$score` / `$score[i]` / payload path (`parsed_formula.rs:105-130`). */
  private def variableOf(s: String, defaults: Map[String, Double]): Formula.Expr =
    if (s == "$score") Formula.ScoreVar(0)
    else if (s.startsWith("$score[") && s.endsWith("]"))
      Formula.ScoreVar(s.stripPrefix("$score[").stripSuffix("]").toInt)
    else Formula.PayloadVar(s, defaults.get(s))

  // ====================================================== other read bodies

  /** `POST /points/scroll` body (`ScrollRequestInternal`,
    * `lib/collection/src/operations/types.rs` — offset/limit/filter/
    * order_by; with_payload/with_vector are the enrichment step). */
  final case class ScrollSpec(
      offset: Option[Any],
      limit: Int,
      filter: Option[Filter],
      orderBy: Option[OrderByField])

  def parseScrollRequest(json: String,
      shardKeyField: Option[String] = None): ScrollSpec = {
    val o = JsonMethods.parse(json)
    ScrollSpec(
      offset = (o \ "offset") match {
        case JNothing | JNull => None
        case v => Some(idOf(v))
      },
      limit = (o \ "limit") match {
        case JNothing | JNull => 10
        case v => posInt(v, "limit")
      },
      filter = shardKeyFilter(o, shardKeyField, (o \ "filter") match {
        case f: JObject => Some(filterOf(f))
        case _ => None
      }),
      orderBy = (o \ "order_by") match {
        case JNothing | JNull => None
        case JString(key) => Some(OrderByField(key, asc = true))
        case ob: JObject =>
          val asc = (ob \ "direction") match {
            case JString("desc") => false
            case _ => true
          }
          val startFrom = (ob \ "start_from") match {
            case JNothing | JNull => None
            case v => Some(startFromScalar(v))
          }
          Some(OrderByField(str(ob \ "key"), asc, startFrom))
        case other => fail(s"bad order_by: $other")
      })
  }

  /** Legacy endpoint bodies (`POST /points/{search,recommend,discover}`
    * and their `/batch` forms — `SearchRequestInternal` etc.,
    * `lib/collection/src/operations/types.rs:539-780`) rewritten to the
    * universal query body. The reference still serves these deprecated
    * routes; a client migrating to graft keeps its old request shapes.
    * Maps: `vector` (raw array or `{name, vector}`) → `query.nearest` +
    * `using`; recommend/discover fields → the matching `query.*` object;
    * the `top` alias → `limit`; filter, params, offset, threshold,
    * with_payload/with_vector, lookup_from, shard_key pass through
    * untouched. The `/groups` legacy forms (`SearchGroupsRequest`,
    * `RecommendGroupsRequest` — `types.rs:666-700`) carry the same base
    * fields plus `group_by`/`group_size`/`with_lookup`, which pass through
    * to the grouped-query parser ([[parseGroupRequest]] reads them from
    * the rewritten body). */
  def legacyToQuery(json: String, kind: String): String = {
    val o = JsonMethods.parse(json) match {
      case obj: JObject => obj
      case other => fail(s"legacy $kind body must be an object, got $other")
    }
    val fields = o.obj.toMap
    def keep(k: String): List[(String, JValue)] =
      fields.get(k).filter(v => v != JNull && v != JNothing).map(k -> _).toList
    def inner(ks: Seq[String]): JObject = JObject(ks.flatMap(keep).toList)
    val (queryField: JValue, usingFromVector) = kind match {
      case "search" => fields.getOrElse("vector",
        fail("legacy search body needs a vector")) match {
        case arr: JArray => (JObject("nearest" -> arr), Nil)
        case nv: JObject =>
          (JObject("nearest" -> (nv \ "vector")),
            List("using" -> (nv \ "name")))
        case other => fail(s"bad legacy vector: $other")
      }
      case "recommend" =>
        (JObject("recommend" -> inner(Seq("positive", "negative", "strategy"))), Nil)
      case "discover" =>
        // `DiscoverRequestInternal.target` is OPTIONAL on the legacy route
        // (`types.rs` discover request): target absent → pure context
        // search (`discovery.rs` routes target-less requests to context)
        if (fields.get("target").exists(v => v != JNull && v != JNothing))
          (JObject("discover" -> inner(Seq("target", "context"))), Nil)
        else
          (JObject("context" -> fields.getOrElse("context", JArray(Nil))), Nil)
      case other => fail(s"unknown legacy endpoint '$other'")
    }
    val limit = fields.get("limit").orElse(fields.get("top"))
      .getOrElse(fail(s"legacy $kind body needs limit/top"))
    // with_vectors is a serde alias of with_vector on the legacy routes
    val wv = keep("with_vector") match {
      case Nil => keep("with_vectors").map { case (_, v) => "with_vector" -> v }
      case l => l
    }
    val pass = Seq("filter", "params", "offset", "score_threshold",
      "with_payload", "using", "lookup_from", "shard_key",
      "group_by", "group_size", "with_lookup").flatMap(keep).toList
    JsonMethods.compact(JsonMethods.render(JObject(
      ("query" -> queryField) :: ("limit" -> limit) ::
        (usingFromVector ++ wv ++ pass))))
  }

  /** `POST /collections/{c}/points/query/batch` body
    * (`QueryRequestBatch { searches: Vec<QueryRequest> }`): independent
    * requests answered in one round trip. Returns them in order; execution
    * unions the per-request results tagged by position. */
  def parseQueryBatch(json: String, ctx: Ctx): Seq[Query] =
    arr(JsonMethods.parse(json) \ "searches")
      .map(q => queryNode(q, ctx, topLevel = true))

  /** `POST /points/query/groups` body (`QueryGroupsRequestInternal`,
    * `schema.rs:1243-1263` + `BaseGroupRequest` `schema.rs:1136-1153`):
    * the universal-query fields plus group_by key, per-group size, max
    * groups (`limit`), and the with_lookup collection. The inner `query`
    * parses through the same query-node path (its own `limit` field IS the
    * group count per the wire contract). */
  final case class GroupSpec(
      query: Query,
      groupBy: String,
      groupSize: Int,
      groups: Int,
      lookupCollection: Option[String],
      /** `with_lookup.with_payload` selector for the looked-up point
        * (`WithLookup`, `lib/collection/src/lookup/mod.rs:22-60`; payload
        * DEFAULTS TRUE there, unlike ScoredPoint). None = drop payload. */
      lookupWithPayload: Option[Column => Column] = Some(identity),
      /** `with_lookup.with_vectors` (DEFAULTS FALSE): None = every named
        * vector, Some(names) = the selected set (empty = none). */
      lookupWithVectors: Option[Seq[String]] = Some(Nil))

  def parseGroupRequest(json: String, ctx: Ctx): GroupSpec = {
    val o = JsonMethods.parse(json)
    val q = queryNode(o, ctx, topLevel = true)
    val wl = o \ "with_lookup"
    GroupSpec(
      query = q,
      groupBy = str(o \ "group_by"),
      groupSize = (o \ "group_size") match {
        case JNothing | JNull => 3 // default, `collection_query.rs:52`
        case v => posInt(v, "group_size")
      },
      groups = q.limit, // BaseGroupRequest.limit = max groups
      lookupCollection = wl match {
        case JString(c) => Some(c)
        case l: JObject => Some(str(l \ "collection"))
        case _ => None
      },
      // the bare-string form means WithLookup::from(collection) — the
      // selector DEFAULTS (payload true / vectors false) apply either way
      lookupWithPayload = wl match {
        case l: JObject => parseWithPayload(l \ "with_payload")
        case _ => Some(identity)
      },
      lookupWithVectors = wl match {
        case l: JObject => parseWithVector(l \ "with_vectors")
        case _ => Some(Nil)
      })
  }

  /** `POST /points/search/matrix/{pairs,offsets}` body
    * (`SearchMatrixRequestInternal`, `schema.rs:1295-1307`). */
  final case class MatrixSpec(
      filter: Option[Filter], sample: Int, limit: Int, using: Option[String])

  def parseMatrixRequest(json: String,
      shardKeyField: Option[String] = None): MatrixSpec = {
    val o = JsonMethods.parse(json)
    MatrixSpec(
      filter = shardKeyFilter(o, shardKeyField, (o \ "filter") match {
        case f: JObject => Some(filterOf(f))
        case _ => None
      }),
      sample = (o \ "sample") match {
        case JNothing | JNull => 10 // defaults `distance_matrix.rs:42-44`
        case v => posInt(v, "sample")
      },
      limit = (o \ "limit") match {
        case JNothing | JNull => 3
        case v => posInt(v, "limit")
      },
      using = (o \ "using") match {
        case JString(s) => Some(s)
        case _ => None
      })
  }

  /** `with_payload` (`WithPayloadInterface`, `types.rs:4175-4183`): bool /
    * bare field list (= include) / `{include}` / `{exclude}` selector.
    * Returns the payload-column transform to apply at enrichment: None =
    * drop the payload column entirely (`false`). */
  def parseWithPayload(j: JValue): Option[Column => Column] = j match {
    case JBool(true) | JNothing | JNull => Some(identity)
    case JBool(false) => None
    case JArray(keys) =>
      Some(p => graft.filters.PayloadSelect.includeCol(p, keys.map(str)))
    case o: JObject if o.obj.exists(_._1 == "include") =>
      Some(p => graft.filters.PayloadSelect.includeCol(p, arr(o \ "include").map(str)))
    case o: JObject if o.obj.exists(_._1 == "exclude") =>
      Some(p => graft.filters.PayloadSelect.excludeCol(p, arr(o \ "exclude").map(str)))
    case other => fail(s"bad with_payload: $other")
  }

  /** `with_vector` (`WithVector`, `types.rs:350-358`): bool / name / name
    * list; default FALSE. Returns the requested vector NAMES (empty =
    * none, `None` = all declared). */
  def parseWithVector(j: JValue): Option[Seq[String]] = j match {
    case JBool(true) => None
    case JString(n) => Some(Seq(n))
    case JArray(xs) => Some(xs.collect { case JString(n) => n })
    case _ => Some(Nil)
  }

  /** `POST /points` retrieve body (`PointRequest`: ids + payload/vector
    * selectors, `src/actix/api/retrieve_api.rs:132`). `withPayload` None =
    * payload column dropped. */
  final case class RetrieveSpec(ids: Seq[Any],
      withPayload: Option[Column => Column],
      /** `shard_key` selector folded to a filter (`PointRequest` carries
        * one too) — ids outside the selected shards don't return. */
      shardFilter: Option[Filter] = None)

  def parseRetrieveRequest(json: String,
      shardKeyField: Option[String] = None): RetrieveSpec = {
    val o = JsonMethods.parse(json)
    RetrieveSpec(arr(o \ "ids").map(idOf), parseWithPayload(o \ "with_payload"),
      shardKeyFilter(o, shardKeyField, None))
  }

  /** `PUT /collections/{c}/index` body (`CreateFieldIndex`,
    * `src/actix/api/update_api.rs:371`; `PayloadFieldSchema` — a plain
    * kind string or parametrized params; text params `index.rs:243-312`).
    * Returns (field, Spark type for the typed projection column, analyzer
    * config when `type: "text"`): the host passes the type to
    * `Collection.buildPayloadIndex` and the text config into
    * `FilterCompiler(textIndexes)` so Match::Text/TextAny/Phrase tokenize
    * through the field's declared analyzer. `stopwords` accepts a language
    * name (bundled set), a custom list, or `{languages, custom}`. */
  /** Tenant/principal declarations riding a field-index request
    * (`KeywordIndexParams.is_tenant` / `IntegerIndexParams.is_principal`,
    * `lib/segment/src/data_types/index.rs:32,149`): both feed the
    * storage-layout optimization (`PayloadSchemaParams::
    * tenant_optimization`, `types.rs:2674-2685`) — tenant keys bucket the
    * physical partitioning, principal keys order rows within write tasks
    * ([[graft.storage.Collection]] layout). */
  final case class FieldIndexFlags(
      isTenant: Boolean = false, isPrincipal: Boolean = false)

  def parseFieldIndexRequest(json: String): (String,
      org.apache.spark.sql.types.DataType, Option[graft.model.TextIndexConfig],
      FieldIndexFlags) = {
    import org.apache.spark.sql.types._
    val o = JsonMethods.parse(json)
    val field = str(o \ "field_name")
    def plain(kind: String): DataType = kind match {
      case "keyword" | "uuid" | "text" => StringType
      case "integer" => LongType
      case "float" => DoubleType
      case "bool" => BooleanType
      case "datetime" => TimestampType
      case "geo" => StructType(Seq(
        StructField("lon", DoubleType), StructField("lat", DoubleType)))
      case other => fail(s"unknown field schema '$other'")
    }
    def stopwordsOf(j: JValue): Seq[String] = j match {
      case JNothing | JNull => Nil
      case JString(lang) =>
        graft.functions.Stopwords.forLanguage(lang).toSeq.sorted
      case JArray(xs) => xs.map(str)
      case s: JObject =>
        val langs = (s \ "languages") match {
          case JArray(ls) => ls.map(str); case JString(l) => Seq(l); case _ => Nil
        }
        val custom = (s \ "custom") match {
          case JArray(cs) => cs.map(str); case _ => Nil
        }
        (langs.flatMap(l => graft.functions.Stopwords.forLanguage(l)) ++ custom)
          .distinct.sorted
      case other => fail(s"bad stopwords: $other")
    }
    (o \ "field_schema") match {
      case JString(kind) => (field, plain(kind), None, FieldIndexFlags())
      case s: JObject =>
        val kind = str(s \ "type")
        def flag(k: String): Boolean = (s \ k) match {
          case JBool(b) => b
          case JNothing | JNull => false
          case other => fail(s"bad $k: $other")
        }
        // `is_tenant` is a keyword/uuid param, `is_principal` an
        // integer/float/datetime param (`data_types/index.rs` declares
        // them only on those schemas; other kinds 400 at the API)
        val flags = FieldIndexFlags(flag("is_tenant"), flag("is_principal"))
        // integer-index capabilities: `lookup` (Match) and `range` can be
        // individually disabled but not BOTH — the reference 422s
        // (`test_payload_indexing.py:13-29`, `IntegerIndexParams` validate)
        if (kind == "integer") {
          val lk = (s \ "lookup") match { case JBool(b) => b; case _ => true }
          val rg = (s \ "range") match { case JBool(b) => b; case _ => true }
          if (!lk && !rg) fail("Validation error: the 'lookup' and 'range' " +
            "capabilities can't be both disabled")
        }
        if (flags.isTenant && !Set("keyword", "uuid").contains(kind))
          fail(s"is_tenant is not supported for the '$kind' index type")
        if (flags.isPrincipal &&
            !Set("integer", "float", "datetime").contains(kind))
          fail(s"is_principal is not supported for the '$kind' index type")
        val lowercaseOpt = (s \ "lowercase") match {
          case JBool(b) => b; case _ => true
        }
        val text =
          if (kind != "text") None
          else Some(graft.model.TextIndexConfig(
            tokenizer = (s \ "tokenizer") match {
              case JString(t) => t; case _ => "word"
            },
            lowercase = lowercaseOpt,
            asciiFolding = (s \ "ascii_folding") match {
              case JBool(b) => b; case _ => false
            },
            // custom stopwords fold to lowercase ONLY when the analyzer
            // lowercases (`StopwordsFilter::add_stopword` — with
            // `lowercase: false` the set is stored VERBATIM and matching
            // is case-sensitive, the issue #8724 regression contract)
            stopwords =
              if (lowercaseOpt)
                stopwordsOf(s \ "stopwords").map(_.toLowerCase).distinct.sorted
              else stopwordsOf(s \ "stopwords"),
            stemmerLang = (s \ "stemmer") match {
              case st: JObject if (st \ "type") == JString("snowball") =>
                Some(str(st \ "language").toLowerCase)
              case JNothing | JNull => None
              case other => fail(s"bad stemmer: $other")
            },
            minTokenLen = (s \ "min_token_len") match {
              case JNothing | JNull => None
              case v => Some(num(v).toInt)
            },
            maxTokenLen = (s \ "max_token_len") match {
              case JNothing | JNull => None
              case v => Some(num(v).toInt)
            },
            // positions are stored only when requested (`phrase_matching`,
            // `data_types/index.rs:285`); the compiler refuses phrase
            // queries against an index built without them
            phraseMatching = (s \ "phrase_matching") match {
              case JBool(b) => b; case _ => false
            }))
        (field, plain(kind), text, flags)
      case other => fail(s"bad field_schema: $other")
    }
  }

  /** `POST /points/count` body: filter (+ `exact`, parsed and ignored —
    * Spark counts are always exact, SURVEY.md §2.4). */
  /** `CountRequestInternal` (`lib/shard/src/count.rs:11-19`): filter +
    * `exact` (default true; false routes to the cardinality estimate). */
  final case class CountSpec(filter: Option[Filter], exact: Boolean)

  def parseCountRequest(json: String,
      shardKeyField: Option[String] = None): CountSpec = {
    val o = JsonMethods.parse(json)
    CountSpec(
      filter = shardKeyFilter(o, shardKeyField, (o \ "filter") match {
        case f: JObject => Some(filterOf(f))
        case _ => None
      }),
      exact = (o \ "exact") match {
        case JBool(b) => b
        case _ => true
      })
  }

  /** `POST /facet` body (`FacetRequestInternal`, `schema.rs:1360-1374`). */
  /** `exact` default FALSE per the reference (`FacetParams.exact`,
    * `facets.rs:23-24`; "Default is false", `schema.rs:1372`). */
  final case class FacetSpec(key: String, limit: Int, filter: Option[Filter],
      exact: Boolean)

  def parseFacetRequest(json: String,
      shardKeyField: Option[String] = None): FacetSpec = {
    val o = JsonMethods.parse(json)
    FacetSpec(
      key = str(o \ "key"),
      limit = (o \ "limit") match {
        case JNothing | JNull => 10
        case v => posInt(v, "limit")
      },
      filter = shardKeyFilter(o, shardKeyField, (o \ "filter") match {
        case f: JObject => Some(filterOf(f))
        case _ => None
      }),
      exact = (o \ "exact") match {
        case JBool(b) => b
        case _ => false
      })
  }

  // ===================================================== create collection

  /** `PUT /collections/{c}` body → [[graft.sources.CollectionConfig]]
    * (`CreateCollection` → `VectorParams`/`SparseVectorParams`,
    * `lib/collection/src/operations/types.rs:1413-1514`): `vectors` is a
    * single params object (the unnamed "" vector) or a name→params map,
    * `sparse_vectors` a name→params map. Online-index tuning knobs
    * (hnsw_config, quantization, wal/optimizers, on_disk/memory) are
    * accepted and ignored — they configure serving machinery the batch
    * engine replaces with index-build jobs (SURVEY.md §2.6, §4.3). */
  def parseCollectionConfig(json: String, idCol: String = "id"): graft.sources.CollectionConfig = {
    import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
    val o = JsonMethods.parse(json)
    def metricOf(s: String): Metric = s match {
      case "Cosine" => Cosine
      case "Euclid" => Euclid
      case "Dot" => Dot
      case "Manhattan" => Manhattan
      case other => fail(s"unknown distance '$other'")
    }
    def datatypeOf(j: JValue): VectorDatatype = j match {
      case JString("float16") => Float16
      case JString("uint8") => Uint8
      case JString("float32") | JNothing | JNull => Float32
      case other => fail(s"unsupported datatype $other")
    }
    def quantOf(j: JValue): Option[graft.sources.QuantizationSpec] = j match {
      case JNothing | JNull => None
      case o: JObject if (o \ "scalar") != JNothing =>
        val s = o \ "scalar"
        Some(graft.sources.QuantizationSpec("scalar",
          quantile = (s \ "quantile") match {
            case JNothing | JNull => 1.0
            case q => num(q)
          }))
      case o: JObject if (o \ "binary") != JNothing =>
        Some(graft.sources.QuantizationSpec("binary",
          encoding = (o \ "binary" \ "encoding") match {
            case JString(e) => e
            case _ => "one_bit"
          }))
      case o: JObject if (o \ "product") != JNothing =>
        // `ProductQuantizationConfig` (`types.rs:987-1035`): codebooks fit
        // at create, two-phase ADC + exact rescore by default
        Some(graft.sources.QuantizationSpec("product",
          compression = (o \ "product" \ "compression") match {
            case JString(c) => c
            case _ => "x16"
          }))
      // turbo quantization is serving-machinery (GPU layouts) — accepted
      // and ignored, search falls back to exact (strictly more accurate)
      case o: JObject if (o \ "turbo") != JNothing => None
      case other => fail(s"bad quantization config: $other")
    }
    def annOf(j: JValue): Option[graft.sources.IvfSpec] = j match {
      case JNothing | JNull => None
      // graft extension: the reference's hnsw_config tunes an online graph
      // this engine replaces with IVF partition pruning; `ann_config`
      // declares that index on the wire (cells + default nprobe)
      case a: JObject => Some(graft.sources.IvfSpec(
        cells = num(a \ "cells").toInt,
        nprobe = (a \ "nprobe") match {
          case JNothing | JNull => 4
          case n => num(n).toInt
        }))
      case other => fail(s"bad ann_config: $other")
    }
    def vp(name: String, v: JValue): VectorConfig = VectorConfig(
      name = name,
      dim = {
        // `VectorParams.size` is `1..=65536` (the reference's dimension
        // cap, PR #2544 — `tests/openapi/test_limits.py` pins the message)
        val d = num(v \ "size").toLong
        if (d < 1 || d > 65536) fail("Validation error in JSON body: " +
          s"[vectors.size: value $d invalid, must be from 1 to 65536]")
        d.toInt
      },
      metric = metricOf(str(v \ "distance")),
      multivector = (v \ "multivector_config" \ "comparator") match {
        case JString("max_sim") => true // the only comparator, types.rs:2080
        case JNothing | JNull => false
        case other => fail(s"unknown multivector comparator $other")
      },
      datatype = datatypeOf(v \ "datatype"),
      quantization = quantOf(v \ "quantization_config"),
      ann = annOf(v \ "ann_config"))
    val vectors0 = (o \ "vectors") match {
      case JNothing | JNull => Nil
      case v: JObject if (v \ "size") != JNothing => Seq(vp("", v))
      case v: JObject => v.obj.map { case (n, p) => vp(n, p) }
      case other => fail(s"bad vectors config: $other")
    }
    // collection-level quantization_config applies to vectors without their
    // own (`CreateCollection.quantization_config`)
    val collQuant = quantOf(o \ "quantization_config")
    val vectors = vectors0.map(v =>
      if (v.quantization.isEmpty) v.copy(quantization = collQuant) else v)
    val sparse = (o \ "sparse_vectors") match {
      case v: JObject => v.obj.map { case (n, p) =>
        SparseVectorConfig(n, modifier = (p \ "modifier") match {
          case JString(m) => Some(m.toLowerCase)
          case _ => None
        })
      }
      case _ => Nil
    }
    val strictMode = (o \ "strict_mode_config") match {
      case JNothing | JNull => None
      case sm: JObject => Some(StrictMode.parse(JsonMethods.compact(JsonMethods.render(sm))))
      case other => fail(s"bad strict_mode_config: $other")
    }
    CollectionConfig(idCol = idCol, vectors = vectors, sparse = sparse,
      strictMode = strictMode)
  }

  /** PATCH `/collections/{c}` body (`UpdateCollection` →
    * `VectorsConfigDiff` / `SparseVectorsConfig` / collection-level
    * `quantization_config`; `collection_meta_ops.rs:119-135`,
    * `tests/openapi/test_collection_update.py`). Unlike create, `vectors`
    * here is ALWAYS a name→diff map (the unnamed vector appears as `""`)
    * and each diff carries only index/quantization knobs — size/distance
    * are immutable. Applies the diff onto `base` and returns the updated
    * config; hnsw/optimizer/wal knobs are accepted and ignored (serving
    * machinery the batch engine replaces). */
  def parseCollectionUpdate(
      json: String, base: graft.sources.CollectionConfig): graft.sources.CollectionConfig = {
    val o = JsonMethods.parse(json)
    def quantOf(j: JValue): Option[Option[graft.sources.QuantizationSpec]] = j match {
      case JNothing => None // knob absent from the diff: keep current
      case JNull => Some(None) // explicit null: remove quantization
      case q: JObject if (q \ "scalar") != JNothing =>
        Some(Some(graft.sources.QuantizationSpec("scalar",
          quantile = (q \ "scalar" \ "quantile") match {
            case JNothing | JNull => 1.0
            case x => num(x)
          })))
      case q: JObject if (q \ "binary") != JNothing =>
        Some(Some(graft.sources.QuantizationSpec("binary",
          encoding = (q \ "binary" \ "encoding") match {
            case JString(e) => e
            case _ => "one_bit"
          })))
      case q: JObject if (q \ "product") != JNothing =>
        Some(Some(graft.sources.QuantizationSpec("product",
          compression = (q \ "product" \ "compression") match {
            case JString(c) => c
            case _ => "x16"
          })))
      case q: JObject if (q \ "turbo") != JNothing =>
        Some(None) // accepted, searched exact (strictly more accurate)
      case other => fail(s"bad quantization diff: $other")
    }
    val vecDiffs: Map[String, JValue] = (o \ "vectors") match {
      case v: JObject => v.obj.toMap
      case JNothing | JNull => Map.empty
      case other => fail(s"bad vectors diff: $other")
    }
    // graft extension diff: `ann_config` adds/replaces (object) or removes
    // (explicit null) the declared IVF index — the PATCH re-trains and
    // re-partitions through Collection.updateConfig
    def annOf(j: JValue): Option[Option[graft.sources.IvfSpec]] = j match {
      case JNothing => None
      case JNull => Some(None)
      case a: JObject => Some(Some(graft.sources.IvfSpec(
        cells = num(a \ "cells").toInt,
        nprobe = (a \ "nprobe") match {
          case JNothing | JNull => 4
          case n => num(n).toInt
        })))
      case other => fail(s"bad ann_config diff: $other")
    }
    val collQuant = quantOf(o \ "quantization_config")
    val vectors = base.vectors.map { vc =>
      val perVec = vecDiffs.get(vc.name).flatMap(d => quantOf(d \ "quantization_config"))
      val withQuant = perVec.orElse(collQuant).fold(vc)(q => vc.copy(quantization = q))
      vecDiffs.get(vc.name).flatMap(d => annOf(d \ "ann_config"))
        .fold(withQuant)(a => withQuant.copy(ann = a))
    }
    vecDiffs.keys.foreach { n =>
      if (!base.vectors.exists(_.name == n)) fail(s"unknown vector '$n' in diff")
    }
    val sparseDiffs: Map[String, JValue] = (o \ "sparse_vectors") match {
      case v: JObject => v.obj.toMap
      case JNothing | JNull => Map.empty
      case other => fail(s"bad sparse_vectors diff: $other")
    }
    val sparse = base.sparse.map { sc =>
      sparseDiffs.get(sc.name).fold(sc) { d =>
        (d \ "modifier") match {
          case JString(m) => sc.copy(modifier = Some(m.toLowerCase))
          case JNull => sc.copy(modifier = None)
          case JNothing => sc
          case other => fail(s"bad sparse modifier: $other")
        }
      }
    }
    sparseDiffs.keys.foreach { n =>
      if (!base.sparse.exists(_.name == n)) fail(s"unknown sparse vector '$n' in diff")
    }
    // strict_mode_config is PATCHable like the reference's UpdateCollection
    // (`test_strictmode.py` enables it on a live collection)
    val strictMode = (o \ "strict_mode_config") match {
      case JNothing => base.strictMode
      case JNull => None
      case sm: JObject => Some(StrictMode.parse(JsonMethods.compact(JsonMethods.render(sm))))
      case other => fail(s"bad strict_mode_config diff: $other")
    }
    base.copy(vectors = vectors, sparse = sparse, strictMode = strictMode)
  }

  // ============================================================ update ops

  /** One point of an upsert batch (`PointStruct`, `schema.rs:1406-1415`):
    * id, dense vector(s) — plain array = the default unnamed vector, object
    * = named vectors — and an optional payload rendered back to the JSON
    * string the payload column stores. */
  /** One vector value inside a `PointStruct` (`VectorStruct` /
    * `Vector` untagged forms, `schema.rs:1406-1415` + `vectors.rs`):
    * dense array, multi-dense matrix, or sparse `{indices, values}`. */
  sealed trait WireVec
  final case class WDenseVec(v: Seq[Double]) extends WireVec
  final case class WMultiVec(m: Seq[Seq[Double]]) extends WireVec
  final case class WSparseVec(indices: Seq[Long], values: Seq[Double]) extends WireVec

  /** `shardKey`: the point's own shard key (`PointStruct`-level on the
    * wire; the body-level `shard_key` of `PointsList`/`UpdateVectors`
    * applies to points lacking their own — `schema.rs:1439,1479`). */
  final case class WirePoint(
      id: Any,
      vectors: Map[String, WireVec],
      payload: Option[String],
      shardKey: Option[Any] = None)

  /** Points selector (`PointsSelector`, `point_ops.rs:21-26`): by id list
    * or by filter; `shardKeys` = the op body's `ShardKeySelector`
    * (`FilterSelector.shard_key`, `point_ops.rs:42`; body-level on every
    * update op, `schema.rs:1290-1382`) scoping the op to those shards. */
  final case class Selector(ids: Option[Seq[Any]], filter: Option[Filter],
      shardKeys: Seq[Any] = Nil)

  private def selectorOf(o: JValue): Selector = {
    val ids = (o \ "points") match {
      case JArray(xs) => Some(xs.map(idOf))
      case _ => None
    }
    val flt = (o \ "filter") match {
      case f: JObject => Some(filterOf(f))
      case _ => None
    }
    if (ids.isEmpty && flt.isEmpty) fail("selector needs points or filter")
    Selector(ids, flt, shardKeysOf(o))
  }

  /** Body-level `ShardKeySelector` (one key or an array of keys). */
  private def shardKeysOf(o: JValue): Seq[Any] = (o \ "shard_key") match {
    case JNothing | JNull => Nil
    case JArray(xs) => xs.map(shardKeyValue)
    case v => Seq(shardKeyValue(v))
  }

  /** Parsed `POST /collections/{c}/points/batch` op list (`UpdateOperations`
    * `src/common/update.rs:95-110`) — ordered, heterogeneous; the storage
    * layer folds the whole sequence into ONE table rewrite
    * (`Collection.applyBatch`). Vector element values arrive f32-precision.
    *
    * `set_payload.key` scopes the merge under a payload JsonPath
    * (`SetPayloadOp.key`, `payload_ops.rs:64-75`); overwrite_payload
    * ignores it like the reference (`update/mod.rs:167-178`). */
  sealed trait WireOp
  /** `shardKey`: body-level placement key (`PointsList.shard_key`,
    * `schema.rs:1479`) — applies to every point lacking its own. */
  final case class WUpsert(points: Seq[WirePoint], updateFilter: Option[Filter],
      mode: graft.storage.UpdateMode = graft.storage.UpdateMode.Upsert,
      shardKey: Option[Any] = None) extends WireOp
  final case class WDelete(selector: Selector) extends WireOp
  final case class WSetPayload(payloadJson: String, selector: Selector,
      overwrite: Boolean, key: Option[String] = None) extends WireOp
  final case class WDeletePayload(keys: Seq[String], selector: Selector) extends WireOp
  final case class WClearPayload(selector: Selector) extends WireOp
  /** `shardKeys`: body-level scope (`UpdateVectors.shard_key`,
    * `schema.rs:1468`) restricting which shards the edits apply on;
    * `updateFilter`: only points matching the filter are updated
    * (`UpdateVectors.update_filter`, `schema.rs:1470-1473`). */
  final case class WUpdateVectors(points: Seq[WirePoint],
      shardKeys: Seq[Any] = Nil,
      updateFilter: Option[Filter] = None) extends WireOp
  final case class WDeleteVectors(selector: Selector, names: Seq[String]) extends WireOp

  def parseUpdateOperations(json: String): Seq[WireOp] =
    arr(JsonMethods.parse(json) \ "operations").map { op =>
      val o = op match {
        case o: JObject => o
        case other => fail(s"operation must be an object, got $other")
      }
      val keys = o.obj.map(_._1).toSet
      if (keys.contains("upsert")) {
        val u = o \ "upsert"
        val uf = (u \ "update_filter") match {
          case f: JObject => Some(filterOf(f))
          case _ => None
        }
        // `update_mode` (`PointsList.update_mode`, rest schema.rs:1485-1487)
        val mode = (u \ "update_mode") match {
          case JString(m) => graft.storage.UpdateMode.parse(m)
          case JNothing | JNull => graft.storage.UpdateMode.Upsert
          case other => fail(s"update_mode must be a string, got $other")
        }
        // body-level placement key: a multi-key selector is meaningless
        // for an upsert (each point lands on exactly one shard key)
        val bodyKey = shardKeysOf(u) match {
          case Nil => None
          case Seq(one) => Some(one)
          case many => fail(
            s"upsert shard_key must be a single key, got ${many.mkString(",")}")
        }
        val points = (u \ "batch") match {
          case b: JObject =>
            if ((u \ "points") != JNothing)
              fail("upsert takes either points or batch, not both")
            batchPoints(b)
          case _ => arr(u \ "points").zipWithIndex
            .map { case (pj, i) => pointStruct(pj, s"points[$i]") }
        }
        WUpsert(points, uf, mode, bodyKey)
      } else if (keys.contains("delete")) WDelete(selectorOf(o \ "delete"))
      else if (keys.contains("set_payload")) payloadOp(o \ "set_payload", overwrite = false)
      else if (keys.contains("overwrite_payload")) payloadOp(o \ "overwrite_payload", overwrite = true)
      else if (keys.contains("delete_payload")) {
        val d = o \ "delete_payload"
        WDeletePayload(arr(d \ "keys").map(str), selectorOf(d))
      } else if (keys.contains("clear_payload")) WClearPayload(selectorOf(o \ "clear_payload"))
      else if (keys.contains("update_vectors")) {
        val uv = o \ "update_vectors"
        WUpdateVectors(arr(uv \ "points").zipWithIndex
          .map { case (pj, i) => pointStruct(pj, s"points[$i]") },
          shardKeysOf(uv),
          (uv \ "update_filter") match {
            case f: JObject => Some(filterOf(f))
            case _ => None
          })
      }
      else if (keys.contains("delete_vectors")) {
        val d = o \ "delete_vectors"
        WDeleteVectors(selectorOf(d), arr(d \ "vector").map(str))
      } else fail(s"unrecognized update operation: keys ${keys.mkString(",")}")
    }

  private def payloadOp(j: JValue, overwrite: Boolean): WSetPayload = {
    val key = (j \ "key") match {
      case JString(k) => Some(k)
      case JNothing | JNull => None
      case other => fail(s"set_payload.key must be a string path, got $other")
    }
    val payload = (j \ "payload") match {
      case o: JObject => JsonMethods.compact(JsonMethods.render(o))
      case other => fail(s"payload must be an object, got $other")
    }
    // overwrite_payload ignores `key` (reference `update/mod.rs:167-178`)
    WSetPayload(payload, selectorOf(j), overwrite, if (overwrite) None else key)
  }

  /** One wire sparse index: the reference deserializes `indices` as
    * `Vec<u32>` (`SparseVector`, `sparse_vector.rs:17-22`) — the FULL u32
    * domain is valid (hash-derived token ids routinely exceed 2^31,
    * `test_sparse_vector_large.py:54`), anything negative, fractional or
    * above 2^32−1 rejects at parse exactly like serde's u32 arm. Parsed
    * as Long: a Double→Int narrowing here clamps the upper half of the
    * domain to 2^31−1 and silently collides distinct dimensions. */
  private[api] def sparseIdx(j: JValue): Long = {
    val d = num(j)
    if (d.isNaN || d != math.floor(d))
      fail(s"invalid sparse index $j: expected u32")
    val l = d.toLong
    if (l < 0L || l > 0xFFFFFFFFL)
      fail(s"invalid sparse index $l: expected u32 (0..4294967295)")
    l
  }

  /** Canonicalize a wire sparse pair: indices must be UNIQUE and match
    * the values length (`validate_sparse_vector_impl`,
    * `lib/sparse/src/common/sparse_vector.rs`); order is the CALLER'S
    * choice on the wire and the engine sorts internally
    * (`sort_by_indices` at ingest/query, `data_types/vectors.rs:76`).
    * The merge-intersect kernel and the struct storage require sorted
    * indices, so unsorted input MUST canonicalize here — passing it
    * through would silently mis-score. */
  private[api] def sparsePair(
      indices: Seq[Long], values: Seq[Double],
      /** body position for the reference's wire-shaped messages
        * (`test_sparse_vector_validations.py:97,117`); empty = a query-side
        * input, which keeps the plain messages. */
      at: String = ""): (Seq[Long], Seq[Double]) = {
    if (indices.length != values.length)
      fail(if (at.isEmpty) "sparse values must be the same length as indices"
        else s"Validation error in JSON body: [$at.vector.?.values: " +
          "Validation error: must be the same length as indices [{}]]")
    if (indices.distinct.length != indices.length)
      fail(if (at.isEmpty) "sparse indices must be unique"
        else s"Validation error in JSON body: [$at.vector.?.indices: " +
          "Validation error: must be unique [{}]]")
    val sorted = indices.zip(values).sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** One untagged `Vector` value: dense `[..]`, multi-dense `[[..],..]`,
    * sparse `{indices, values}`. `at` names the body position for the
    * validation messages (`points[i].vector.?`). */
  private def wireVec(v: JValue, at: String = "points[?]"): WireVec = v match {
    case JArray(xs) if xs.nonEmpty && xs.head.isInstanceOf[JArray] =>
      val m = xs.map(row => arr(row).map(num))
      // `validate_multi_vector` (`vectors.rs:356-359`): every inner vector
      // must be non-empty and all dims equal — rejected at the VALIDATION
      // boundary with the reference's messages
      // (`test_multi_vector.py:180,204,228`)
      if (m.exists(_.isEmpty))
        fail(s"Validation error in JSON body: [$at.vector.?.data: " +
          "all vectors must be non-empty]")
      m.find(_.length != m.head.length).foreach(bad =>
        fail(s"Validation error in JSON body: [$at.vector.?.data: " +
          "all vectors must have the same dimension, found vector with " +
          s"dimension ${bad.length}]"))
      WMultiVec(m)
    case JArray(xs) =>
      // `[]` IS an empty DENSE vector — the untagged `Vector` enum lists
      // Dense before MultiDense, so an empty multivector deserializes as
      // empty dense and rejects with the DENSE message
      // (`schema.rs:31-33`; `test_multi_vector.py:139-160`)
      if (xs.isEmpty)
        fail(s"Validation error in JSON body: [$at.vector.?.data: " +
          "dense vector must not be empty]")
      WDenseVec(xs.map(num))
    case o: JObject if (o \ "indices") != JNothing =>
      val (is, vs) = sparsePair(
        arr(o \ "indices").map(sparseIdx), arr(o \ "values").map(num), at)
      WSparseVec(is, vs)
    case other => fail(s"bad vector value: $other")
  }

  /** Column-form `Batch` upsert body (`PointsBatch`/`Batch`,
    * `point_ops.rs` + `BatchVectorStruct`, `schema.rs:1479-1484` — the
    * second untagged arm of `PointInsertOperations`): parallel `ids` /
    * `vectors` / optional `payloads` columns transpose into per-point
    * structs. `vectors` is either an array (one unnamed vector per point)
    * or a named map `{name: [v_0, v_1, ...]}` with one entry per point. */
  private def batchPoints(b: JObject): Seq[WirePoint] = {
    val ids = arr(b \ "ids").map(idOf)
    if (ids.isEmpty) fail("batch upsert needs at least one id")
    val payloads: Seq[Option[String]] = (b \ "payloads") match {
      case JArray(xs) =>
        if (xs.length != ids.length)
          fail(s"batch payloads length ${xs.length} != ids length ${ids.length}")
        xs.map {
          case o: JObject => Some(JsonMethods.compact(JsonMethods.render(o)))
          case _ => None
        }
      case JNothing | JNull => ids.map(_ => None)
      case other => fail(s"batch payloads must be an array, got $other")
    }
    val vectorsPerPoint: Seq[Map[String, WireVec]] = (b \ "vectors") match {
      case JArray(xs) =>
        if (xs.length != ids.length)
          fail(s"batch vectors length ${xs.length} != ids length ${ids.length}")
        xs.zipWithIndex.map { case (v, i) => Map("" -> wireVec(v, s"points[$i]")) }
      case o: JObject =>
        val named = o.obj.map { case (n, v) =>
          val vs = arr(v)
          if (vs.length != ids.length)
            fail(s"batch vectors['$n'] length ${vs.length} != ids length ${ids.length}")
          n -> vs.zipWithIndex.map { case (v, i) => wireVec(v, s"points[$i]") }
        }
        ids.indices.map(i => named.map { case (n, vs) => n -> vs(i) }.toMap)
      case JNothing | JNull => ids.map(_ => Map.empty[String, WireVec])
      case other => fail(s"batch vectors must be an array or named map, got $other")
    }
    ids.lazyZip(vectorsPerPoint).lazyZip(payloads).map {
      case (id, vecs, pay) => WirePoint(id, vecs, pay)
    }
  }

  private def pointStruct(j: JValue, at: String = "points[?]"): WirePoint = {
    val id = idOf(j \ "id")
    val vectors = (j \ "vector") match {
      case JNothing | JNull => Map.empty[String, WireVec]
      case a: JArray => Map("" -> wireVec(a, at))
      case o: JObject => o.obj.map { case (n, v) => n -> wireVec(v, at) }.toMap
      case other => fail(s"bad vector struct: $other")
    }
    val payload = (j \ "payload") match {
      case o: JObject => Some(JsonMethods.compact(JsonMethods.render(o)))
      case _ => None
    }
    val shardKey = (j \ "shard_key") match {
      case JNothing | JNull => None
      case v => Some(shardKeyValue(v))
    }
    WirePoint(id, vectors, payload, shardKey)
  }

  // ================================================================ helpers

  /** `MaybeOneOrMany`: absent → Nil, single object → one, array → many. */
  private def oneOrMany(j: JValue): Seq[JValue] = j match {
    case JNothing | JNull => Nil
    case JArray(xs) => xs
    case single => Seq(single)
  }

  /** Polygon ring (`GeoLineString`): must be CLOSED (first == last) with
    * ≥ 4 points — the reference rejects open/short rings at validation
    * (`test_geo_filter.py::test_geo_polygon_invalid`; an open ring would
    * silently mis-count ray crossings). */
  private def ring(j: JValue): Seq[GeoPoint] = {
    val pts = arr(j \ "points").map(geoPoint)
    if (pts.length < 4)
      fail("geo_polygon ring must have at least 4 points (a closed ring)")
    if (pts.head != pts.last)
      fail("geo_polygon ring must be closed: the first point must equal the last")
    pts
  }

  private def geoPoint(j: JValue): GeoPoint = GeoPoint(num(j \ "lon"), num(j \ "lat"))

  private[graft] def arr(j: JValue): Seq[JValue] = j match {
    case JArray(xs) => xs
    case JNothing | JNull => Nil
    case other => fail(s"expected array, got $other")
  }

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case other => fail(s"expected string, got $other")
  }

  private def num(j: JValue): Double = numOpt(j).getOrElse(fail(s"expected number, got $j"))

  private def numOpt(j: JValue): Option[Double] = j match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }

  /** Range/start_from bound: numeric stays numeric (Long when integral, so
    * integer-typed columns compare exactly), RFC3339 strings pass through
    * (type-aware coercion happens in the filter compiler). */
  private def bound(j: JValue): Option[Any] = j match {
    case JNothing | JNull => None
    case JInt(i) => Some(i.toLong)
    case JLong(l) => Some(l)
    case JDouble(d) => Some(d)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => Some(s)
    case other => fail(s"bad range bound: $other")
  }

  private def anyLong(a: Any): Long = a match {
    case l: Long => l
    case d: Double => d.toLong
    case other => fail(s"expected integer, got $other")
  }

  /** JSON scalar → match/bound value (Long / Double / String / Boolean). */
  /** `start_from` cursor scalar: numbers pass through; a STRING is always
    * a datetime (`StartFrom` is Integer | Float | Datetime) and an
    * unparseable one 422s at deserialization like a string range bound
    * (`types.rs:107`). */
  private def startFromScalar(j: JValue): Any = anyScalar(j) match {
    case s: String if graft.filters.Temporal.parseInstant(s).isEmpty =>
      fail(s"'$s' does not match accepted datetime format (RFC3339). " +
        "Example: 2014-01-01T00:00:00Z")
    case v => v
  }

  private def anyScalar(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case other => fail(s"expected scalar, got $other")
  }

  /** Point id: u64 or UUID string (`ExtendedPointId`, `types.rs:174-268`) —
    * UUIDs canonicalize, anything else rejects ([[PointId]]). */
  private def idOf(j: JValue): Any = j match {
    case JInt(i) => PointId.parseNum(i)
    case JLong(l) => PointId.parseNum(BigInt(l))
    case JString(s) => PointId.parseString(s)
    case JDouble(d) => PointId.invalid(d.toString)
    case JDecimal(d) => PointId.invalid(d.toString)
    case JBool(b) => PointId.invalid(b.toString)
    case JNull | JNothing => PointId.invalid("null")
    case other => PointId.invalid(JsonMethods.compact(JsonMethods.render(other)))
  }

  /** `1..` integer field (the reference's `#[validate(range(min = 1))]`
    * on `limit`/`group_size`/`sample` across query, scroll, facet, groups
    * and matrix bodies — `schema.rs:596,802,1148,1204,1235,1303`;
    * `test_validation.py` pins the 422 class). */
  private def posInt(v: JValue, field: String): Int = {
    val n = num(v).toInt
    if (n < 1) fail("Validation error in JSON body: " +
      s"[$field: value $n invalid, must be 1 or larger]")
    n
  }

  /** `ShardKeySelector` element: keyword or integer (`schema.rs:1122`). */
  /** Request-level shard selector (`ShardKeySelector`, `schema.rs:620` —
    * carried by EVERY point read body: query, scroll, count, facet,
    * matrix, retrieve): shard keys map to the collection's shard-key
    * partition column, so the selector compiles to a partition-pruning
    * filter condition — the Spark form of fanning out to only the
    * selected shards. */
  private[api] def shardKeyFilter(o: JValue, shardKeyField: Option[String],
      filter0: Option[Filter]): Option[Filter] = {
    val shardKeys = (o \ "shard_key") match {
      case JNothing | JNull => Nil
      case JArray(xs) => xs.map(shardKeyValue)
      case v => Seq(shardKeyValue(v))
    }
    if (shardKeys.isEmpty) filter0
    else {
      val fld = shardKeyField.getOrElse(
        fail("shard_key given but the collection has no shard-key column"))
      Filter.mergeOpts(
        Some(Filter.mustAll(MatchAny(fld, shardKeys))), filter0)
    }
  }

  /** `PUT /collections/{c}/shards` / `POST /shards/delete` body
    * (`CreateShardingKey`/`DropShardingKey`, `schema.rs` shards ops):
    * `{"shard_key": <keyword|number>}`. Replication/placement fields are
    * cluster-serving knobs with no batch analog. */
  def parseShardKeyBody(json: String): Any =
    (JsonMethods.parse(json) \ "shard_key") match {
      case JNothing | JNull => fail("shards body needs a shard_key")
      case v => shardKeyValue(v)
    }

  private def shardKeyValue(j: JValue): Any = j match {
    case JString(s) => s
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => fail(s"shard_key must be string or int, got $other")
  }

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}
