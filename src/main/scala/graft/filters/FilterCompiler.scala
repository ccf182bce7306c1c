package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import graft.model._

/** Resolves a payload key to value columns for filter compilation.
  *
  * qdrant payload fields are multi-valued: a key may hold a scalar, an array,
  * or be absent; every condition is ∃-quantified over the values
  * (ref `lib/segment/src/types.rs:3095` "any of the values").
  */
trait FieldResolver {
  /** All values of `key` as an array column (scalar → 1-element array,
    * absent/null → empty array). */
  def values(key: String): Column
  /** Field is present with a non-null value. */
  def fieldExists(key: String): Column
  /** Field value is explicit JSON null (distinct from absent).
    * Ref IsNull `types.rs:3786-3806`. */
  def isJsonNull(key: String): Column
  def id: Column
  def vector(name: String): Column
  /** Element struct type of an array-of-objects field (for Nested). */
  def elementType(key: String): Option[StructType] = None
  /** Scalar fast path: when the field is a single-valued typed column,
    * return it directly so conditions compile to plain comparisons that
    * push down to the parquet scan (the Spark analog of qdrant's
    * index-substitution, `struct_payload_index/read_view/optimizer.rs`).
    * The ∃-over-values formulation is semantically identical for scalars
    * but defeats predicate pushdown. */
  def scalarValue(key: String): Option[Column] = None
  /** Resolved Spark type of `key`'s values (element type for arrays) when
    * statically known — drives type-aware Range/`start_from` bound coercion
    * ([[Temporal.boundLit]]). None → bounds compare as plain literals. */
  def dataTypeOf(key: String): Option[DataType] = None
  /** Values of `key` usable as GROUP-BY ids (`GroupId`,
    * `lib/segment/src/data_types/groups.rs:8-12`: string | u64 | i64 ONLY —
    * floats, bools, objects, nested arrays, nulls are skipped, a top-level
    * array fans the point into every element's group;
    * `tests/openapi/test_group.py` heterogenousId case). Defaults to
    * [[values]] for typed resolvers whose columns are already scalar-typed. */
  def groupKeys(key: String): Column = values(key)

  /** Optional scan-prune predicate IMPLIED by the whole filter — a strict
    * relaxation the compiler may conjoin anywhere without changing
    * semantics (`f ≡ f && prune(f)` row-wise). Collections with declared
    * tenant fields use it to restrict the scan to the matching partition
    * buckets (`Collection.tenantPrune`); every read path that compiles a
    * filter picks it up through this single hook. */
  def scanPrune(f: Filter): Option[Column] = None

  /** Spark type of the id column when statically known — drives wire
    * point-id coercion for HasId ([[FilterCompiler.coerceWireIds]]). */
  def idDataType: Option[DataType] = None

  /** Values of `key` as geo-point structs (`array<struct<lon,lat>>`),
    * INDEPENDENT of any declared payload type — geo conditions carry
    * their own value shape, and the reference checks them against
    * declared and undeclared fields alike. Typed resolvers already hold
    * struct(-array) columns, so the default is [[values]] — guarded: a
    * key statically resolved to a NON-geo-shaped type (no lon/lat struct
    * fields) yields an empty array, so the condition matches nothing
    * instead of failing analysis on `getField("lon")` — the reference
    * skips non-geo-shaped values (`GeoBoundingBox::check_point` only
    * tests values that deserialize as GeoPoint). The JSON resolver
    * overrides with a forced struct cast (same skip semantics via
    * cast-to-null). */
  def geoValues(key: String): Column = dataTypeOf(key) match {
    case None => values(key) // no static type info — pass through
    case some => FieldResolver.geoGuard(some, values(key))
  }

  /** Geohash cell column + its precision for a payload key carrying a
    * DECLARED geo index (the `"geo"` field schema,
    * `lib/segment/src/index/field_index/geo_index/`): when present, the
    * compiler ANDs a pushable cell-membership conjunct in front of the
    * exact geo check ([[FilterCompiler]] geo prune) — the batch analog of
    * the reference serving geo conditions from geohash postings. */
  def geoIndexCell(key: String): Option[(Column, Int)] = None

  /** Per-point geohash cells column (`array<string>`, at the SAME
    * precision as [[geoIndexCell]]) for ARRAY-valued rows of a declared
    * geo index — null for scalar/irregular rows. When present, the
    * compiler ANDs an exists-overlap conjunct behind the scalar cell
    * membership so spanning multi-point rows (whose scalar cell is the
    * always-pass sentinel) still prune at execution — the batch analog of
    * the reference posting EVERY point of an array value into its geohash
    * postings (`field_index/geo_index/mod.rs`). */
  def geoIndexCells(key: String): Option[Column] = None

  /** The raw JSON payload column and the type `key`'s values read as, when
    * a match or range condition on `key` may first stream-scan the raw
    * text for its one scalar ([[PayloadScalar]]) and parse only the rows
    * that scan cannot decide. Defined by a raw-payload [[JsonResolver]] on
    * a plain dotted key; None everywhere else. */
  def rawPayload(key: String): Option[(Column, DataType)] = None
}

object FieldResolver {
  /** `vals` if the resolved element type is geo-shaped (a struct carrying
    * lon and lat fields), else an empty geo array so the condition matches
    * nothing — never an AnalysisException on `getField("lon")`. Schema-
    * complete resolvers also route ABSENT keys (elem == None) here. */
  private[filters] def geoGuard(elem: Option[DataType], vals: => Column): Column =
    elem match {
      case Some(s: StructType)
          if s.fieldNames.contains("lon") && s.fieldNames.contains("lat") =>
        vals
      case _ => array().cast("array<struct<lon:double,lat:double>>")
    }
}

/** Delegating resolver — subclass to override a single hook. */
class ForwardingResolver(private[filters] val inner: FieldResolver)
  extends FieldResolver {
  def values(key: String): Column = inner.values(key)
  def fieldExists(key: String): Column = inner.fieldExists(key)
  def isJsonNull(key: String): Column = inner.isJsonNull(key)
  def id: Column = inner.id
  def vector(name: String): Column = inner.vector(name)
  override def elementType(key: String): Option[StructType] =
    inner.elementType(key)
  override def scalarValue(key: String): Option[Column] =
    inner.scalarValue(key)
  override def dataTypeOf(key: String): Option[DataType] =
    inner.dataTypeOf(key)
  override def groupKeys(key: String): Column = inner.groupKeys(key)
  override def scanPrune(f: Filter): Option[Column] = inner.scanPrune(f)
  override def idDataType: Option[DataType] = inner.idDataType
  override def geoValues(key: String): Column = inner.geoValues(key)
  override def geoIndexCell(key: String): Option[(Column, Int)] =
    inner.geoIndexCell(key)
  override def geoIndexCells(key: String): Option[Column] =
    inner.geoIndexCells(key)
  override def rawPayload(key: String): Option[(Column, DataType)] =
    inner.rawPayload(key)
}

/** Resolver for collections whose payload fields are typed top-level columns
  * (the "payload index projection" layout, SURVEY.md §2.5). Arrays stay
  * arrays; scalars are wrapped. Typed columns cannot carry a JSON null
  * distinct from absent, so isJsonNull == absent-with-null here.
  */
final class TypedResolver(
    schema: StructType,
    idCol: String = "id",
    vectorCols: Map[String, String] = Map.empty)
  extends FieldResolver {

  private def fieldType(key: String): Option[DataType] =
    schema.fields.find(_.name == key).map(_.dataType)

  def values(key: String): Column = fieldType(key) match {
    case Some(_: ArrayType) => coalesce(col(key), array())
    case Some(_) => when(col(key).isNotNull, array(col(key)))
        .otherwise(array().cast(ArrayType(fieldType(key).get)))
    case None => array().cast(ArrayType(StringType))
  }

  def fieldExists(key: String): Column =
    if (fieldType(key).isDefined) col(key).isNotNull else lit(false)

  def isJsonNull(key: String): Column =
    if (fieldType(key).isDefined) col(key).isNull else lit(false)

  def id: Column = col(idCol)
  def vector(name: String): Column = col(vectorCols.getOrElse(name, name))

  override def elementType(key: String): Option[StructType] = fieldType(key) match {
    case Some(ArrayType(s: StructType, _)) => Some(s)
    case Some(s: StructType) => Some(s)
    case _ => None
  }

  override def scalarValue(key: String): Option[Column] = fieldType(key) match {
    case Some(_: ArrayType) => None
    case Some(_) => Some(col(key))
    case None => None
  }

  override def dataTypeOf(key: String): Option[DataType] = fieldType(key).map {
    case ArrayType(e, _) => e
    case t => t
  }

  override def idDataType: Option[DataType] = fieldType(idCol)

  // schema-complete: an absent key is statically absent → empty geo array
  override def geoValues(key: String): Column =
    FieldResolver.geoGuard(dataTypeOf(key), values(key))
}

/** Resolver over a struct element (for Nested conditions): keys resolve
  * against the element's fields. Ref nested filtering
  * `lib/segment/src/types.rs:3925-3962`. */
final class StructResolver(elem: Column, tpe: StructType) extends FieldResolver {
  private def fieldType(key: String): Option[DataType] =
    tpe.fields.find(_.name == key).map(_.dataType)

  def values(key: String): Column = fieldType(key) match {
    case Some(_: ArrayType) => coalesce(elem.getField(key), array())
    case Some(t) => when(elem.getField(key).isNotNull, array(elem.getField(key)))
        .otherwise(array().cast(ArrayType(t)))
    case None => array().cast(ArrayType(StringType))
  }
  def fieldExists(key: String): Column =
    if (fieldType(key).isDefined) elem.getField(key).isNotNull else lit(false)
  def isJsonNull(key: String): Column =
    if (fieldType(key).isDefined) elem.getField(key).isNull else lit(false)
  def id: Column = lit(null)
  def vector(name: String): Column = lit(null)

  override def elementType(key: String): Option[StructType] = fieldType(key) match {
    case Some(ArrayType(s: StructType, _)) => Some(s)
    case Some(s: StructType) => Some(s)
    case _ => None
  }

  override def dataTypeOf(key: String): Option[DataType] = fieldType(key).map {
    case ArrayType(e, _) => e
    case t => t
  }

  // schema-complete: an absent key is statically absent → empty geo array
  override def geoValues(key: String): Column =
    FieldResolver.geoGuard(dataTypeOf(key), values(key))
}

/** Compiles the qdrant Filter algebra to a Catalyst boolean Column.
  *
  * Clause combination per `optimized_filter.rs:44-100`: AND(must) ∧
  * OR(should) ∧ (Σ minShould ≥ n) ∧ ¬OR(mustNot).
  *
  * Every condition is null-safe (`coalesce(c, false)`): a predicate over an
  * absent field is FALSE, so its negation under mustNot is TRUE — matching
  * qdrant, where SQL three-valued logic would otherwise drop the row.
  *
  * `textIndexes`: per-field full-text analyzer configs. A Match::Text /
  * TextAny / Phrase against a field listed here tokenizes BOTH the query
  * string and the field values with that analyzer (the reference tokenizes
  * text-match queries with the field's full-text index params,
  * `lib/segment/src/data_types/index.rs:243-414`); unlisted fields fall
  * back to raw SUBSTRING tests over the stored string — Text/Phrase check
  * the whole query text with `contains`, TextAny any whitespace query
  * token (`payload_storage/condition_checker.rs:174-193`).
  */
final class FilterCompiler(
    r: FieldResolver,
    textIndexes: Map[String, TextIndexConfig] = Map.empty) {

  def compile(f: Filter): Column = {
    val clauses = Seq.newBuilder[Column]
    if (f.must.nonEmpty) clauses += f.must.map(condition).reduce(_ && _)
    if (f.should.nonEmpty) clauses += f.should.map(condition).reduce(_ || _)
    f.minShould.foreach { ms =>
      clauses += ms.conditions
        .map(c => when(condition(c), 1).otherwise(0))
        .reduce(_ + _) >= ms.minCount
    }
    if (f.mustNot.nonEmpty) clauses += !f.mustNot.map(condition).reduce(_ || _)
    val base = clauses.result().reduceOption(_ && _).getOrElse(lit(true))
    // implied-relaxation prune (tenant partition buckets): lead with it so
    // the partition-column conjunct sits ahead of the payload predicates
    r.scanPrune(f).fold(base)(_ && base)
  }

  def condition(c: Condition): Column =
    scalarPushable(c).getOrElse {
      // the streamed scalar decides the rows it can, cond0 every other row
      val base = coalesce(streamed(c).toSeq ++ Seq(cond0(c), lit(false)): _*)
      geoPrune(c).fold(base)(_ && base)
    }

  /** Streaming fast path over a raw JSON payload: the condition's own
    * predicate applied to the key's one scalar as [[PayloadScalar]] reads
    * it. The read is NULL whenever the key does not hold exactly one JSON
    * scalar of the compared kind (or the document would not parse), and a
    * comparison with NULL is NULL, so [[condition]]'s `coalesce` hands
    * those rows to the VARIANT path. Where it is not NULL, the scalar is the
    * value the VARIANT path compares, so both paths agree on every row:
    *  - string literals on a string key read a JSON string;
    *  - integer literals or numeric bounds on an integer key read a JSON
    *    integer that fits a long;
    *  - numeric bounds on a string or float key read any JSON number as a
    *    double (the VARIANT path try-casts a string element to double).
    * Any other literal kind or declared type keeps the VARIANT path alone. */
  private def streamed(c: Condition): Option[Column] = {
    def all(vs: Seq[Any])(p: Any => Boolean) = vs.nonEmpty && vs.forall(p)
    def isInt(v: Any) = v match { case _: Long | _: Int => true; case _ => false }
    // a match reads the kind of its literals, on a key of that type
    def matchKind(vs: Seq[Any]): PartialFunction[DataType, Int] = {
      case LongType if all(vs)(isInt) => PayloadScan.Lng
      case StringType if all(vs)(_.isInstanceOf[String]) => PayloadScan.Str
    }
    val rangeKind: PartialFunction[DataType, Int] = {
      case LongType => PayloadScan.Lng
      case StringType | DoubleType => PayloadScan.Dbl
    }
    def read(k: String, kind: PartialFunction[DataType, Int])(
        pred: Column => Column): Option[Column] =
      r.rawPayload(k).flatMap { case (payload, t) =>
        kind.lift(t).map(kd => pred(PayloadScalar.column(payload, k, kd)))
      }
    c match {
      case MatchValue(k, v) => read(k, matchKind(Seq(v)))(_ === lit(v))
      case MatchAny(k, vs) => read(k, matchKind(vs))(_.isin(vs: _*))
      case RangeCond(k, gt, gte, lt, lte)
          if all(Seq(gt, gte, lt, lte).flatten)(v => isInt(v) || v.isInstanceOf[Double]) =>
        read(k, rangeKind)(v => rangeBounds(v, r.dataTypeOf(k), gt, gte, lt, lte))
      case _ => None
    }
  }

  /** Geo conditions on a key with a declared geo index AND a bounded
    * geohash cell-membership conjunct in FRONT of the exact strict check
    * (`field_index/geo_index/`: the reference intersects the condition's
    * geohash regions with the field's postings before exact filtering).
    * The prune is a strict relaxation — the cover is a superset of the
    * shape and multi-point/irregular rows carry the always-pass sentinel
    * — so results are identical to the unpruned path; being total and
    * built from translatable pieces, a must-side conjunct reaches the
    * parquet scan's PushedFilters. */
  private def geoPrune(c: Condition): Option[Column] = {
    import graft.index.GeoIndex
    def prune(k: String, cover: => Seq[String]): Option[Column] =
      r.geoIndexCell(k).flatMap { case (cell, prec) =>
        val cells = cover
        if (cells.isEmpty) None
        else {
          val scalar = GeoIndex.prunePredicate(cell, prec, cells)
          // array-valued rows: per-point cells conjunct (non-pushable —
          // Spark splits the AND, so the scalar half still reaches
          // PushedFilters; this half short-circuits the exact check for
          // sentinel-carrying spanning rows)
          val arr = r.geoIndexCells(k)
            .map(a => GeoIndex.pruneCellsPredicate(a, prec, cells))
          Some(arr.fold(scalar)(scalar && _))
        }
      }
    c match {
      case GeoBoundingBox(k, tl, br) =>
        prune(k, GeoIndex.boundedCoverBbox(tl.lon, tl.lat, br.lon, br.lat))
      case GeoRadius(k, c0, radius) =>
        prune(k, GeoIndex.boundedCoverRadius(c0.lon, c0.lat, radius))
      case GeoPolygonCond(k, exterior, _) =>
        prune(k, GeoIndex.boundedCoverPolygon(exterior.map(p => (p.lon, p.lat))))
      case _ => None
    }
  }

  /** Pushdown fast path: match/range conditions over scalar typed columns
    * compile to `col.isNotNull && <comparison>` — total (never NULL, so no
    * coalesce wrapper needed; false && NULL = false) and translatable to
    * parquet source filters, so they prune row groups at the scan. The
    * coalesce(…, false) wrapper blocks that translation. Equivalent to the
    * ∃-over-values form for single-valued fields. */
  private def scalarPushable(c: Condition): Option[Column] = {
    def sc(key: String): Option[Column] = r.scalarValue(key)
    c match {
      case MatchValue(k, v) => sc(k).map(x => x.isNotNull && x === lit(v))
      case MatchAny(k, vs) => sc(k).map(x => x.isNotNull && x.isin(vs: _*))
      case MatchExcept(k, vs) => sc(k).map(x => x.isNotNull && !x.isin(vs: _*))
      case MatchPrefix(k, p) => sc(k).map(x => x.isNotNull && x.startsWith(p))
      case RangeCond(k, gt, gte, lt, lte) =>
        sc(k).map(x => x.isNotNull && rangeBounds(x, r.dataTypeOf(k), gt, gte, lt, lte))
      // the id column is the collection PK (physical, never a payload
      // path): total and source-translatable, so HasId prunes at the scan
      // both positively and under must_not — the referenced-id exclusion
      // injects `must_not HasId(ids)` on EVERY by-id query, and a coalesce
      // wrapper here would block its pushdown
      case HasId(ids) =>
        val cids = FilterCompiler.coerceWireIds(ids, r.idDataType)
        Some(r.id.isNotNull && r.id.isin(cids: _*))
      case _ => None
    }
  }

  /** ∃ value under key satisfying pred. Scalar typed columns compile to a
    * direct comparison (pushdown-friendly); a null scalar yields NULL which
    * the condition-level coalesce resolves to false — same outcome as
    * ∃ over an empty value set. */
  private def anyValue(key: String, pred: Column => Column): Column =
    r.scalarValue(key) match {
      case Some(c) => pred(c)
      case None => exists(r.values(key), pred)
    }

  /** ∃ geo point under key satisfying pred — geo conditions carry their
    * own value shape (`GeoPoint {lon, lat}`), independent of any declared
    * payload type: the reference checks geo conditions against declared
    * AND undeclared fields alike (`GeoBoundingBox::check_point` reads the
    * raw payload value). */
  private def anyGeoValue(key: String, pred: Column => Column): Column =
    exists(r.geoValues(key), pred)

  /** Bounds coerce to the column's resolved type (datetime columns accept
    * epoch-nano numerics and RFC3339-family strings — [[Temporal.boundLit]]).
    * qdrant reads every numeric range bound as f64 (`Range<FloatPayloadType>`),
    * so an integral bound compares as a double unless the field is declared
    * integer (exact `Long` comparison) or temporal (epoch nanos): an
    * undeclared field's values are JSON text, which a BIGINT literal would
    * cast strictly (`"49.5"` fails CAST_INVALID_INPUT) and a DOUBLE reads. */
  private def rangeBounds(
      v: Column, dt: Option[DataType],
      gt: Option[Any], gte: Option[Any], lt: Option[Any], lte: Option[Any]): Column = {
    val exactIntegral = dt.exists {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType |
          DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    def b0(b: Any): Column = Temporal.boundLit(dt, b match {
      case n: Long if !exactIntegral => n.toDouble
      case n: Int if !exactIntegral => n.toDouble
      case other => other
    })
    val bs = Seq(
      gt.map(b => v > b0(b)), gte.map(b => v >= b0(b)),
      lt.map(b => v < b0(b)), lte.map(b => v <= b0(b))).flatten
    bs.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Unindexed full-text arm: `pred` over each STRING value of `key`.
    * The reference's raw checker matches only `Value::String` — numbers,
    * bools, arrays-of-non-strings, objects are false
    * (`condition_checker.rs:174-193` lists every non-string arm as false)
    * — so a key statically resolved to a non-string column compiles to
    * constant false instead of a stringified-value comparison. */
  private def substringMatch(key: String, pred: Column => Column): Column =
    r.dataTypeOf(key) match {
      case Some(StringType) | None => anyValue(key, pred)
      case Some(_) => lit(false)
    }

  /** `v`, a value of `key`, read as type `t` of the literals it is
    * compared with. A key read as STRING (undeclared keys on the VARIANT
    * path) holds JSON values of every kind; an implicit ANSI cast to the
    * literal's type would throw CAST_INVALID_INPUT on the first value of
    * another kind (`5.5` under an integer match, `"abc"` or `{"a":5}`
    * under a range). A try-cast makes that value NULL, so it does not
    * match — qdrant's `condition_checker.rs` skips a value of another
    * kind ([[cond0]]'s `MatchExcept` reads that NULL as a match). */
  private def asKind(key: String, v: Column, t: DataType): Column =
    if (t != StringType && r.dataTypeOf(key).forall(_ == StringType)) v.try_cast(t)
    else v

  private def litType(v: Any): DataType =
    org.apache.spark.sql.catalyst.expressions.Literal(v).dataType

  private def cond0(c: Condition): Column = c match {
    case MatchValue(k, value) =>
      anyValue(k, v => asKind(k, v, litType(value)) === lit(value))
    case MatchAny(k, vs) =>
      val t = vs.headOption.fold[DataType](StringType)(litType)
      anyValue(k, v => asKind(k, v, t).isin(vs: _*))
    case MatchExcept(k, vs) =>
      // a value of another kind is not among `vs`, so it matches
      // (qdrant's `Match::Except` arm); a JSON null never does
      val t = vs.headOption.fold[DataType](StringType)(litType)
      anyValue(k, v => v.isNotNull && {
        val x = asKind(k, v, t)
        x.isNull || !x.isin(vs: _*)
      })
    case MatchText(k, text) => textIndexes.get(k) match {
      case Some(cfg) =>
        // ALL analyzed query tokens ∈ the analyzed value token set. An
        // EMPTY analyzed query (all stopwords) matches NOTHING — the
        // reference's `TokenSet::has_subset` returns false on an empty
        // subset (`inverted_index/mod.rs:66-71`; the issue #8724
        // regression asserts a stopword-only MatchText returns zero hits)
        val qs = graft.functions.TextFunctions.analyzeQueryWith(text, cfg).distinct
        if (qs.isEmpty) lit(false)
        else anyValue(k, v => size(array_except(typedLit(qs),
          graft.functions.TextFunctions.analyzeWith(v, cfg))) === 0)
      case None =>
        // UNINDEXED: the whole query text is one raw SUBSTRING test per
        // stored string value — `stored.contains(text)`, no tokenization
        // ("without a full-text index, works as exact substring match";
        // `payload_storage/condition_checker.rs:174-182`). "batch"
        // matches "rebatched"; an empty query matches every string value.
        substringMatch(k, v => v.contains(lit(text)))
    }
    case MatchTextAny(k, text) => textIndexes.get(k) match {
      case Some(cfg) =>
        // empty analyzed query → false (`TokenSet::has_any`, same contract)
        val qs = graft.functions.TextFunctions.analyzeQueryWith(text, cfg).distinct
        if (qs.isEmpty) lit(false)
        else anyValue(k, v => arrays_overlap(typedLit(qs),
          graft.functions.TextFunctions.analyzeWith(v, cfg)))
      case None =>
        // UNINDEXED: any whitespace query token is a substring of the
        // stored value (`text_any.split_whitespace().any(|token|
        // stored.contains(token))`, `condition_checker.rs:184-193`);
        // a whitespace-only query has no tokens → false.
        val qs = text.split("\\s+").filter(_.nonEmpty)
        if (qs.isEmpty) lit(false)
        else substringMatch(k,
          v => qs.map(t => v.contains(lit(t))).reduce(_ || _))
    }
    case MatchPhrase(k, text) => textIndexes.get(k) match {
      // positions are stored only when the index declares
      // `phrase_matching` — without them a phrase query matches NOTHING
      // ("Phrase matching needs positional information; without it
      // nothing matches", `on_disk_inverted_index/mod.rs:601`;
      // `mutable_inverted_index.rs:167` skips position storage)
      case Some(cfg) if !cfg.phraseMatching => lit(false)
      case Some(cfg) =>
        // positions-based: consecutive token subsequence within ONE value.
        // Positions come from the ANALYZED stream — stopword removal
        // compresses them, so a phrase spanning a dropped stopword matches.
        // An empty analyzed phrase matches NOTHING (`check_phrase_match`
        // bails false on an empty phrase, `inverted_index/mod.rs:137`).
        val phrase = graft.functions.TextFunctions.analyzeQueryWith(text, cfg)
        if (phrase.isEmpty) lit(false)
        else anyValue(k, v => graft.functions.TextKernels.containsTokenSeqCol(
          graft.functions.TextFunctions.analyzeWith(v, cfg), phrase))
      case None =>
        // UNINDEXED: same raw substring test as Match::Text — the
        // reference's checker handles both variants in ONE arm
        // (`Match::Text(..) | Match::Phrase(..)`,
        // `condition_checker.rs:174-182`). Phrase "batch stream" matches
        // "rebatch streamer".
        substringMatch(k, v => v.contains(lit(text)))
    }
    case MatchPrefix(k, p) => anyValue(k, _.startsWith(p))
    case RangeCond(k, gt, gte, lt, lte) =>
      // numeric bounds on a STRING-read key compare as doubles (rangeBounds)
      val numeric = Seq(gt, gte, lt, lte).flatten.forall(_.isInstanceOf[Number])
      anyValue(k, v => rangeBounds(if (numeric) asKind(k, v, DoubleType) else v,
        r.dataTypeOf(k), gt, gte, lt, lte))
    case ValuesCount(k, gt, gte, lt, lte) =>
      rangeBounds(size(r.values(k)).cast("long"), Some(LongType), gt, gte, lt, lte)
    case GeoBoundingBox(k, tl, br) =>
      // bounds are EXCLUSIVE — a point exactly on an edge does not match
      // (the shared strict predicate, `VectorFunctions.inBboxStrict`)
      anyGeoValue(k, p => VectorFunctions.inBboxStrict(
        p.getField("lon"), p.getField("lat"), tl.lon, tl.lat, br.lon, br.lat))
    case GeoRadius(k, c0, radius) =>
      anyGeoValue(k, p =>
        // strictly INSIDE the circle (`GeoRadius::check_point` uses `<`,
        // `types.rs:3443-3448`)
        VectorFunctions.haversineMeters(
          p.getField("lon"), p.getField("lat"), lit(c0.lon), lit(c0.lat)) < lit(radius))
    case GeoPolygonCond(k, exterior, interiors) =>
      anyGeoValue(k, p => {
        val inExt = pointInRing(p, exterior)
        interiors.foldLeft(inExt)((acc, ring) => acc && !pointInRing(p, ring))
      })
    // absent or [] — but NOT explicit JSON null (that's IsNull's job);
    // fixture F1: {"city":null} matches is_null, not is_empty
    case IsEmpty(k) =>
      !r.fieldExists(k) || (size(r.values(k)) === 0 && !r.isJsonNull(k))
    case IsNullCond(k) => r.isJsonNull(k)
    case HasId(ids) =>
      r.id.isin(FilterCompiler.coerceWireIds(ids, r.idDataType): _*)
    case SliceCond(total, index) =>
      graft.functions.SipHash24.sliceIndexCol(r.id, total) === lit(index.toLong)
    case HasVector(name) => r.vector(name).isNotNull
    case NestedCond(k, f) => compileNested(k, f)
    case SubFilter(f) => compile(f)
  }

  /** Ray casting, edges unrolled at compile time (polygon is a literal). */
  private def pointInRing(p: Column, ring: Seq[GeoPoint]): Column = {
    val x = p.getField("lon"); val y = p.getField("lat")
    // ring is closed (first == last); iterate consecutive edges
    val crossings = ring.sliding(2).collect { case Seq(a, b) =>
      val crosses = (lit(a.lat) > y) =!= (lit(b.lat) > y)
      val xIntersect =
        lit(b.lon - a.lon) * (y - lit(a.lat)) / lit(b.lat - a.lat) + lit(a.lon)
      when(crosses && x < xIntersect, 1).otherwise(0)
    }.toSeq
    crossings.reduceOption((a, b) => a + b).getOrElse(lit(0)) % 2 === 1
  }

  // Nested scope dispatches on the UNDERLYING storage resolver — hook
  // wrappers (tenant prune, id type) are collection-level concerns that
  // don't apply inside an array element's scope.
  private def compileNested(key: String, f: Filter): Column =
    FilterCompiler.unwrap(r) match {
    case jr: JsonResolver =>
      exists(jr.nestedValues(key), elem =>
        new FilterCompiler(jr.elementResolver(elem, jr.innerTypes(key))).compile(f))
    case _ =>
      r.elementType(key) match {
        case Some(et) =>
          exists(r.values(key), elem =>
            new FilterCompiler(new StructResolver(elem, et)).compile(f))
        case None => lit(false)
      }
  }
}

object FilterCompiler {
  /** Strip hook wrappers down to the storage-layout resolver. */
  @annotation.tailrec
  private[filters] def unwrap(r: FieldResolver): FieldResolver = r match {
    case fw: ForwardingResolver => unwrap(fw.inner)
    case other => other
  }

  /** Equality predicate for ONE wire id against an id column — None when
    * the id's kind cannot live in the column (a UUID against numeric ids:
    * no point can match). Keeps the NumId/Uuid representation rules of
    * [[coerceWireIds]] in one place for every single-point lookup. */
  def idMatch(idCol: Column, id: Any,
      idType: Option[DataType]): Option[Column] =
    coerceWireIds(Seq(id), idType).headOption.map(idCol === lit(_))

  /** Coerce wire point-ids to an id column's type. A string id column — a
    * UUID or mixed NumId+Uuid collection — stores numeric ids as their
    * decimal rendering: digits-only is never a canonical UUID, so the two
    * id kinds cannot collide (`ExtendedPointId`, reference
    * `types.rs:174-179`). A numeric id column can never hold a UUID, so
    * UUID ids DROP from the candidate list — comparing them raw would make
    * Spark cast the COLUMN and kill parquet pushdown of the HasId prune. */
  def coerceWireIds(ids: Seq[Any], idType: Option[DataType]): Seq[Any] =
    idType match {
      case Some(StringType) =>
        ids.map { case l: Long => l.toString; case i: Int => i.toString
                  case x => x }
      case Some(_) => ids.filter(!_.isInstanceOf[String])
      case None => ids
    }
}
