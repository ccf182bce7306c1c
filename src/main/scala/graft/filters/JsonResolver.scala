package graft.filters

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Resolves payload keys against a schema-free JSON payload column (the
  * qdrant payload model: `Payload(Map<String, Value>)`,
  * `lib/segment/src/types.rs:2483`), preserving the absent / JSON-null /
  * empty-array / scalar-or-array trichotomies that typed columns cannot.
  *
  * Declared `types` play the role of qdrant's payload index schema
  * (`lib/shard/src/payload_index_schema.rs`): a key is read as the declared
  * type; a value that is an array of T yields all elements (∃ semantics), a
  * scalar yields one. Dotted keys (`a.b.c`) traverse nested objects like
  * qdrant's JsonPath (`lib/segment/src/json_path/mod.rs:19-33`).
  *
  * Implementation: Spark 4 VARIANT — `parse_json` once, `try_variant_get`
  * per key; `is_variant_null` distinguishes explicit JSON null from absence.
  * A raw (not `preParsed`) resolver also offers [[rawPayload]], so match and
  * range conditions on plain keys first try a streaming scalar read
  * ([[PayloadScalar]]) and parse only the rows it leaves undecided.
  */
final class JsonResolver(
    payloadCol: Column,
    types: Map[String, DataType],
    idColumn: Column,
    vectorCols: Map[String, Column] = Map.empty,
    preParsed: Boolean = false)
  extends FieldResolver {

  private def typeName(key: String): String =
    types.getOrElse(key, StringType).sql

  // When a filter references several keys (or one key in several branches),
  // parsing the JSON string per reference multiplies the dominant per-row
  // cost. Callers on a hot path should project `try_parse_json(payload)`
  // once and construct the resolver with `preParsed = true`.
  private def parsed: Column =
    if (preParsed) payloadCol else try_parse_json(payloadCol)

  private def raw(key: String): Column =
    try_variant_get(parsed, "$." + key, "variant")

  private def hasBrackets(key: String): Boolean = key.indexOf('[') >= 0

  /** Multiset of variant values reached by a JsonPath with `[]` / `[n]`
    * segments (`JsonPath::rest` traversal, `json_path/mod.rs:19-33`,
    * `value_get`: Key descends into objects, Index into one array slot,
    * Wildcard into every element) — maintained as `array<variant>`. Only
    * built for bracketed keys; the plain dotted form keeps the single
    * variant-path fast path below. */
  private def reachedVariants(key: String): Column = {
    val path = PayloadSelect.parse(key)
    val init = filter(
      array(try_variant_get(parsed, "$." + path.firstKey, "variant")),
      v => v.isNotNull)
    path.rest.foldLeft(init) {
      case (vals, PayloadSelect.Key(k)) =>
        filter(transform(vals, v => try_variant_get(v, "$." + k, "variant")),
          v => v.isNotNull)
      case (vals, PayloadSelect.Index(i)) =>
        filter(transform(vals, v => try_variant_get(v, s"$$[$i]", "variant")),
          v => v.isNotNull)
      case (vals, PayloadSelect.Wildcard) =>
        filter(
          flatten(transform(vals, v =>
            coalesce(try_variant_get(v, "$", "array<variant>"),
              array().cast(ArrayType(VariantType))))),
          v => v.isNotNull)
    }
  }

  /** Bind-once "let": evaluate `x` a single time per row and hand the bound
    * value to `body` as a lambda variable. The shared sub-expression rules
    * (terminalValues, isJsonNull, groupKeys) reference their input 3-5
    * times; in a FILTER or GENERATE position Catalyst inlines the full
    * payload parse into every reference (no cross-reference CSE outside
    * ProjectExec — measured ~5 parses/row on the r16 plan captures), so on
    * the raw-payload path the parse is the dominant per-row cost
    * multiplied. A 1-element-array transform pins it to exactly one
    * evaluation. preParsed resolvers skip the wrapper: their references
    * are cheap variant-gets on an already-parsed column, and the
    * aggregate-shaped hot queries tuned for ProjectExec CSE keep their
    * measured plans. */
  private def let(x: Column)(body: Column => Column): Column =
    if (preParsed) body(x)
    else element_at(transform(array(x), body), 1)

  /** Terminal rule shared by both paths: an array contributes its non-null
    * elements, a scalar one value, explicit JSON null nothing. */
  private def terminalValues(v0: Column, t: String): Column = let(v0) { v =>
    coalesce(
      filter(try_variant_get(v, "$", s"array<$t>"), e => e.isNotNull),
      when(v.isNotNull && !is_variant_null(v), array(try_variant_get(v, "$", t))),
      array().cast(s"array<$t>"))
  }

  def values(key: String): Column = {
    val t = typeName(key)
    if (hasBrackets(key))
      flatten(transform(reachedVariants(key), v => terminalValues(v, t)))
    else {
      // NOTE: keep the number of `raw` references minimal — the optimizer
      // inlines the payload parse into every reference when this lands in a
      // Filter, and only ProjectExec reliably subexpression-eliminates them
      // (see scaladoc on preParsed and the aggregate-shaped catalog queries).
      terminalValues(raw(key), t)
    }
  }

  /** Group-id values (`GroupId`, `groups.rs:8-12`): strings and integer
    * numbers only — floats, bools, objects, nested arrays and nulls are
    * SKIPPED (the `test_group.py` heterogenousId contract: `2.42`,
    * `[["a"]]`, `{..}`, `[]`, `null` form no group), a top-level array fans
    * the point into every valid element's group. Ids canonicalize to
    * strings, so the numeric group `1` and the string group `"1"` merge —
    * a documented divergence (the reference keeps them distinct); payload
    * fields mixing both spellings of the same number are pathological. */
  override def groupKeys(key: String): Column = {
    def keysOf(v0: Column): Column = let(v0) { v =>
      filter(
        transform(
          coalesce(
            try_variant_get(v, "$", "array<variant>"),
            when(v.isNotNull && !is_variant_null(v), array(v)),
            array().cast("array<variant>")),
          e => when(
            schema_of_variant(e).isin("STRING", "BIGINT", "INT", "SMALLINT", "TINYINT"),
            try_variant_get(e, "$", "string"))),
        x => x.isNotNull)
    }
    if (hasBrackets(key)) flatten(transform(reachedVariants(key), keysOf(_)))
    else keysOf(raw(key))
  }

  /** Geo conditions force the point-struct shape regardless of the
    * declared type — a geo filter on an UNDECLARED field must still
    * resolve (`GeoBoundingBox::check_point` reads the raw payload value;
    * `test_geo_filter.py` never declares an index). Non-geo-shaped values
    * cast to null and drop out, the reference's skip semantics. */
  override def geoValues(key: String): Column = {
    val t = "struct<lon:double,lat:double>"
    if (hasBrackets(key))
      flatten(transform(reachedVariants(key), v => terminalValues(v, t)))
    else terminalValues(raw(key), t)
  }

  /** Present in the document (JSON null counts as present). */
  def fieldExists(key: String): Column =
    if (hasBrackets(key)) size(reachedVariants(key)) > 0
    else raw(key).isNotNull

  def isJsonNull(key: String): Column = {
    def oneIsNull(r0: Column): Column = let(r0) { r =>
      coalesce(is_variant_null(r), lit(false)) ||
        // [null] also matches IsNull (ref types.rs:3786-3806)
        coalesce(exists(try_variant_get(r, "$", s"array<variant>"),
          e => is_variant_null(e)), lit(false))
    }
    if (hasBrackets(key))
      coalesce(exists(reachedVariants(key), oneIsNull), lit(false))
    else oneIsNull(raw(key))
  }

  def id: Column = idColumn
  def vector(name: String): Column = vectorCols.getOrElse(name, lit(null))

  /** The unparsed payload and the values' read type `t` for a plain dotted
    * key; a pre-parsed resolver has no raw text to scan. */
  override def rawPayload(key: String): Option[(Column, DataType)] =
    if (preParsed || !PayloadScan.plainKey(key)) None
    else Some((payloadCol, types.getOrElse(key, StringType)))

  override def dataTypeOf(key: String): Option[DataType] = types.get(key).map {
    case ArrayType(e, _) => e
    case t => t
  }

  /** Nested array-of-objects: the inner filter re-resolves via JSON on the
    * element. Elements are variants; expose them as JSON strings and let the
    * element resolver re-parse. */
  override def elementType(key: String): Option[StructType] = None

  /** ∃-element nested compilation entry: used by FilterCompiler via
    * [[nestedValues]]. A bracketed key (`arr1[].arr2`) contributes the
    * elements of EVERY reached array (the reference's nested-with-wildcard
    * form, `test_nesting_nested_payload_query.py`). */
  def nestedValues(key: String): Column = {
    def elems(r: Column): Column =
      coalesce(
        transform(try_variant_get(r, "$", "array<variant>"), e => to_json(e)),
        array().cast(ArrayType(StringType)))
    if (hasBrackets(key))
      flatten(transform(reachedVariants(key), v => elems(v)))
    else elems(raw(key))
  }

  def elementResolver(elem: Column, innerTypes: Map[String, DataType]): JsonResolver =
    new JsonResolver(elem, innerTypes, lit(null), Map.empty)

  /** Declared types for keys nested under `key.` (relative to the element). */
  def innerTypes(key: String): Map[String, DataType] =
    types.collect {
      case (k, v) if k.startsWith(key + ".") => k.stripPrefix(key + ".") -> v
    }
}
