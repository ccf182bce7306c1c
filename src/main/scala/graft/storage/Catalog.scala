package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model._
import graft.sources.{CollectionConfig, QuantizationSpec, SparseVectorConfig, VectorConfig}

/** Driver-side collection catalog — the collection lifecycle surface
  * (`lib/storage/src/content_manager/collection_meta_ops.rs:45-135`:
  * CreateCollection / DeleteCollection, `GET /collections` list,
  * `GET /collections/{c}/exists`). One directory per collection under a
  * root; the declared config persists as `_config.json` beside the data so
  * a catalog (or another JVM) re-opens collections without re-declaring
  * schemas — the analog of the reference persisting collection config with
  * the collection. Dropping a collection removes its directory (data +
  * quant/IDF/metadata sidecars live inside) and cascades its aliases
  * (`alias_mapping.rs:83` via [[Aliases.removeCollection]]).
  *
  * Catalog state is tiny driver-side metadata — never part of a
  * distributed plan; at any scale this is a namenode/metastore touch, not
  * a Spark job.
  */
final class Catalog(spark: SparkSession, root: String) {

  val aliases = new Aliases(root)

  private val fs =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def collDir(name: String) =
    new org.apache.hadoop.fs.Path(root, s"collections/$name")
  private def dataPath(name: String) =
    new org.apache.hadoop.fs.Path(collDir(name), "points").toString
  private def configPath(name: String) =
    new org.apache.hadoop.fs.Path(collDir(name), "_config.json")

  /** PUT /collections/{name} — fails if the name exists (the reference's
    * create rejects duplicates; re-create requires delete first). */
  def create(name: String, config: CollectionConfig, points: DataFrame): Collection = {
    require(!exists(name), s"collection '$name' already exists")
    val coll = Collection.create(spark, dataPath(name), config, points)
    writeConfig(name, config)
    coll
  }

  /** GET /collections — sorted collection names. */
  def list(): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(root, "collections")
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  /** GET /collections/{name}/exists. */
  def exists(name: String): Boolean = fs.exists(collDir(name))

  /** Open a collection by name OR alias, config from the persisted
    * `_config.json`. */
  def get(name: String): Collection = {
    val resolved = aliases.resolve(name)
    require(exists(resolved), s"collection '$resolved' does not exist")
    new Collection(spark, dataPath(resolved), readConfig(resolved))
  }

  /** DELETE /collections/{name}: drop data + sidecars, cascade aliases.
    * Returns false if absent (the reference's delete is idempotent-ish:
    * 404 → result false). */
  def delete(name: String): Boolean = {
    if (!exists(name)) false
    else {
      ParquetMeta.delete(spark, dataPath(name))
      fs.delete(collDir(name), true)
      aliases.removeCollection(name)
      true
    }
  }

  /** `POST /collections/{name}/points/query` with catalog-resolved
    * `lookup_from` (`LookupLocation`, `schema.rs:608-613`): vector-input
    * ids on the request resolve against the NAMED sibling collection —
    * its declared named vector and, when it is custom-sharded, only the
    * selected shard-key partitions (a directory-pruned point read), all
    * of one sibling's ids in one probe ([[Collection.query]]). This is the
    * dispatcher-level wiring of the reference (`query.rs:456-546` resolves
    * lookups through the table-of-content). */
  def query(name: String, json: String): DataFrame =
    get(name).query(json, Some(lookupCollection))

  /** `query/batch` with the same catalog-resolved `lookup_from`. */
  def queryBatch(name: String, json: String): DataFrame =
    get(name).queryBatch(json, Some(lookupCollection))

  /** Open the `lookup_from` or `with_lookup` collection with the
    * reference's error shape — `test_query_full.py:443` pins "Not found:
    * Collection .. not found" for a lookup naming an absent collection
    * (root AND nested). */
  private def lookupCollection(name: String): Collection = {
    val resolved = aliases.resolve(name)
    if (!exists(resolved)) throw new IllegalArgumentException(
      s"Not found: Collection $name not found")
    get(resolved)
  }

  /** `POST /points/query/groups` with the lookup collection resolved
    * through the catalog ([[Collection.queryGroups]] `with_lookup`) and
    * `lookup_from` by-id examples resolved against siblings like the flat
    * query. */
  def queryGroups(name: String, json: String): DataFrame =
    get(name).queryGroups(json,
      lookupTable = n => lookupCollection(n).readDecoded(),
      siblings = Some(lookupCollection))

  /** Legacy `/points/{search,recommend}/groups` through the catalog:
    * the `with_lookup` collection resolves against siblings (by name or
    * alias) like [[queryGroups]]. */
  def searchGroups(name: String, json: String): DataFrame =
    get(name).searchGroups(json,
      lookupTable = n => lookupCollection(n).readDecoded())

  def recommendGroups(name: String, json: String): DataFrame =
    get(name).recommendGroups(json,
      lookupTable = n => lookupCollection(n).readDecoded(),
      siblings = Some(lookupCollection))

  /** PATCH /collections/{name}: persist the updated config (the caller
    * builds it via `RequestCodec.parseCollectionUpdate`) and apply any
    * rewrite-needing diff through [[Collection.updateConfig]]. */
  def update(name: String, nc: CollectionConfig): Collection = {
    val resolved = aliases.resolve(name)
    val next = get(resolved).updateConfig(nc)
    writeConfig(resolved, nc)
    next
  }

  /** `PUT /collections/{name}/index`: parse the wire body, materialize the
    * typed projection (and any tenant/principal re-layout) in one rewrite,
    * and PERSIST the updated declaration to `_config.json` — the schema
    * survives a catalog reopen exactly like the reference's
    * `payload_index_schema.rs` persistence. Without this write the
    * materialized `idx_`/`geocell_` columns would be orphans after reopen
    * (dropped defensively by the write path, losing the index). Returns
    * the parsed text-analyzer config (when the schema is `text`) for the
    * caller's Match compilation, alongside the rebound collection. */
  def createFieldIndex(name: String, body: String)
      : (Collection, Option[graft.model.TextIndexConfig]) = {
    val resolved = aliases.resolve(name)
    val (field, dt, textCfg, flags) =
      graft.api.RequestCodec.parseFieldIndexRequest(body)
    val next = get(resolved).buildPayloadIndex(field, dt, flags)
    writeConfig(resolved, next.config)
    (next, textCfg)
  }

  /** `DELETE /collections/{name}/index/{field}`: drop the projection
    * column(s); the declared payload TYPE stays (it may predate the
    * index), so no config rewrite is needed — `withIndexProjections`
    * keys off column presence. */
  def dropFieldIndex(name: String, field: String): Unit =
    get(aliases.resolve(name)).dropPayloadIndex(field)

  private def writeConfig(name: String, c: CollectionConfig): Unit = {
    val out = fs.create(configPath(name), true)
    try out.write(Catalog.configJson(c).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readConfig(name: String): CollectionConfig = {
    val in = fs.open(configPath(name))
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    Catalog.parseConfigJson(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Full [[CollectionConfig]] ⇄ JSON round-trip (the persisted
  * `_config.json` schema — internal catalog state, richer than the wire
  * create body: it also carries id/payload/shard columns and declared
  * payload types). */
object Catalog {

  def configJson(c: CollectionConfig): String = {
    def quant(q: QuantizationSpec): JValue = JObject(
      "kind" -> JString(q.kind), "encoding" -> JString(q.encoding),
      "quantile" -> JDouble(q.quantile), "compression" -> JString(q.compression))
    def strict(sm: graft.api.StrictModeConfig): JValue = JObject(List(
      Some("enabled" -> (JBool(sm.enabled): JValue)),
      sm.maxQueryLimit.map(v => "max_query_limit" -> (JInt(v): JValue)),
      sm.unindexedFilteringRetrieve.map(v => "unindexed_filtering_retrieve" -> (JBool(v): JValue)),
      sm.unindexedFilteringUpdate.map(v => "unindexed_filtering_update" -> (JBool(v): JValue)),
      sm.searchAllowExact.map(v => "search_allow_exact" -> (JBool(v): JValue)),
      sm.searchMaxOversampling.map(v => "search_max_oversampling" -> (JDouble(v): JValue)),
      sm.upsertMaxBatchsize.map(v => "upsert_max_batchsize" -> (JInt(v): JValue)),
      sm.filterMaxConditions.map(v => "filter_max_conditions" -> (JInt(v): JValue)),
      sm.conditionMaxSize.map(v => "condition_max_size" -> (JInt(v): JValue))).flatten)
    val o = JObject(List(
      "id_col" -> JString(c.idCol),
      "payload_col" -> JString(c.payloadCol),
      "vectors" -> JArray(c.vectors.toList.map(v => JObject(List(
        "name" -> JString(v.name),
        "dim" -> JInt(v.dim),
        "metric" -> JString(v.metric.toString),
        "multivector" -> JBool(v.multivector),
        "datatype" -> JString(v.datatype.toString)) ++
        v.quantization.map(q => "quantization" -> quant(q)).toList ++
        v.ann.map(a => "ann" -> (JObject(
          "cells" -> JInt(a.cells), "nprobe" -> JInt(a.nprobe)): JValue)).toList))),
      "sparse" -> JArray(c.sparse.toList.map(sc => JObject(List(
        "name" -> JString(sc.name)) ++
        sc.modifier.map(m => "modifier" -> (JString(m): JValue)).toList))),
      "payload_types" -> JObject(c.payloadTypes.toList.sortBy(_._1)
        .map { case (k, t) => k -> (JString(t.sql): JValue) })) ++
      c.shardKeyCol.map(sk => "shard_key_col" -> (JString(sk): JValue)).toList ++
      c.strictMode.map(sm => "strict_mode" -> strict(sm)).toList ++
      (if (c.tenantKeys.isEmpty) Nil else List("tenant_keys" ->
        (JArray(c.tenantKeys.toList.map(JString(_))): JValue))) ++
      (if (c.principalKeys.isEmpty) Nil else List("principal_keys" ->
        (JArray(c.principalKeys.toList.map(JString(_))): JValue))))
    JsonMethods.compact(JsonMethods.render(o))
  }

  def parseConfigJson(s: String): CollectionConfig = {
    val o = JsonMethods.parse(s)
    def str(j: JValue): String = j match {
      case JString(x) => x
      case other => throw new IllegalArgumentException(s"expected string, got $other")
    }
    def int(j: JValue): Int = j match {
      case JInt(x) => x.toInt
      case JLong(x) => x.toInt
      case other => throw new IllegalArgumentException(s"expected int, got $other")
    }
    def dbl(j: JValue): Double = j match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble
      case other => throw new IllegalArgumentException(s"expected double, got $other")
    }
    def metricOf(n: String): Metric = n match {
      case "Dot" => Dot
      case "Cosine" => Cosine
      case "Euclid" => Euclid
      case "Manhattan" => Manhattan
      case other => throw new IllegalArgumentException(s"unknown metric '$other'")
    }
    def datatypeOf(n: String): VectorDatatype = n match {
      case "Float32" => Float32
      case "Float16" => Float16
      case "Uint8" => Uint8
      case other => throw new IllegalArgumentException(s"unknown datatype '$other'")
    }
    val vectors = (o \ "vectors") match {
      case JArray(vs) => vs.map { v =>
        VectorConfig(
          name = str(v \ "name"),
          dim = int(v \ "dim"),
          metric = metricOf(str(v \ "metric")),
          multivector = (v \ "multivector") == JBool(true),
          datatype = datatypeOf(str(v \ "datatype")),
          quantization = (v \ "quantization") match {
            case q: JObject => Some(QuantizationSpec(
              kind = str(q \ "kind"), encoding = str(q \ "encoding"),
              quantile = dbl(q \ "quantile"), compression = str(q \ "compression")))
            case _ => None
          },
          ann = (v \ "ann") match {
            case a: JObject => Some(graft.sources.IvfSpec(
              cells = int(a \ "cells"), nprobe = int(a \ "nprobe")))
            case _ => None
          })
      }
      case _ => Nil
    }
    val sparse = (o \ "sparse") match {
      case JArray(ss) => ss.map(sc => SparseVectorConfig(str(sc \ "name"),
        modifier = (sc \ "modifier") match {
          case JString(m) => Some(m)
          case _ => None
        }))
      case _ => Nil
    }
    val payloadTypes = (o \ "payload_types") match {
      case JObject(fields) => fields.map { case (k, t) =>
        k -> org.apache.spark.sql.types.DataType.fromDDL(str(t))
      }.toMap
      case _ => Map.empty[String, org.apache.spark.sql.types.DataType]
    }
    CollectionConfig(
      idCol = str(o \ "id_col"),
      payloadCol = str(o \ "payload_col"),
      vectors = vectors,
      sparse = sparse,
      payloadTypes = payloadTypes,
      shardKeyCol = (o \ "shard_key_col") match {
        case JString(sk) => Some(sk)
        case _ => None
      },
      strictMode = (o \ "strict_mode") match {
        case sm: JObject =>
          Some(graft.api.StrictMode.parse(JsonMethods.compact(JsonMethods.render(sm))))
        case _ => None
      },
      tenantKeys = (o \ "tenant_keys") match {
        case JArray(ks) => ks.map(str)
        case _ => Nil
      },
      principalKeys = (o \ "principal_keys") match {
        case JArray(ks) => ks.map(str)
        case _ => Nil
      })
  }
}
