package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.api.StrictModeConfig
import graft.model._
import graft.sources._
import graft.storage.{Catalog, Collection}

/** Collection lifecycle catalog + persisted-config round-trip
  * (`collection_meta_ops.rs:45-135`). */
class CatalogSpec extends SparkTestBase {

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_catalog").toString

  test("config JSON round-trips every declared knob") {
    val cfg = CollectionConfig(
      idCol = "pid", payloadCol = "meta",
      vectors = Seq(
        VectorConfig("", 64, Dot,
          quantization = Some(QuantizationSpec("product", compression = "x32")),
          ann = Some(graft.sources.IvfSpec(cells = 64, nprobe = 6))),
        VectorConfig("img", 8, Cosine, multivector = true, datatype = Float16),
        VectorConfig("u", 4, Euclid, datatype = Uint8,
          quantization = Some(QuantizationSpec("scalar", quantile = 0.99))),
        VectorConfig("b", 16, Manhattan,
          quantization = Some(QuantizationSpec("binary", encoding = "two_bits")))),
      sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf")),
        SparseVectorConfig("raw")),
      payloadTypes = Map("lang" -> StringType, "price" -> DoubleType),
      shardKeyCol = Some("tenant"),
      strictMode = Some(StrictModeConfig(enabled = true,
        maxQueryLimit = Some(100), upsertMaxBatchsize = Some(1000),
        searchMaxOversampling = Some(4.0))))
    assert(Catalog.parseConfigJson(Catalog.configJson(cfg)) == cfg)
    // minimal config round-trips too
    val minimal = CollectionConfig()
    assert(Catalog.parseConfigJson(Catalog.configJson(minimal)) == minimal)
  }

  test("create/list/exists/get/delete with alias cascade") {
    import spark.implicits._
    val cat = new Catalog(spark, tmpRoot())
    val cfg = CollectionConfig(idCol = "id", payloadCol = "payload",
      payloadTypes = Map("city" -> StringType))
    cat.create("a", cfg, Seq((1L, """{"city":"Berlin"}"""),
      (2L, """{"city":"Paris"}""")).toDF("id", "payload"))
    cat.create("b", cfg, Seq((9L, """{"city":"Rome"}""")).toDF("id", "payload"))
    assert(cat.list() == Seq("a", "b"))
    assert(cat.exists("a") && !cat.exists("zz"))
    intercept[IllegalArgumentException] {
      cat.create("a", cfg, Seq((1L, "{}")).toDF("id", "payload"))
    }
    cat.aliases.create("prod", "a")
    // open by alias; the persisted config drives the resolver
    val a = cat.get("prod")
    assert(a.config == cfg)
    assert(a.read().count() == 2)
    // mutations through a catalog-opened handle work (same path contract)
    a.deleteByIds(Seq(2L))
    assert(cat.get("a").read().count() == 1)
    assert(cat.delete("a"))
    assert(!cat.exists("a") && cat.list() == Seq("b"))
    assert(!cat.aliases.exists("prod")) // cascade
    assert(!cat.delete("a")) // idempotent false
    intercept[IllegalArgumentException] { cat.get("a") }
  }

  test("lookup_from through the catalog: one probe per sibling, errors in parse order") {
    import spark.implicits._
    val cat = new Catalog(spark, tmpRoot())
    cat.create("docs", CollectionConfig(idCol = "id", vectors = Seq(VectorConfig("", 2, Dot))),
      (1L to 20L).map(i => (i, Seq(1f, i.toFloat))).toDF("id", "vector"))
    cat.create("ex", CollectionConfig(idCol = "qid", vectors = Seq(VectorConfig("v", 2, Dot))),
      (101L to 110L).map(i => (i, Seq(1f, (i % 7).toFloat))).toDF("qid", "vector_v"))
    def recommend(ids: Seq[Long]): String =
      s"""{"query": {"recommend": {"positive": [${ids.mkString(", ")}]}},
         |  "lookup_from": {"collection": "ex", "vector": "v"}, "limit": 3}""".stripMargin
    cat.query("docs", recommend(Seq(101L))).collect()
    val (one, _) = jobsDuring(cat.query("docs", recommend(Seq(101L))))
    val (four, sites) = jobsDuring(cat.query("docs", recommend(101L to 104L)))
    assert(one >= 1, "the sibling probe should run eagerly")
    assert(four == one, s"4 sibling ids ran $four eager jobs, 1 sibling id $one: $sites")
    // a missing local id before an absent sibling names the id; with the
    // order flipped, the absent collection
    val localMissing = """{"query": {"nearest": 999}}"""
    val absentSibling = """{"query": {"nearest": 101}, "lookup_from": {"collection": "gone"}}"""
    def err(prefetches: String*): String = intercept[IllegalArgumentException](
      cat.query("docs", s"""{"prefetch": [${prefetches.mkString(", ")}],
         |  "query": {"fusion": "rrf"}, "limit": 3}""".stripMargin)).getMessage
    assert(err(localMissing, absentSibling).contains("Not found: No point with id 999 found"))
    assert(err(absentSibling, localMissing).contains("Not found: Collection gone not found"))
  }

  test("catalog update persists the patched config (quantization diff)") {
    import spark.implicits._
    val cat = new Catalog(spark, tmpRoot())
    val cfg = CollectionConfig(idCol = "id",
      vectors = Seq(VectorConfig("", 4, Dot)))
    cat.create("q", cfg, Seq(
      (1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f))).toDF("id", "vector"))
    val patched = cfg.copy(vectors = Seq(VectorConfig("", 4, Dot,
      quantization = Some(QuantizationSpec("scalar")))))
    cat.update("q", patched)
    // a FRESH open sees the patched config and the materialized column
    val q = cat.get("q")
    assert(q.config.vectors.head.quantization.contains(QuantizationSpec("scalar")))
    assert(q.read().columns.contains("quant_vector"))
    assert(q.knn("", Seq(1.0, 0.0, 0.0, 0.0), k = 1).collect().head.getLong(0) == 1L)
  }
}
