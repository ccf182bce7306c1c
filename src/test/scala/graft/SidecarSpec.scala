package graft

import java.nio.file.Files

import org.json4s.{JArray, JInt, JObject, JString}

import graft.filters.Cardinality.{FieldStatsSnapshot, GeoStats, HistStats, NullStats, ValueStats}
import graft.sources.CollectionConfig
import graft.storage.{Collection, Sidecar}
import graft.storage.Collection.{BinaryQP, IdfEntry, IdfStat, PqQP, ScalarQP}

/** Every sidecar of a collection round-trips through its file: a value
  * `put` by one instance is `get` back equal by a fresh instance, which
  * starts with an empty cache and so reads the file. */
class SidecarSpec extends SparkTestBase {

  private val cfg = CollectionConfig(idCol = "id")

  private def tmpPath(): String =
    Files.createTempDirectory("graft_sidecar").resolve("points").toString

  private def roundTrip[T <: AnyRef](sidecar: Collection => Sidecar[T], value: T): String = {
    val path = tmpPath()
    sidecar(new Collection(spark, path, cfg)).put(value)
    assert(sidecar(new Collection(spark, path, cfg)).get.contains(value))
    path
  }

  private val stats = FieldStatsSnapshot(
    total = 10L,
    vectorCounts = Map("" -> 9L, "txt" -> 4L),
    values = Map("city" -> ValueStats(8L, 9L, 3L, Map("Berlin" -> 5L, "London" -> 3L), 1L, 1L)),
    hist = Map("price" -> HistStats(7L, 8L, 2L, -1.5, 40.25, Seq(3L, 0L, 5L))),
    nulls = Map("city" -> NullStats(1L, 2L), "price" -> NullStats(3L, 0L)),
    stringTyped = Set("city"),
    boolTyped = Set("hot"),
    intTyped = Set("n", "shard_key"),
    dateTyped = Set("ts"),
    geo = Map("loc" -> GeoStats(2L, Map("u3" -> 4L, "gc" -> 1L))))

  private val cases: Seq[(String, () => Unit)] = Seq(
    "sparse IDF, flat (file keeps the {n, df} shape)" -> (() => {
      val path = roundTrip[Map[String, IdfEntry]](_.idfSidecar,
        Map("txt" -> IdfEntry(Some(3L), Some(Map(1L -> 2L, 4294967295L -> 1L)))))
      val file = new String(Files.readAllBytes(
        java.nio.file.Paths.get(path + "_sparse_idf.json")), "UTF-8")
      assert(file == """{"txt":{"n":3,"df":{"1":2,"4294967295":1}}}""", file)
    }),
    "sparse IDF, sharded" -> (() => roundTrip[Map[String, IdfEntry]](_.idfSidecar,
      Map("txt" -> IdfEntry(sharded = Some(Map(
        "a" -> IdfStat(2L, Map(1L -> 1L, 5L -> 2L)),
        "b" -> IdfStat(0L, Map.empty))))))),
    "field stats with geo and all four typed sets" -> (() => roundTrip(_.statsSidecar, stats)),
    "quantization: scalar, binary and product params" -> (() =>
      roundTrip[Map[String, Collection.QuantParams]](_.quantSidecar, Map(
        "s" -> ScalarQP(-0.25, 1.5),
        "b1" -> BinaryQP(Nil, Nil),
        "b2" -> BinaryQP(Seq(0.5, -0.125), Seq(1.0, 2.0)),
        "pq" -> PqQP(2, Seq(Seq(Seq(0.1, 0.2), Seq(0.3, 0.4)), Seq(Seq(-1.0, 1.0))))))),
    "shard keys mixing String and Long" -> (() => {
      val path = roundTrip(_.shardKeySidecar,
        JObject("keys" -> JArray(List(JString("a"), JInt(7), JString("b")))))
      assert(new Collection(spark, path, cfg).listShardKeys().contains(Seq("a", 7L, "b")))
    }),
    "metadata with an explicit-null delete" -> (() => {
      val path = tmpPath()
      val c = new Collection(spark, path, cfg)
      c.updateMetadata(Map("k1" -> Some("v1"), "k2" -> Some("v2")))
      c.updateMetadata(Map("k2" -> None, "k3" -> Some("v3")))
      assert(new Collection(spark, path, cfg).metadata() == Map("k1" -> "v1", "k3" -> "v3"))
    }),
    "drop leaves no file and an empty get" -> (() => {
      val path = roundTrip(_.statsSidecar, stats)
      val c = new Collection(spark, path, cfg)
      c.statsSidecar.drop()
      assert(!new java.io.File(path + "_fieldstats.json").exists())
      assert(c.statsSidecar.get.isEmpty)
      assert(new Collection(spark, path, cfg).statsSidecar.get.isEmpty)
    }))

  for ((name, check) <- cases) test(s"sidecar round-trip: $name")(check())
}
