package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.filters.{FilterCompiler, JsonResolver}
import graft.model._

/** Filter-algebra semantics on the F1 fixture (FIXTURES.md; ported from
  * qdrant `tests/openapi/helpers/collection_setup.py:122-232`): exercises
  * the absent / JSON-null / empty-array / scalar-vs-array trichotomies. */
class FilterSpec extends SparkTestBase {

  private lazy val f1: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Some(Seq(0.05f, 0.61f, 0.76f, 0.74f)), Some("""{"city":"Berlin","price":10.0}""")),
      (2L, Some(Seq(0.19f, 0.81f, 0.75f, 0.11f)), Some("""{"city":["Berlin","London"],"price":11.0}""")),
      (3L, Some(Seq(0.36f, 0.55f, 0.47f, 0.94f)), Some("""{"city":["Berlin","Moscow"],"price":9.5}""")),
      (4L, Some(Seq(0.18f, 0.01f, 0.85f, 0.80f)), Some("""{"city":["London","Moscow"],"price":9}""")),
      (5L, Some(Seq(0.24f, 0.18f, 0.22f, 0.44f)), Some("""{"count":0}""")),
      (6L, Some(Seq(0.35f, 0.08f, 0.11f, 0.44f)), None),
      (7L, Some(Seq(0.25f, 0.98f, 0.14f, 0.43f)), Some("""{"city":null,"price":null}""")),
      (8L, Some(Seq(0.79f, 0.53f, 0.72f, 0.15f)), Some("""{"city":[],"price":[]}""")),
      (9L, None, None),
      (10L, None, Some("""{"city":[],"price":[]}""")),
    ).toDF("id", "vector", "payload")
  }

  private lazy val resolver = new JsonResolver(
    col("payload"),
    Map("city" -> StringType, "price" -> DoubleType, "count" -> LongType),
    col("id"),
    Map("" -> col("vector")))

  private def ids(f: Filter): Seq[Long] = {
    val pred = new FilterCompiler(resolver).compile(f)
    f1.filter(pred).select("id").collect().map(_.getLong(0)).sorted.toSeq
  }

  test("match scalar-or-array city value") {
    assert(ids(Filter.mustAll(MatchValue("city", "Berlin"))) == Seq(1L, 2L, 3L))
    assert(ids(Filter.mustAll(MatchValue("city", "London"))) == Seq(2L, 4L))
  }

  test("match any / except (except is not the negation of any)") {
    assert(ids(Filter.mustAll(MatchAny("city", Seq("London", "Moscow")))) == Seq(2L, 3L, 4L))
    assert(ids(Filter.mustAll(MatchExcept("city", Seq("Berlin")))) == Seq(2L, 3L, 4L))
  }

  test("is_empty matches absent and [], but not JSON null") {
    assert(ids(Filter.mustAll(IsEmpty("city"))) == Seq(5L, 6L, 8L, 9L, 10L))
  }

  test("is_null matches only explicit JSON null") {
    assert(ids(Filter.mustAll(IsNullCond("city"))) == Seq(7L))
  }

  test("range over mixed int/float json numbers") {
    assert(ids(Filter.mustAll(RangeCond("price", lt = Some(10.0)))) == Seq(3L, 4L))
    assert(ids(Filter.mustAll(RangeCond("price", gte = Some(10.0)))) == Seq(1L, 2L))
  }

  test("integral range bounds compare as f64 on undeclared fields, exactly on integer fields") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"price":49.5,"n":9007199254740992}"""),
      (2L, """{"price":50,"n":9007199254740993}"""),
      (3L, """{"price":75.25,"n":1}"""),
    ).toDF("id", "payload")
    // price is undeclared: its values are JSON text and qdrant reads the
    // bound as f64; n is declared integer, where 2^53 + 1 must stay exact
    val r = new JsonResolver(col("payload"), Map("n" -> LongType), col("id"))
    def idsOf(c: Condition): Seq[Long] =
      df.filter(new FilterCompiler(r).compile(Filter.mustAll(c)))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsOf(RangeCond("price", gte = Some(50L))) == Seq(2L, 3L))
    assert(idsOf(RangeCond("price", lt = Some(50))) == Seq(1L))
    assert(idsOf(RangeCond("price", gt = Some(49L), lte = Some(75L))) == Seq(1L, 2L))
    assert(idsOf(RangeCond("n", gte = Some(9007199254740993L))) == Seq(2L))
  }

  test("values_count") {
    assert(ids(Filter.mustAll(ValuesCount("city", gte = Some(2L)))) == Seq(2L, 3L, 4L))
  }

  test("must_not over absent fields is true (null-safe negation)") {
    assert(ids(Filter(mustNot = Seq(MatchValue("city", "Berlin")))) ==
      Seq(4L, 5L, 6L, 7L, 8L, 9L, 10L))
  }

  test("has_id and has_vector") {
    assert(ids(Filter.mustAll(HasId(Seq(2L, 9L, 10L)))) == Seq(2L, 9L, 10L))
    assert(ids(Filter.mustAll(HasVector(""))) == (1L to 8L))
  }

  test("min_should counts satisfied conditions") {
    val f = Filter(minShould = Some(MinShould(Seq(
      MatchValue("city", "Berlin"),
      RangeCond("price", gte = Some(10.0))), 2)))
    assert(ids(f) == Seq(1L, 2L))
  }

  test("should is OR, combined with must by AND") {
    val f = Filter(
      must = Seq(MatchValue("city", "Berlin")),
      should = Seq(RangeCond("price", gte = Some(10.5)), ValuesCount("city", lte = Some(1L))))
    // Berlin points: 1,2,3; should: price>=10.5 → 2; single-valued city → 1
    assert(ids(f) == Seq(1L, 2L))
  }

  test("nested: per-element conjunction on the same element") {
    import spark.implicits._
    val docs = Seq(
      (1L, """{"country":{"name":"Germany","cities":[{"name":"Berlin","population":3.7},{"name":"Munich","population":1.5}]}}"""),
      (2L, """{"country":{"name":"X","cities":[{"name":"Berlin","population":1.0},{"name":"Hamburg","population":5.0}]}}"""),
    ).toDF("id", "payload")
    val r = new JsonResolver(col("payload"),
      Map("country.cities.name" -> StringType,
        "country.cities.population" -> DoubleType),
      col("id"))
    val f = Filter.mustAll(NestedCond("country.cities", Filter(must = Seq(
      MatchValue("name", "Berlin"), RangeCond("population", gt = Some(2.0))))))
    val got = docs.filter(new FilterCompiler(r).compile(f))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
    // flattened ∃ (non-nested) would match doc 2 too — verify the difference
    val loose = Filter(must = Seq(
      NestedCond("country.cities", Filter.mustAll(MatchValue("name", "Berlin"))),
      NestedCond("country.cities", Filter.mustAll(RangeCond("population", gt = Some(2.0))))))
    val gotLoose = docs.filter(new FilterCompiler(r).compile(loose))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotLoose == Seq(1L, 2L))
  }

  test("geo conditions over JSON payload objects (variant -> struct)") {
    import spark.implicits._
    val d = Seq(
      (1L, """{"loc":{"lon":13.40,"lat":52.52}}"""), // Berlin
      (2L, """{"loc":{"lon":-0.13,"lat":51.51}}"""), // London
      (3L, """{"loc":[{"lon":2.35,"lat":48.86},{"lon":139.69,"lat":35.68}]}"""), // Paris+Tokyo
      (4L, """{"loc":null}"""),
      (5L, """{}"""),
    ).toDF("id", "payload")
    val r = new JsonResolver(col("payload"),
      Map("loc" -> StructType(Seq(
        StructField("lon", DoubleType), StructField("lat", DoubleType)))),
      col("id"))
    def ids(f: Filter): Seq[Long] =
      d.filter(new FilterCompiler(r).compile(f))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // radius 1200km around Paris: Berlin (~880km), London (~340km), Paris itself
    assert(ids(Filter.mustAll(GeoRadius("loc", GeoPoint(2.35, 48.86), 1200000.0)))
      == Seq(1L, 2L, 3L))
    // bbox over western Europe excludes Tokyo but row 3 matches via Paris (∃)
    assert(ids(Filter.mustAll(GeoBoundingBox("loc",
      topLeft = GeoPoint(-5.0, 55.0), bottomRight = GeoPoint(5.0, 45.0))))
      == Seq(2L, 3L))
    // must_not is null-safe over absent/null geo fields
    assert(ids(Filter(mustNot = Seq(
      GeoRadius("loc", GeoPoint(2.35, 48.86), 1200000.0)))) == Seq(4L, 5L))
    // bbox bounds are EXCLUSIVE (`GeoBoundingBox::check_point` strict
    // comparisons, `types.rs:3407-3420`): a box whose edge passes exactly
    // through Paris (2.35, 48.86) — row 3's only European point — must
    // NOT match it; nudging the edge off the point must
    assert(!ids(Filter.mustAll(GeoBoundingBox("loc",
      topLeft = GeoPoint(2.35, 55.0), bottomRight = GeoPoint(5.0, 45.0))))
      .contains(3L), "left edge through the point must exclude it")
    assert(!ids(Filter.mustAll(GeoBoundingBox("loc",
      topLeft = GeoPoint(-5.0, 48.86), bottomRight = GeoPoint(5.0, 45.0))))
      .contains(3L), "top edge through the point must exclude it")
    assert(ids(Filter.mustAll(GeoBoundingBox("loc",
      topLeft = GeoPoint(2.34, 55.0), bottomRight = GeoPoint(5.0, 45.0))))
      .contains(3L))
    // radius is strictly inside (`GeoRadius::check_point` `<`,
    // `types.rs:3443-3448`): the center point itself (distance 0) needs a
    // POSITIVE radius — radius 0 matches nothing
    assert(!ids(Filter.mustAll(GeoRadius("loc", GeoPoint(2.35, 48.86), 0.0)))
      .contains(3L), "distance-0 point must not match radius 0 (strict <)")
    assert(ids(Filter.mustAll(GeoRadius("loc", GeoPoint(2.35, 48.86), 1.0)))
      .contains(3L))
  }

  test("siphash-2-4 matches the reference vectors from the SipHash paper") {
    import graft.functions.SipHash24
    // key 000102...0f (k0/k1 little-endian), inputs 00..(n-1); expected
    // values are the canonical vectors_sip64 of the reference C impl
    val k0 = 0x0706050403020100L
    val k1 = 0x0f0e0d0c0b0a0908L
    def in(n: Int): Array[Byte] = Array.tabulate(n)(_.toByte)
    assert(SipHash24.hash(k0, k1, in(0)) == 0x726fdb47dd0e0e31L)
    assert(SipHash24.hash(k0, k1, in(8)) == 0x93f5f5799a932462L)
    assert(SipHash24.hash(k0, k1, in(15)) == 0xa129ca6149be45e5L)
    // hashLe8 is the zero-key 8-LE-byte specialization
    for (x <- Seq(0L, 1L, 42L, -1L, Long.MaxValue, Long.MinValue)) {
      val bytes = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(x).array()
      assert(SipHash24.hashLe8(x) == SipHash24.hash(0L, 0L, bytes))
    }
  }

  test("slice condition: disjoint, covering, nested, matches driver-side hash") {
    import spark.implicits._
    import graft.functions.SipHash24
    val ids = (0L until 500L)
    // unsigned-mod semantics: slices partition the id space
    for (id <- ids) {
      val idx4 = (0 until 4).filter(i => SipHash24.inSlice(id, 4, i))
      assert(idx4.size == 1) // exactly one slice of 4
      // nesting: slice k of 4 is contained in slice (k % 2) of 2
      assert(SipHash24.inSlice(id, 2, idx4.head % 2))
    }
    val d = ids.toDF("id")
    val tr = new graft.filters.TypedResolver(d.schema, "id")
    val got = d.filter(new FilterCompiler(tr).compile(
        Filter.mustAll(SliceCond(total = 4, index = 1))))
      .select("id").collect().map(_.getLong(0)).toSet
    val expected = ids.filter(SipHash24.inSlice(_, 4, 1)).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < ids.size)
  }

  test("slice condition over UUID ids: 16-byte hash, disjoint, covering, nested") {
    import spark.implicits._
    import graft.functions.SipHash24
    // uuid arm of slice_point_id_hash: zero-key SipHash-2-4 over the 16
    // RFC 4122 bytes (types.rs:3893-3899)
    val zero = "00000000-0000-0000-0000-000000000000"
    assert(SipHash24.sliceIndexUuid(zero, 7) ==
      java.lang.Long.remainderUnsigned(
        SipHash24.hash(0L, 0L, new Array[Byte](16)), 7L))
    val uuids = (0L until 300L).map(graft.queries.UuidQueries.uuidOfLong)
    for (u <- uuids) {
      // byte round-trip and hash consistency with the general-array path
      assert(SipHash24.uuidBytes(u).length == 16)
      assert(SipHash24.sliceIndexUuid(u, 4) ==
        java.lang.Long.remainderUnsigned(SipHash24.hash(0L, 0L, SipHash24.uuidBytes(u)), 4L))
      val idx4 = (0 until 4).filter(i => SipHash24.sliceIndexUuid(u, 4) == i.toLong)
      assert(idx4.size == 1) // exactly one slice of 4
      // nesting: slice k of 4 ⊆ slice (k % 2) of 2
      assert(SipHash24.sliceIndexUuid(u, 2) == (idx4.head % 2).toLong)
    }
    // the codegen'd column expression dispatches on StringType
    val d = uuids.toDF("id")
    val tr = new graft.filters.TypedResolver(d.schema, "id")
    val got = d.filter(new FilterCompiler(tr).compile(
        Filter.mustAll(SliceCond(total = 4, index = 2))))
      .select("id").collect().map(_.getString(0)).toSet
    val expected = uuids.filter(u => SipHash24.sliceIndexUuid(u, 4) == 2L).toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < uuids.size)
  }

  test("slice hash of digit-string ids: full u64 NumId domain, no parse crash") {
    import graft.functions.SipHash24
    // a digit string hashes by its NumId VALUE (8 LE bytes), not its text —
    // the whole u64 domain, including 19-digit values above i64::MAX and
    // the 20-digit tail (stored decimal renderings of tail point ids)
    assert(SipHash24.sliceIndexUuid("7", 8) == SipHash24.sliceIndex(7L, 8))
    assert(SipHash24.sliceIndexUuid("9999999999999999999", 8) ==
      SipHash24.sliceIndex(java.lang.Long.parseUnsignedLong("9999999999999999999"), 8))
    assert(SipHash24.sliceIndexUuid("18446744073709551615", 8) ==
      SipHash24.sliceIndex(-1L, 8)) // u64 max == all-ones bit pattern
    // 20 digits BEYOND u64 max: not a NumId, and not a UUID either — loud
    // reject instead of a silent wrong slice
    intercept[IllegalArgumentException](
      SipHash24.sliceIndexUuid("18446744073709551616", 8))
  }

  test("geo condition on a typed non-struct field matches nothing, not an error") {
    import spark.implicits._
    // the reference only tests values that deserialize as GeoPoint
    // (GeoBoundingBox::check_point) — a geo condition against a string or
    // numeric column must compile to "no match", not an AnalysisException
    // on getField("lon")
    val d = Seq((1L, "berlin", 3.5), (2L, "rome", 4.5)).toDF("id", "city", "score")
    val tr = new graft.filters.TypedResolver(d.schema, "id")
    val fc = new FilterCompiler(tr)
    for (key <- Seq("city", "score", "missing")) {
      val got = d.filter(fc.compile(Filter.mustAll(
        GeoRadius(key, GeoPoint(13.4, 52.5), 1e6)))).count()
      assert(got == 0L, s"geo over non-geo field '$key'")
      // and under must_not the condition is false → everything passes
      val neg = d.filter(fc.compile(Filter(mustNot = Seq(
        GeoRadius(key, GeoPoint(13.4, 52.5), 1e6))))).count()
      assert(neg == 2L, s"must_not geo over non-geo field '$key'")
    }
  }

  test("slice/text conditions on typed columns still null-safe") {
    import spark.implicits._
    val d = Seq((1L, "hello world foo"), (2L, "bar baz")).toDF("id", "text")
    val tr = new graft.filters.TypedResolver(d.schema, "id")
    // unindexed Text is a raw substring test (condition_checker.rs:174):
    // the mid-word hit "world fo" ⊂ "hello world foo" matches
    val got = d.filter(new FilterCompiler(tr).compile(
      Filter.mustAll(MatchText("text", "world fo"))))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }
}
