package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.filters.TypedResolver
import graft.model._
import graft.ops.{Reads, Search}
import graft.pipeline.Dedup
import graft.sources.{CollectionConfig, VectorConfig}
import graft.storage.Collection

/** UUID point-id catalog — `ExtendedPointId::Uuid` parity
  * (ref `lib/segment/src/types.rs:174-196`): every read operator here runs
  * over a collection whose id column is a canonical hyphenated UUID string
  * instead of a Long.
  *
  * Canonical lowercase-hex UUID strings sort identically to their 128-bit
  * value (equal length, aligned hyphens), so keyset scroll order, knn id
  * tiebreaks and dedup keepers need no special casing — the same operators
  * run unchanged over either id type.
  *
  * The fixture derives a deterministic UUID-shaped id from the numeric id
  * (md5 hex grouped 8-4-4-4-12) so the DuckDB oracle can derive the
  * identical ids with the same expression.
  */
object UuidQueries {

  /** UUID-shaped string from any column, derived via md5 (deterministic and
    * reproducible in ANSI SQL). */
  def uuidOf(c: Column): Column = {
    val m = md5(c.cast("string"))
    concat_ws("-",
      substring(m, 1, 8), substring(m, 9, 4), substring(m, 13, 4),
      substring(m, 17, 4), substring(m, 21, 12))
  }

  /** Driver-side twin of [[uuidOf]] for building literal id sets. */
  def uuidOfLong(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20, 32)}"
  }

  /** SQL fragment computing [[uuidOf]] over column `c` (DuckDB). */
  private def uuidSql(c: String): String =
    s"concat_ws('-', substr(md5($c::VARCHAR),1,8), substr(md5($c::VARCHAR),9,4), " +
      s"substr(md5($c::VARCHAR),13,4), substr(md5($c::VARCHAR),17,4), " +
      s"substr(md5($c::VARCHAR),21,12))"

  private def embUuid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(uuidOf(col("vec_id")).as("id"), col("embedding"), col("label"))

  private def docsUuid(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(uuidOf(col("doc_id")).as("id"), col("text"), col("lang"),
        col("n_chars"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // filtered knn where HasId carries UUID literals and the id tiebreak is
    // the uuid string
    "knn_filtered_uuid" -> ((s, dir) => {
      val df = embUuid(s, dir)
      val q = Tables.embeddingOf(s, dir, 7L)
      val f = Filter(
        must = Seq(RangeCond("label", gte = Some(1))),
        mustNot = Seq(HasId(Seq(uuidOfLong(3L), uuidOfLong(7L)))))
      Search.knn(df, "id", "embedding", q, Dot,
        filter = Some(f), resolver = Some(new TypedResolver(df.schema, "id")),
        k = 10)
    }),
    // keyset scroll over the uuid id space, cursor mid-range — a CANONICAL
    // uuid cursor (a loose string is not a point id; the wire layer
    // rejects it at parse, PointId)
    "scroll_uuid" -> ((s, dir) => {
      val d = docsUuid(s, dir)
      Reads.scrollById(d, "id",
        Some(Filter.mustAll(MatchValue("lang", "en"))),
        new TypedResolver(d.schema, "id"),
        offsetId = Some(uuidOfLong(8L)), limit = 25,
        projection = Seq("id", "lang"))
    }),
    // UUID scroll leaf under RRF: the scroll's fusion contribution is LIST
    // POSITION (row_number over the leaf's own id order) — a uuid string
    // cast to double is NULL for every row, so value-based rank surrogates
    // cannot order this leaf; position can (`scroll.rs:131` + the
    // position-based `reciprocal_rank_fusion.rs`).
    "prefetch_rrf_uuid_scroll" -> ((s, dir) => {
      import graft.ops.PointQuery
      import graft.ops.PointQuery._
      val df = embUuid(s, dir)
      val q = Tables.embeddingOf(s, dir, 7L)
      val query = Query(
        scoring = FusionQ("rrf"),
        prefetches = Seq(
          Query(Nearest(Space("embedding", Dot), DenseVector(q)), limit = 15),
          Query(ScrollById, limit = 15)),
        limit = 10)
      PointQuery.execute(s, df, "id", new TypedResolver(df.schema, "id"), query)
    }),
    "retrieve_uuid" -> ((s, dir) =>
      Reads.retrieve(docsUuid(s, dir), "id",
        Seq(uuidOfLong(3L), uuidOfLong(5L), uuidOfLong(8L)),
        projection = Seq("id", "lang", "n_chars"))),
    // exact-dedup keeper over uuid ids: keeper = lexicographically lowest
    // uuid == lowest 128-bit id
    "dedup_keep_first_uuid" -> ((s, dir) =>
      Dedup.exactKeepFirst(docsUuid(s, dir), "id", "text")
        .select(col("id"), col("lang"))
        .orderBy(col("id"))),
    // Wire point-id FORMS (`ExtendedPointId` custom deserialize,
    // `types.rs:243-268` + the uuid crate's four `try_parse` syntaxes):
    // UPPERCASE hyphenated, simple (32 hex), `urn:uuid:` and braced forms
    // all parse to the SAME 128-bit id and round-trip as the canonical
    // lowercase hyphenated rendering on EVERY surface — upsert dedup,
    // retrieve, has_id filters, delete. A string-keeping engine treats
    // "ABC…" and "abc…" as different points; the reference (and this
    // parser) does not.
    "api_point_id_forms" -> ((s, dir) => {
      def u(n: Long): String = uuidOfLong(n)
      val cfg = CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 2, Dot)),
        payloadTypes = Map("tag" -> StringType))
      val schema = StructType(Seq(
        StructField("id", StringType),
        StructField("vector", ArrayType(FloatType)),
        StructField("payload", StringType)))
      val seed = java.util.Arrays.asList(
        Row(u(0), Array(1.0f, 0.0f), """{"tag":"seed"}"""))
      val coll = Collection.create(s, "/tmp/graft_runtime/pointid_forms",
        cfg, s.createDataFrame(seed, schema))
      graft.api.UpdateBridge.applyJson(coll,
        s"""{"operations": [
           |  {"upsert": {"points": [
           |    {"id": "${u(1).toUpperCase}", "vector": [0.1, 0.2],
           |     "payload": {"tag": "t1"}},
           |    {"id": "${u(2).replace("-", "")}", "vector": [0.3, 0.4],
           |     "payload": {"tag": "t2"}},
           |    {"id": "urn:uuid:${u(3)}", "vector": [0.5, 0.6],
           |     "payload": {"tag": "t3"}},
           |    {"id": "{${u(4)}}", "vector": [0.7, 0.8],
           |     "payload": {"tag": "t4"}}]}},
           |  {"delete": {"points": ["${u(4).toUpperCase.replace("-", "")}"]}},
           |  {"set_payload": {"payload": {"tag": "t2b"},
           |    "filter": {"must": [{"has_id": ["URN:UUID:${u(2).toUpperCase}"]}]}}}
           |]}""".stripMargin)
      val table = coll.read().select(lit("table").as("src"), col("id"),
        get_json_object(col("payload"), "$.tag").as("tag"))
      val ret = coll.retrievePoints(
        s"""{"ids": ["${u(1).replace("-", "")}", "${u(3).toUpperCase}"],
           |  "with_payload": true}""".stripMargin)
        .select(lit("retrieve").as("src"), col("id"),
          get_json_object(col("payload"), "$.tag").as("tag"))
      table.unionByName(ret).orderBy(col("src"), col("id"))
    }),
    // MIXED NumId+Uuid collection (`ExtendedPointId` lets both kinds
    // coexist — `tests/openapi/test_filter_slice.py` seeds half numeric /
    // half UUID ids): the first UUID write widens a numeric-id table's id
    // column to string INSIDE the upsert's own rewrite; numeric ids keep
    // their decimal rendering (never a valid UUID, so no collisions).
    // Scroll pages in `ExtendedPointId` order — every NumId before every
    // Uuid (`types.rs:174-179` derive(Ord)) — and retrieve / has_id /
    // slice / delete address both kinds.
    "api_upsert_mixed_ids" -> ((s, dir) => {
      val u7 = uuidOfLong(7L)
      val cfg = CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 2, Dot)),
        payloadTypes = Map("tag" -> StringType))
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("vector", ArrayType(FloatType)),
        StructField("payload", StringType)))
      val seed = java.util.Arrays.asList(
        Row(5L, Array(1.0f, 0.0f), """{"tag":"n5"}"""),
        Row(9L, Array(0.0f, 1.0f), """{"tag":"n9"}"""))
      val coll = Collection.create(s, "/tmp/graft_runtime/pointid_mixed",
        cfg, s.createDataFrame(seed, schema))
      graft.api.UpdateBridge.applyJson(coll,
        s"""{"operations": [
           |  {"upsert": {"points": [
           |    {"id": 2, "vector": [0.2, 0.2], "payload": {"tag": "n2"}},
           |    {"id": "${u7.toUpperCase}", "vector": [0.7, 0.7],
           |     "payload": {"tag": "u7"}},
           |    {"id": 3, "vector": [0.3, 0.3], "payload": {"tag": "n3"}}]}}
           |]}""".stripMargin)
      def ids(df: DataFrame): String =
        df.select("id").collect().map(_.getString(0)).mkString(",")
      val page1 = ids(coll.scroll("""{"limit": 3, "with_payload": false}"""))
      val page2 = ids(coll.scroll(
        """{"limit": 10, "offset": 9, "with_payload": false}"""))
      // retrieve addresses both kinds (simple-form uuid canonicalizes);
      // render numeric-first like the id order
      val retRaw = coll.retrievePoints(
        s"""{"ids": [3, "${u7.replace("-", "")}"]}""")
        .select("id").collect().map(_.getString(0)).toSeq
      val (nums, uus) = retRaw.partition(_.forall(_.isDigit))
      val ret = (nums.map(_.toLong).sorted.map(_.toString) ++ uus.sorted)
        .mkString(",")
      def cnt(json: String): Long =
        coll.count(json).collect()(0).getLong(0)
      val hasId = cnt(s"""{"filter": {"must": [{"has_id": [2, "$u7"]}]}}""")
      // slice total=2 must PARTITION the mixed id space (disjoint + cover:
      // the two counts sum to the table size), each id hashing by its
      // ExtendedPointId KIND — "2" as NumId le-bytes, u7 as uuid bytes
      val sliceSum =
        cnt("""{"filter": {"must": [{"slice": {"total": 2, "index": 0}}]}}""") +
        cnt("""{"filter": {"must": [{"slice": {"total": 2, "index": 1}}]}}""")
      graft.api.UpdateBridge.applyJson(coll,
        """{"operations": [{"delete": {"points": [2]}}]}""")
      val after = cnt("{}")
      import s.implicits._
      Seq(
        ("after_delete_count", after.toString),
        ("has_id_count", hasId.toString),
        ("page1", page1),
        ("page2", page2),
        ("retrieve", ret),
        ("slice_cover", sliceSum.toString)
      ).toDF("check_name", "value").orderBy("check_name")
    }),
    // `GET /points/{id}` — the single-point read (`retrieve_api.rs:
    // 75-130`): the PATH id is `FromStr` (u64 first, so digit strings ARE
    // numeric ids here — the opposite of JSON-body ids), any uuid syntax
    // canonicalizes, payload AND vectors come back by default, and a
    // missing id raises the reference's exact (typo'd) 404
    // ("Point with id 999 does not exists!", `retrieve_api.rs:124`).
    "api_get_point" -> ((s, dir) => {
      import s.implicits._
      val u7 = uuidOfLong(7L)
      val cfg = CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 2, Dot)),
        payloadTypes = Map("tag" -> StringType))
      val schema = StructType(Seq(
        StructField("id", StringType),
        StructField("vector", ArrayType(FloatType)),
        StructField("payload", StringType)))
      val seed = java.util.Arrays.asList(
        Row("3", Array(0.3f, 0.3f), """{"tag":"n3"}"""),
        Row("18446744073709551615", Array(0.9f, 0.9f), """{"tag":"t20"}"""),
        Row(u7, Array(0.7f, 0.7f), """{"tag":"u7"}"""))
      val coll = Collection.create(s, "/tmp/graft_runtime/get_point",
        cfg, s.createDataFrame(seed, schema))
      def got(raw: String): String = {
        val r = coll.getPoint(raw).select(col("id"),
          get_json_object(col("payload"), "$.tag"),
          round(element_at(col("vector"), 1).cast("double"), 1)).collect()(0)
        s"${r.getString(0)}|${r.getString(1)}|${r.getDouble(2)}"
      }
      def errOf(raw: String): String =
        try { got(raw); "no-error" }
        catch { case ex: IllegalArgumentException => ex.getMessage }
      Seq(
        ("digit_path_is_numeric", got("3")),
        ("uuid_uppercase", got(u7.toUpperCase)),
        ("uuid_simple_form", got(u7.replace("-", ""))),
        ("missing_404", errOf("999")),
        ("loose_string_rejects", errOf("not-an-id").takeWhile(_ != ',')),
        // u64 tail [2^63, 2^64): full NumId domain — a live tail id
        // retrieves, a dead one 404s with its decimal rendering; only
        // BEYOND u64 gets the numeric-RANGE reject (never the UUID one,
        // even at 21+ digits)
        ("u64_tail_19_digits", errOf("9300000000000000000")),
        ("u64_tail_20_digits", got("18446744073709551615")),
        ("digits_21_range_reject", errOf("100000000000000000000")))
        .toDF("check_name", "value").orderBy("check_name")
    }),
    // u64 TAIL ids `[2^63, 2^64)` (`ExtendedPointId::NumId(u64)`,
    // `types.rs:174-179`): a wire upsert of id 2^64−1 onto a NUMERIC-id
    // collection rides the mixed-id widening — the tail stores as its
    // decimal rendering and ORDERS as a NumId (after every i64 id,
    // before every UUID — `derive(Ord)` NumId-before-Uuid), retrieves by
    // id, counts under has_id, single-point GETs, and deletes; only
    // BEYOND u64 rejects at parse (serde's u64 arm).
    "api_upsert_u64_tail" -> ((s, dir) => {
      import s.implicits._
      val u7 = uuidOfLong(7L)
      val tail = "18446744073709551615" // u64 max
      val cfg = CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 2, Dot)),
        payloadTypes = Map("tag" -> StringType))
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("vector", ArrayType(FloatType)),
        StructField("payload", StringType)))
      val seed = java.util.Arrays.asList(
        Row(5L, Array(1.0f, 0.0f), """{"tag":"n5"}"""),
        Row(9223372036854775807L, Array(0.0f, 1.0f), """{"tag":"imax"}"""))
      val coll = Collection.create(s, "/tmp/graft_runtime/pointid_u64tail",
        cfg, s.createDataFrame(seed, schema))
      graft.api.UpdateBridge.applyJson(coll,
        s"""{"operations": [{"upsert": {"points": [
           |  {"id": $tail, "vector": [0.9, 0.9], "payload": {"tag": "t20"}},
           |  {"id": "$u7", "vector": [0.7, 0.7], "payload": {"tag": "u7"}},
           |  {"id": 3, "vector": [0.3, 0.3], "payload": {"tag": "n3"}}
           |]}}]}""".stripMargin)
      // NumId total order: 3 < 5 < i64::MAX < the tail < every UUID
      val page = coll.scroll("""{"limit": 10, "with_payload": false}""")
        .select("id").collect().map(_.getString(0)).mkString(",")
      val ret = coll.retrievePoints(s"""{"ids": [$tail], "with_payload": true}""")
        .select(concat_ws("|", col("id"),
          get_json_object(col("payload"), "$.tag"))).collect()
        .map(_.getString(0)).mkString(",")
      val single = {
        val r = coll.getPoint(tail).select(col("id"),
          get_json_object(col("payload"), "$.tag")).collect()(0)
        s"${r.getString(0)}|${r.getString(1)}"
      }
      val hasId = coll.count(
        s"""{"filter": {"must": [{"has_id": [$tail, 5]}]}}""")
        .collect()(0).getLong(0)
      val overflow =
        try {
          graft.api.UpdateBridge.applyJson(coll,
            """{"operations": [{"upsert": {"points": [
              |  {"id": 18446744073709551616, "vector": [0.1, 0.1]}]}}]}""".stripMargin)
          "no-error"
        } catch { case ex: IllegalArgumentException => ex.getMessage }
      graft.api.UpdateBridge.applyJson(coll,
        s"""{"operations": [{"delete": {"points": [$tail]}}]}""")
      val after = coll.count("{}").collect()(0).getLong(0)
      Seq(
        ("after_delete_count", after.toString),
        ("has_id_count", hasId.toString),
        ("over_u64_rejects", overflow),
        ("retrieve", ret),
        ("scroll_order", page),
        ("single_get", single)
      ).toDF("check_name", "value").orderBy("check_name")
    }),
    // facet over a uuid-typed payload field (`FacetValue::Uuid`,
    // `lib/segment/src/data_types/facets.rs:33-38,87`): uuid values group,
    // count and tie-break like keywords — canonical lowercase-hex order
    // equals the 128-bit order the reference buckets on.
    "facet_uuid" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          uuidOf(pmod(col("doc_id"), lit(7))).as("owner"))
      Reads.facet(d, "doc_id", "owner",
        Some(Filter.mustAll(MatchValue("lang", "en"))),
        new TypedResolver(d.schema, "doc_id"), limit = 5)
    }),
  )

  val oracles: Map[String, String] = Map(
    "prefetch_rrf_uuid_scroll" ->
      s"""WITH ids AS (SELECT ${uuidSql("vec_id")} AS id, embedding FROM embeddings),
        |q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |a AS (SELECT i.id, round(list_dot_product(i.embedding::DOUBLE[], q.v), 6) AS s
        |      FROM ids i, q ORDER BY s DESC, id ASC LIMIT 15),
        |ar AS (SELECT id, row_number() OVER (ORDER BY s DESC, id ASC) AS pos FROM a),
        |b AS (SELECT id FROM ids ORDER BY id ASC LIMIT 15),
        |br AS (SELECT id, row_number() OVER (ORDER BY id ASC) AS pos FROM b),
        |u AS (SELECT id, 1.0/(pos + 1.0) AS c FROM ar
        |      UNION ALL SELECT id, 1.0/(pos + 1.0) AS c FROM br)
        |SELECT id, round(sum(c), 6) AS score FROM u GROUP BY id
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin,
    "knn_filtered_uuid" ->
      s"""WITH u AS (SELECT ${uuidSql("vec_id")} AS id, embedding, label, vec_id
        |           FROM embeddings),
        |q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT u.id AS id,
        |       round(list_dot_product(u.embedding::DOUBLE[], q.v), 6) AS score
        |FROM u, q
        |WHERE u.label >= 1 AND u.vec_id NOT IN (3, 7)
        |ORDER BY score DESC, id ASC LIMIT 10""".stripMargin,
    "scroll_uuid" ->
      s"""SELECT id, lang FROM
        |  (SELECT ${uuidSql("doc_id")} AS id, lang FROM documents)
        |WHERE lang = 'en' AND id >= ${uuidSql("8")}
        |ORDER BY id ASC LIMIT 25""".stripMargin,
    "retrieve_uuid" ->
      s"""SELECT id, lang, n_chars FROM
        |  (SELECT ${uuidSql("doc_id")} AS id, lang, n_chars FROM documents)
        |WHERE id IN (SELECT ${uuidSql("doc_id")} FROM documents
        |             WHERE doc_id IN (3, 5, 8))
        |ORDER BY id ASC""".stripMargin,
    "dedup_keep_first_uuid" ->
      s"""SELECT id, lang FROM (
        |  SELECT ${uuidSql("doc_id")} AS id, lang,
        |    row_number() OVER (PARTITION BY md5(text)
        |                       ORDER BY ${uuidSql("doc_id")} ASC) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY id ASC""".stripMargin,
    "facet_uuid" ->
      s"""SELECT v AS value, count(DISTINCT doc_id)::BIGINT AS cnt FROM (
        |  SELECT doc_id, ${uuidSql("(doc_id % 7)")} AS v
        |  FROM documents WHERE lang = 'en')
        |GROUP BY v ORDER BY cnt DESC, v ASC LIMIT 5""".stripMargin,
    // every wire form canonicalizes: table = seed(0) + t1(1) + t2b(2) +
    // t3(3), id 4 deleted via its simple-uppercase form; retrieve via
    // simple(1)/uppercase(3) returns canonical ids
    "api_point_id_forms" ->
      s"""SELECT * FROM (VALUES
        |  ('retrieve', ${uuidSql("1")}, 't1'),
        |  ('retrieve', ${uuidSql("3")}, 't3'),
        |  ('table', ${uuidSql("0")}, 'seed'),
        |  ('table', ${uuidSql("1")}, 't1'),
        |  ('table', ${uuidSql("2")}, 't2b'),
        |  ('table', ${uuidSql("3")}, 't3'))
        |AS t(src, id, tag) ORDER BY src, id""".stripMargin,
    // path-id FromStr: digit string numeric, uuid forms canonicalize,
    // missing 404s with the reference's exact message, junk rejects
    "api_get_point" ->
      s"""SELECT * FROM (VALUES
        |  ('digit_path_is_numeric', '3|n3|0.3'),
        |  ('digits_21_range_reject',
        |   'Bad request: point id 100000000000000000000 ' ||
        |   'exceeds the supported id range (0..2^64-1)'),
        |  ('loose_string_rejects',
        |   'Format error in JSON body: value not-an-id is not a valid point ID'),
        |  ('missing_404', 'Not found: Point with id 999 does not exists!'),
        |  ('u64_tail_19_digits', 'Not found: Point with id ' ||
        |   '9300000000000000000 does not exists!'),
        |  ('u64_tail_20_digits', '18446744073709551615|t20|0.9'),
        |  ('uuid_simple_form', ${uuidSql("7")} || '|u7|0.7'),
        |  ('uuid_uppercase', ${uuidSql("7")} || '|u7|0.7'))
        |AS t(check_name, value) ORDER BY check_name""".stripMargin,
    // table {3, 5, i64max, u64max-tail, uuid(7)}: scroll in NumId-then-
    // Uuid order with the tail past i64::MAX; tail retrieve/GET/has_id/
    // delete all address it; beyond-u64 rejects with the range message
    "api_upsert_u64_tail" ->
      s"""SELECT * FROM (VALUES
        |  ('after_delete_count', '4'),
        |  ('has_id_count', '2'),
        |  ('over_u64_rejects', 'Bad request: point id 18446744073709551616 ' ||
        |   'exceeds the supported id range (0..2^64-1)'),
        |  ('retrieve', '18446744073709551615|t20'),
        |  ('scroll_order', '3,5,9223372036854775807,18446744073709551615,' ||
        |   ${uuidSql("7")}),
        |  ('single_get', '18446744073709551615|t20'))
        |AS t(check_name, value) ORDER BY check_name""".stripMargin,
    // ids {2,3,5,9,uuid(7)}: scroll order numerics-first (page1 = 2,3,5;
    // page2 from offset 9 = 9 then the uuid), retrieve/has_id/slice
    // address both kinds, delete 2 leaves 4 points
    "api_upsert_mixed_ids" ->
      s"""SELECT * FROM (VALUES
        |  ('after_delete_count', '4'),
        |  ('has_id_count', '2'),
        |  ('page1', '2,3,5'),
        |  ('page2', '9,' || ${uuidSql("7")}),
        |  ('retrieve', '3,' || ${uuidSql("7")}),
        |  ('slice_cover', '5'))
        |AS t(check_name, value) ORDER BY check_name""".stripMargin,
  )
}
