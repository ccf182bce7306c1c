package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.index.SparseIndex

/** Sparse scoring / BM25 / IDF catalog (SURVEY.md §2.3 sparse + IDF
  * modifier; `lib/bm25` embedding). Postings derive from `documents.text`
  * term frequencies — the bulk inverted-index layout. */
object SparseQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Sparse vector derived from a dense one: dims with value > thr, 0-based
    * sorted indices (`SparseVector` invariants, `sparse_vector.rs:17-22`) —
    * a deterministic derivation the DuckDB oracle reproduces positionally. */
  private def sparseFromDense(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(
      filter(transform(v, (x, i) =>
        when(x.cast("double") > lit(0.25d), i).otherwise(lit(-1))),
        x => x =!= lit(-1)).as("indices"),
      filter(v, x => x.cast("double") > lit(0.25d)).as("values"))

  /** Driver-side twin of [[sparseFromDense]] for query vectors. */
  private def sparseQ(s: SparkSession, dir: String, id: Long): (Seq[Long], Seq[Double]) = {
    val pairs = Tables.embeddingOf(s, dir, id).zipWithIndex.filter(_._1 > 0.25)
    (pairs.map(_._2.toLong), pairs.map(_._1))
  }

  /** Collection with two sparse named vectors over the same derived content
    * — "txt" raw, "txtidf" with the IDF modifier — plus the dense column
    * and label for hybrid/filtered entries. Ingest-once per JVM. */
  private val sparseCollections =
    new java.util.concurrent.ConcurrentHashMap[String, graft.storage.Collection]()
  private def sparseColl(s: SparkSession, dir: String): graft.storage.Collection =
    sparseCollections.computeIfAbsent(
      "/tmp/graft_runtime/sparse_" + dir.replaceAll("[^A-Za-z0-9]", "_"), { path =>
        import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
        val cfg = CollectionConfig(idCol = "vec_id",
          vectors = Seq(VectorConfig("", 64, graft.model.Dot)),
          sparse = Seq(SparseVectorConfig("txt"),
            SparseVectorConfig("txtidf", modifier = Some("idf"))))
        val e = Tables.load(s, dir, "embeddings")
        graft.storage.Collection.create(s, path, cfg,
          e.select(col("vec_id"), col("embedding").as("vector"),
            sparseFromDense(col("embedding")).as("sparse_txt"),
            sparseFromDense(col("embedding")).as("sparse_txtidf"),
            col("label")))
      })

  /** Dense + idf-modified AND plain sparse spaces + JSON payload (`label`)
    * — the corpus-IDF fixture (`params.idf.corpus` filters resolve against
    * the payload; the dense and plain-sparse spaces are the rejection
    * arms). Its own path: the shared sparseColl has no payload column. */
  private def corpusColl(s: SparkSession, dir: String): graft.storage.Collection =
    sparseCollections.computeIfAbsent(
      "/tmp/graft_runtime/sparsecorpus_" + dir.replaceAll("[^A-Za-z0-9]", "_"), { path =>
        import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
        val cfg = CollectionConfig(idCol = "vec_id",
          vectors = Seq(VectorConfig("", 64, graft.model.Dot)),
          sparse = Seq(SparseVectorConfig("txt"),
            SparseVectorConfig("txtidf", modifier = Some("idf"))),
          payloadTypes = Map("label" -> org.apache.spark.sql.types.LongType))
        val e = Tables.load(s, dir, "embeddings")
        graft.storage.Collection.create(s, path, cfg,
          e.select(col("vec_id"), col("embedding").as("vector"),
            sparseFromDense(col("embedding")).as("sparse_txt"),
            sparseFromDense(col("embedding")).as("sparse_txtidf"),
            to_json(struct(col("label"))).as("payload")))
      })

  /** Dense + sparse + JSON payload (`label`) in one collection — the
    * fixture for group-by entries that need sparse `with_vector`
    * enrichment on grouped hits. */
  private def hybridColl(s: SparkSession, dir: String): graft.storage.Collection =
    sparseCollections.computeIfAbsent(
      "/tmp/graft_runtime/hybrid_" + dir.replaceAll("[^A-Za-z0-9]", "_"), { path =>
        import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
        val cfg = CollectionConfig(idCol = "vec_id",
          vectors = Seq(VectorConfig("", 64, graft.model.Dot)),
          sparse = Seq(SparseVectorConfig("txt")),
          payloadTypes = Map("label" -> org.apache.spark.sql.types.LongType))
        val e = Tables.load(s, dir, "embeddings")
        graft.storage.Collection.create(s, path, cfg,
          e.select(col("vec_id"), col("embedding").as("vector"),
            sparseFromDense(col("embedding")).as("sparse_txt"),
            to_json(struct(col("label"))).as("payload")))
      })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sparse_dot_tokens" -> ((s, dir) => {
      import s.implicits._
      // dim filter pushes below the TF aggregate into the explode stage:
      // only query-term postings are ever counted or shuffled
      val post = SparseIndex.postingsFromTokens(docs(s, dir), "doc_id", "text")
        .filter(col("dim").isin("spark", "vector", "the"))
      val q = Seq(("spark", 1.0), ("vector", 2.0), ("the", 0.5)).toDF("dim", "qw")
      SparseIndex.search(post, "doc_id", q, idf = None, k = 10)
    }),
    "bm25_idf_search" -> ((s, dir) =>
      SparseIndex.bm25SearchText(docs(s, dir), "doc_id", "text",
        queryTerms = Seq(("spark", 1.0), ("vector", 1.0)),
        k1 = 1.2, b = 0.75, k = 10)),
    // IDF corpus scoping (`params.idf.corpus`, ref query_context.rs:278-300
    // + types.rs:701-748): N, avgdl and document frequencies come from the
    // FILTERED corpus, not the whole collection
    "bm25_corpus_scoped" -> ((s, dir) =>
      SparseIndex.bm25SearchText(
        docs(s, dir).filter(col("lang") === "en"), "doc_id", "text",
        queryTerms = Seq(("spark", 1.0), ("data", 1.0)),
        k1 = 1.2, b = 0.75, k = 10)),
    // True sparse NAMED-VECTOR storage (struct<indices, values> column per
    // `SparseVector`, `sparse_vector.rs:17-22`): config-routed dot over
    // intersecting dims, only points sharing ≥ 1 query dim.
    "sparse_struct_knn" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      sparseColl(s, dir).knnSparse("txt", qi, qv, k = 10)
    }),
    // IDF modifier on a sparse named vector (`SparseVectorDataConfig
    // .modifier`, `types.rs:2275`; weighting `query_context.rs:278-300`):
    // query weights × ln((N − df + 0.5)/(df + 0.5) + 1) over the collection.
    "sparse_struct_idf" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      sparseColl(s, dir).knnSparse("txtidf", qi, qv, k = 10)
    }),
    // By-id NEAREST over a sparse `using` space — the reference's own test
    // requires `{"query": 7, "using": "sparse-text"}` to succeed
    // (`tests/openapi/test_query_full.py:1411-1421`, the r11-confirmed
    // rejection bug): both the bare-id and `nearest: <id>` wire forms
    // resolve the example's stored sparse vector and score the intersect
    // dot — identical rows to `sparse_struct_knn`, tagged per form.
    "api_query_nearest_sparse_id" -> ((s, dir) => {
      val bare = sparseColl(s, dir).query(
        """{"query": 7, "using": "txt", "limit": 10}""")
        .withColumn("form", lit("bare_id"))
      val tagged = sparseColl(s, dir).query(
        """{"query": {"nearest": 7}, "using": "txt", "limit": 10}""")
        .withColumn("form", lit("nearest_obj"))
      bare.unionByName(tagged)
    }),
    // MMR over a sparse `using` with a BY-ID root (the reference's MMR is
    // vector-kind-agnostic, `lib/shard/src/query/mmr/mod.rs:42-170`): the
    // greedy loop is not SQL-expressible, so the entry verifies the full
    // selection order against an INDEPENDENT driver-side greedy loop over
    // sparse vectors derived straight from the parquet embeddings, and
    // emits a one-row contract the oracle asserts.
    "api_query_mmr_sparse" -> ((s, dir) => {
      import s.implicits._
      val res = sparseColl(s, dir).query(
        """{"query": {"nearest": 7,
          |  "mmr": {"diversity": 0.5, "candidates_limit": 25}},
          |  "using": "txt", "limit": 8}""".stripMargin)
        .orderBy(col("position")).collect()
      // independent oracle: derive every sparse vector from the raw
      // embeddings parquet, score vs point 7, take top-25 (score desc, id
      // asc), greedy-select λ=0.5 over exact sparse dots
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).toArray.map(_.toDouble).zipWithIndex
            .filter(_._1 > 0.25).map { case (v, i) => (i, v) })
        .toMap
      def dot(a: Array[(Int, Double)], b: Array[(Int, Double)]): Double = {
        val bm = b.toMap
        a.foldLeft(0.0) { case (acc, (i, v)) => acc + v * bm.getOrElse(i, 0.0) }
      }
      val q = e(7L)
      // the by-id example is excluded from the candidate fetch (ref
      // `collection_query.rs:701-705`): the greedy derivation drops id 7
      // like the engine's injected must_not HasId(7) does
      val cands = e.toSeq
        .filter { case (id, _) => id != 7L }
        .map { case (id, v) => (id, dot(v, q)) }
        .filter { case (id, _) => e(id).exists(p => q.exists(_._1 == p._1)) }
        .map { case (id, sc) =>
          (id, BigDecimal(sc).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, sc) => (-sc, id) }.take(25)
      val vecs = cands.map { case (id, _) => e(id) }
      // greedy relevance is the RAW dot (the engine recomputes unrounded
      // sims inside the rerank; only the returned score column is rounded)
      val rel = vecs.map(v => dot(v, q))
      val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
      val rem = scala.collection.mutable.LinkedHashSet(cands.indices: _*)
      val first = rem.maxBy(i => rel(i))
      sel += first; rem -= first
      while (sel.length < 8 && rem.nonEmpty) {
        val best = rem.maxBy { c =>
          0.5 * rel(c) - 0.5 * sel.map(sl => dot(vecs(c), vecs(sl))).max
        }
        sel += best; rem -= best
      }
      val expectIds = sel.map(i => cands(i)._1).toSeq
      val gotIds = res.map(_.getLong(0)).toSeq
      Seq((res.length, gotIds == expectIds,
        res.map(_.getInt(2)).toSeq == (1 to res.length)))
        .toDF("n", "ids_match_greedy", "positions_ok")
    }),
    // Referenced-id EXCLUSION (`exclude_referenced_ids`,
    // `collection_query.rs:523-531`, applied at `:701-705`; asserted by
    // `test_query_full.py:146-160` — "id 2 is excluded"): every query whose
    // vector inputs name points of the searched collection merges
    // `must_not HasId(referenced ids)` into the filter — root AND nested
    // prefetch ids, dense AND sparse, every scoring family. Each arm runs
    // the wire body and asserts the example ids are ABSENT from the
    // results (and that the page still fills from the remaining points).
    "api_query_by_id_excludes_self" -> ((s, dir) => {
      import s.implicits._
      val coll = sparseColl(s, dir)
      def arm(name: String, json: String, ids: Set[Long]): (String, Boolean, Long) = {
        val got = coll.query(json).collect().map(_.getLong(0)).toSeq
        (name, got.forall(id => !ids.contains(id)), got.length.toLong)
      }
      Seq(
        arm("bare_id_dense", """{"query": 7, "limit": 10}""", Set(7L)),
        arm("nearest_obj_dense",
          """{"query": {"nearest": 7}, "limit": 10}""", Set(7L)),
        arm("recommend_dense",
          """{"query": {"recommend": {"positive": [1, 2], "negative": [4]}},
            |  "limit": 10}""".stripMargin, Set(1L, 2L, 4L)),
        arm("discover_dense",
          """{"query": {"discover": {"target": 5,
            |  "context": [{"positive": 10, "negative": 20}]}},
            |  "limit": 10}""".stripMargin, Set(5L, 10L, 20L)),
        arm("context_dense",
          """{"query": {"context": [{"positive": 10, "negative": 20}]},
            |  "limit": 10}""".stripMargin, Set(10L, 20L)),
        arm("mmr_dense",
          """{"query": {"nearest": 7,
            |  "mmr": {"diversity": 0.5, "candidates_limit": 30}},
            |  "limit": 10}""".stripMargin, Set(7L)),
        // nested prefetch ids are collected too — BOTH 7 and 42 vanish
        // from the fused result (the injected must_not rides the root
        // filter, which propagates into every prefetch leaf)
        arm("prefetch_nested",
          """{"prefetch": [
            |    {"query": {"nearest": 7}, "limit": 20},
            |    {"query": {"nearest": 42}, "limit": 20}],
            |  "query": {"rrf": {}}, "limit": 20}""".stripMargin, Set(7L, 42L)),
        arm("bare_id_sparse",
          """{"query": 7, "using": "txt", "limit": 10}""", Set(7L)),
        arm("recommend_sparse",
          """{"query": {"recommend": {"positive": [7, 11]}},
            |  "using": "txt", "limit": 10}""".stripMargin, Set(7L, 11L)))
        .toDF("arm", "examples_absent", "n")
    }),
    // By-id resolution failure parity (`test_query_full.py:1428-1444`,
    // issue #5208 panic regression): a missing POINT raises the
    // reference's "No point with id .. found" (`types.rs:913`), a present
    // point lacking the `using` vector raises the `vector_not_found_error`
    // shape (`collection_query.rs:395-397`) — dense and sparse arms, never
    // a NoSuchElement/NPE crash.
    "api_query_by_id_errors" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
      val path = "/tmp/graft_runtime/err_resolve_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val cfg = CollectionConfig(idCol = "vec_id",
        vectors = Seq(VectorConfig("", 64, graft.model.Dot)),
        sparse = Seq(SparseVectorConfig("txt")))
      val e = Tables.load(s, dir, "embeddings")
      // every 5th point lacks BOTH the default dense and the sparse vector
      val coll = graft.storage.Collection.create(s, path, cfg,
        e.select(col("vec_id"),
          when(col("vec_id") % 5 =!= 0, col("embedding")).as("vector"),
          when(col("vec_id") % 5 =!= 0, sparseFromDense(col("embedding")))
            .as("sparse_txt")))
      def check(json: String, expect: String): (Boolean, Boolean) =
        try { coll.query(json); (false, false) }
        catch {
          case ex: IllegalArgumentException =>
            (true, Option(ex.getMessage).exists(_.contains(expect)))
        }
      val rows = Seq(
        ("missing_point_dense",
          check("""{"query": 99999999, "limit": 3}""", "No point with id")),
        ("missing_point_sparse",
          check("""{"query": 99999999, "using": "txt", "limit": 3}""",
            "No point with id")),
        ("missing_vector_dense",
          check("""{"query": 5, "limit": 3}""", "Vector with name")),
        ("missing_vector_sparse",
          check("""{"query": 5, "using": "txt", "limit": 3}""",
            "Vector with name")),
        ("present_ok",
          // the happy arm must NOT reject (row-parity with the catalog's
          // nearest entries is pinned elsewhere; here only the gate)
          check("""{"query": 7, "using": "txt", "limit": 3}""", "")),
        // relevance-feedback wire validations (`test_relevance_feedback.py`)
        ("feedback_empty", {
          val t = Seq.fill(64)("0.1").mkString(",")
          check(s"""{"query": {"relevance_feedback": {"target": [$t],
             |  "feedback": [],
             |  "strategy": {"naive": {"a": 1.0, "b": 1.0, "c": 1.0}}}},
             |  "limit": 3}""".stripMargin,
            "feedback elements must be non-empty")
        }),
        ("feedback_negative_b", {
          val t = Seq.fill(64)("0.1").mkString(",")
          check(s"""{"query": {"relevance_feedback": {"target": [$t],
             |  "feedback": [{"example": 7, "score": 0.85}],
             |  "strategy": {"naive": {"a": 0.12, "b": -1.0, "c": 0.99}}}},
             |  "limit": 3}""".stripMargin,
            "naive.b: value -1.0 invalid, must be 0.0 or larger")
        }),
        ("feedback_missing_example", {
          val t = Seq.fill(64)("0.1").mkString(",")
          check(s"""{"query": {"relevance_feedback": {"target": [$t],
             |  "feedback": [{"example": 10000000, "score": 0.85}],
             |  "strategy": {"naive": {"a": 0.12, "b": 1.25, "c": 0.99}}}},
             |  "limit": 3}""".stripMargin,
            "No point with id")
        }),
        // invalid geo_polygon rings reject at parse
        // (`test_geo_filter.py::test_geo_polygon_invalid`)
        ("geo_polygon_unclosed",
          check("""{"query": 7, "limit": 3, "filter": {"must": [
            |  {"key": "loc", "geo_polygon": {"exterior": {"points": [
            |    {"lon": -180.0, "lat": -90.0}, {"lon": 180.0, "lat": -90.0},
            |    {"lon": 180.0, "lat": 90.0}, {"lon": -180.0, "lat": 90.0}
            |  ]}}}]}}""".stripMargin, "must be closed")),
        ("geo_polygon_short",
          check("""{"query": 7, "limit": 3, "filter": {"must": [
            |  {"key": "loc", "geo_polygon": {"exterior": {"points": [
            |    {"lon": -180.0, "lat": -90.0}, {"lon": 180.0, "lat": -90.0},
            |    {"lon": -180.0, "lat": -90.0}
            |  ]}}}]}}""".stripMargin, "at least 4 points")),
        // a recommend with NO examples is a 422 validation error before
        // any id resolution (`validate.rs:67-75`,
        // `test_recommend.py::test_without_positives`) — dense AND sparse
        ("recommend_no_examples_dense",
          check("""{"query": {"recommend": {}}, "limit": 3}""",
            "At least one positive or negative vector/id must be provided")),
        ("recommend_no_examples_sparse",
          check("""{"query": {"recommend": {"positive": []}},
            |  "using": "txt", "limit": 3}""".stripMargin,
            "At least one positive or negative vector/id must be provided")),
        // fusion×using is rejected at EVERY node and a fusion/formula root
        // with nothing to fuse is a validation error, not an empty result
        // (`collection_query.rs:769-776`, `planned_query.rs:400-421`)
        ("fusion_with_using",
          check("""{"prefetch": [{"query": 7, "limit": 5}],
            |  "query": {"fusion": "rrf"}, "using": "txt", "limit": 3}""".stripMargin,
            "Fusion queries cannot be combined with the 'using' field.")),
        ("fusion_without_prefetch",
          check("""{"query": {"fusion": "rrf"}, "limit": 3}""",
            "cannot apply Fusion without prefetches")),
        ("formula_without_prefetch",
          check("""{"query": {"formula": "$score"}, "limit": 3}""",
            "cannot apply Formula without prefetches")),
        // a loose string is not a point id (`ExtendedPointId` deserialize,
        // `types.rs:243-268`)
        ("invalid_point_id",
          check("""{"query": "not-a-uuid", "limit": 3}""",
            "is not a valid point ID")),
        // `params.hnsw_ef` is a positive beam size (`types.rs:573-618`
        // validate range(min=1); `test_validation.py:58-73`)
        ("hnsw_ef_zero",
          check("""{"query": 7, "limit": 3, "params": {"hnsw_ef": 0}}""",
            "hnsw_ef")),
        // `limit`/`group_size` are `1..` on every read body
        // (`#[validate(range(min = 1))]`, `schema.rs:596,802,1148,1235`)
        ("query_limit_zero",
          check("""{"query": 7, "limit": 0}""", "must be 1 or larger")),
        ("prefetch_limit_zero",
          check("""{"prefetch": [{"query": 7, "limit": 0}],
            |  "query": {"fusion": "rrf"}, "limit": 3}""".stripMargin,
            "must be 1 or larger")),
        ("scroll_limit_zero", {
          try { coll.scroll("""{"limit": 0}"""); (false, false) }
          catch { case ex: IllegalArgumentException =>
            (true, ex.getMessage.contains("must be 1 or larger")) }
        }),
        ("facet_limit_zero", {
          try { coll.facet("""{"key": "vec_id", "limit": 0}"""); (false, false) }
          catch { case ex: IllegalArgumentException =>
            (true, ex.getMessage.contains("must be 1 or larger")) }
        }),
        ("group_size_zero", {
          try { coll.queryGroups(
            """{"query": 7, "group_by": "vec_id", "group_size": 0,
              |  "limit": 3}""".stripMargin); (false, false) }
          catch { case ex: IllegalArgumentException =>
            (true, ex.getMessage.contains("must be 1 or larger")) }
        }))
      rows.map { case (name, (rejected, msgOk)) => (name, rejected, msgOk) }
        .toDF("check_name", "rejected", "msg_ok")
    }),
    // Wire-level recommend over a SPARSE `using` space with BY-ID
    // examples: each id resolves to its stored sparse vector from that
    // space, then the average_vector merge — must reproduce the hand-built
    // `recommend_sparse_avg` rows exactly (same oracle)
    "api_recommend_sparse_ids" -> ((s, dir) => {
      sparseColl(s, dir).query(
        """{"query": {"recommend": {"positive": [7, 11], "negative": [4]}},
          |  "using": "txt", "limit": 10}""".stripMargin)
    }),
    // best_score over sparse with INLINE {indices, values} examples: the
    // per-example sparse dot feeds the same σ-combine as dense best_score;
    // candidates are rows sharing ≥1 dim with ANY example
    "api_recommend_sparse_best" -> ((s, dir) => {
      def sj(id: Long) = {
        val (qi, qv) = sparseQ(s, dir, id)
        s"""{"indices": ${qi.mkString("[", ",", "]")},
           | "values": ${qv.mkString("[", ",", "]")}}""".stripMargin
      }
      sparseColl(s, dir).query(
        s"""{"query": {"recommend": {"positive": [${sj(7)}, ${sj(11)}],
           |  "negative": [${sj(4)}], "strategy": "best_score"}},
           |  "using": "txt", "limit": 10}""".stripMargin)
    }),
    // recommend by-id against the IDF-modified sparse space: the single
    // positive resolves raw, the modifier weights it (examples ARE query
    // vectors) — identical rows to the direct knnSparse idf entry
    "api_recommend_sparse_idf" -> ((s, dir) => {
      sparseColl(s, dir).query(
        """{"query": {"recommend": {"positive": [7]}},
          |  "using": "txtidf", "limit": 10}""".stripMargin)
    }),
    // `lookup_from` against a SPARSE space (`fetch_vectors.rs:301` — the
    // reference resolves referenced vectors of ANY kind from the lookup
    // collection): recommend-by-id where the example ids live in a SIBLING
    // catalog collection's sparse space. The sibling stores qid = vec_id +
    // 10000 with the same derived sparse content, so the rows must equal
    // the self-resolved `api_recommend_sparse_ids` exactly (same oracle).
    "recommend_lookup_from_sparse" -> ((s, dir) => {
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      val root = "/tmp/graft_runtime/cat_slkp_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val cat = new graft.storage.Catalog(s, root)
      val e = Tables.load(s, dir, "embeddings")
      if (!cat.exists("sdocs"))
        cat.create("sdocs", CollectionConfig(idCol = "vec_id",
          sparse = Seq(SparseVectorConfig("txt"))),
          e.select(col("vec_id"), sparseFromDense(col("embedding")).as("sparse_txt")))
      if (!cat.exists("squeries"))
        cat.create("squeries", CollectionConfig(idCol = "qid",
          sparse = Seq(SparseVectorConfig("txt"))),
          e.select((col("vec_id") + 10000).as("qid"),
            sparseFromDense(col("embedding")).as("sparse_txt")))
      cat.query("sdocs",
        """{"query": {"recommend": {"positive": [10007, 10011],
          |    "negative": [10004]}},
          |  "using": "txt",
          |  "lookup_from": {"collection": "squeries", "vector": "txt"},
          |  "limit": 10}""".stripMargin)
    }),
    // Discover over a SPARSE `using` space with by-id examples: the
    // target/context pairs resolve to stored sparse vectors, ranked by the
    // same sign-count + σ(target) combine as dense discover
    "api_discover_sparse" -> ((s, dir) => {
      sparseColl(s, dir).query(
        """{"query": {"discover": {"target": 7,
          |  "context": [{"positive": 11, "negative": 4}]}},
          |  "using": "txt", "limit": 10}""".stripMargin)
    }),
    // Context over sparse: two by-id pairs, margin-clamped sigmoid sum
    "api_context_sparse" -> ((s, dir) => {
      sparseColl(s, dir).query(
        """{"query": {"context": [
          |    {"positive": 7, "negative": 4},
          |    {"positive": 11, "negative": 20}]},
          |  "using": "txt", "limit": 10}""".stripMargin)
    }),
    // Query-time IDF CORPUS scoping (`params.idf`, `IdfParams`
    // `types.rs:689-745`; `tests/openapi/test_sparse_idf_corpus.py`): the
    // statistics population is the corpus FILTER's matches — decoupled
    // from the retrieval filter, and an empty corpus scores every term at
    // ln 2 = idf(0, 0), never falling back to global. Two phases over the
    // same inline query vector, retrieval UNFILTERED in both.
    "sparse_idf_corpus" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      def body(corpus: String): String =
        s"""{"query": {"indices": ${qi.mkString("[", ",", "]")},
           |    "values": ${qv.mkString("[", ",", "]")}},
           |  "using": "txtidf", "limit": 10,
           |  "params": {"idf": {"corpus": $corpus}}}""".stripMargin
      val scoped = corpusColl(s, dir)
        .query(body("""{"must": [{"key": "label", "range": {"lt": 6}}]}"""))
        .withColumn("phase", lit("corpus"))
      val empty = corpusColl(s, dir)
        .query(body("""{"must": [{"key": "label", "range": {"gt": 9999}}]}"""))
        .withColumn("phase", lit("empty"))
      scoped.unionByName(empty)
    }),
    // Corpus-IDF contracts that are not score-shaped: explicit "global"
    // equals the default; a fixed corpus DECOUPLES from the retrieval
    // filter (tightening the filter narrows the rows but moves no score);
    // the `idf` param REJECTS on a dense space and on a sparse space
    // WITHOUT the idf modifier (`query_context.rs:31-39`).
    "sparse_idf_corpus_checks" -> ((s, dir) => {
      import s.implicits._
      val (qi, qv) = sparseQ(s, dir, 7L)
      val coll = corpusColl(s, dir)
      def q(using: String, params: String, filter: String = ""): String =
        // limit large enough to hold EVERY candidate, so the narrow run's
        // ids are all present in the broad run (the decoupling check
        // compares scores id-by-id, like `test_filter_tightening_does_not_
        // move_scores` over its full result sets)
        s"""{"query": {"indices": ${qi.mkString("[", ",", "]")},
           |    "values": ${qv.mkString("[", ",", "]")}},
           |  "using": "$using", "limit": 100000
           |  ${if (params.isEmpty) "" else s""", "params": $params"""}
           |  ${if (filter.isEmpty) "" else s""", "filter": $filter"""}}"""
          .stripMargin
      def scores(json: String): Map[Long, Double] =
        coll.query(json).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dflt = scores(q("txtidf", ""))
      val explicitGlobal = scores(q("txtidf", """{"idf": "global"}"""))
      val corpusParams =
        """{"idf": {"corpus": {"must": [{"key": "label", "range": {"lt": 6}}]}}}"""
      val broad = scores(q("txtidf", corpusParams))
      val narrow = scores(q("txtidf", corpusParams,
        filter = """{"must": [{"key": "label", "range": {"lt": 3}}]}"""))
      def rejects(json: String): Boolean =
        try { coll.query(json); false }
        catch { case ex: IllegalArgumentException =>
          Option(ex.getMessage).exists(_.contains(
            "search param `idf` requires a sparse vector with the `idf` modifier"))
        }
      val denseVec = Tables.embeddingOf(s, dir, 7L)
      Seq(
        ("global_matches_default", dflt == explicitGlobal),
        ("narrow_scores_subset_of_broad",
          narrow.nonEmpty && narrow.forall { case (id, sc) =>
            broad.get(id).contains(sc) }),
        ("dense_rejects", rejects(
          s"""{"query": [${denseVec.mkString(",")}], "limit": 3,
             |  "params": $corpusParams}""".stripMargin)),
        ("plain_sparse_rejects", rejects(q("txt", corpusParams))))
        .toDF("check_name", "ok")
    }),
    // IDF N-scoping parity (`IdfScopeStats.indexed_vectors`,
    // `query_context.rs:283-289`): N counts points that HAVE the sparse
    // vector, not the collection row count — pinned on a collection where
    // every 5th point lacks the sparse cell. Also exercises the persisted
    // `_sparse_idf.json` ingest-time stats (warm path: zero Spark jobs).
    "sparse_idf_partial" -> ((s, dir) => {
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      val path = "/tmp/graft_runtime/sparse_partial_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val cfg = CollectionConfig(idCol = "vec_id",
        sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf"))))
      val e = Tables.load(s, dir, "embeddings")
      val coll = graft.storage.Collection.create(s, path, cfg,
        e.select(col("vec_id"),
          when(col("vec_id") % 5 =!= 0, sparseFromDense(col("embedding")))
            .as("sparse_txt")))
      val (qi, qv) = sparseQ(s, dir, 7L)
      coll.knnSparse("txt", qi, qv, k = 10)
    }),
    // IDF inside the prefetch DAG (`query_context.rs` remaps idf weights
    // for EVERY sparse scoring context, not just bare roots): the canonical
    // hybrid dense + sparse → RRF through `Collection.query`, with the
    // sparse prefetch on the `modifier: idf` space — the sparse leaf's
    // ranking (and so the fused order) must reflect the IDF weighting.
    "collection_query_hybrid_idf" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      val dense = Tables.embeddingOf(s, dir, 7L)
      sparseColl(s, dir).query(
        s"""{
           |  "prefetch": [
           |    {"query": {"nearest": [${dense.mkString(",")}]}, "limit": 20},
           |    {"query": {"nearest": {"indices": ${qi.mkString("[", ",", "]")},
           |      "values": ${qv.mkString("[", ",", "]")}}},
           |      "using": "txtidf", "limit": 20}
           |  ],
           |  "query": {"rrf": {}},
           |  "limit": 10
           |}""".stripMargin)
    }),
    // Sparse root offset through the one-call handler: the fast path must
    // page like the generic executor (`skip(offset).take(limit)`).
    "api_query_sparse_offset" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      sparseColl(s, dir).query(
        s"""{"query": {"indices": ${qi.mkString("[", ",", "]")},
           |  "values": ${qv.mkString("[", ",", "]")}},
           |  "using": "txt", "limit": 5, "offset": 3}""".stripMargin)
    }),
    // Universal-query `with_vector: true` on a dense+sparse collection
    // (`ScoredPoint.vector` is the FULL named-vector map, `types.rs:
    // 396-440`): the response must carry the dense column AND both sparse
    // struct columns — pinned via dim / nnz / first sparse component so
    // the oracle stays float-exact.
    "api_query_with_vector_sparse" -> ((s, dir) => {
      val dense = Tables.embeddingOf(s, dir, 7L)
      sparseColl(s, dir).query(
        s"""{"query": ${dense.mkString("[", ",", "]")}, "limit": 10,
           |  "with_vector": true}""".stripMargin)
        .select(col("vec_id"), col("score"),
          size(col("vector")).cast("long").as("dim"),
          size(col("sparse_txt.indices")).cast("long").as("nnz"),
          when(size(col("sparse_txt.values")) >= 1,
            round(element_at(col("sparse_txt.values"), 1).cast("double"), 6))
            .as("sv0"),
          size(col("sparse_txtidf.indices")).cast("long").as("nnz_idf"))
    }),
    // `with_vector: "txt"` — a NAMED sparse vector resolves sparse-first
    // to its real struct column (retrieve/scroll contract, now the query
    // endpoint too); unselected vectors (dense "" and "txtidf") must NOT
    // ride along — pinned as plan-level column-absence flags.
    "api_query_with_vector_named" -> ((s, dir) => {
      val dense = Tables.embeddingOf(s, dir, 7L)
      val h = sparseColl(s, dir).query(
        s"""{"query": ${dense.mkString("[", ",", "]")}, "limit": 10,
           |  "with_vector": "txt"}""".stripMargin)
      h.select(col("vec_id"), col("score"),
        size(col("sparse_txt.indices")).cast("long").as("nnz"),
        lit(h.columns.contains("vector")).as("has_dense"),
        lit(h.columns.contains("sparse_txtidf")).as("has_idf"))
    }),
    // query/groups with `with_vector: true` on a dense+sparse collection:
    // group hits enrich through the same path as flat hits, so every
    // named vector (sparse included) rides each grouped ScoredPoint.
    "collection_groups_with_vector" -> ((s, dir) => {
      val dense = Tables.embeddingOf(s, dir, 7L)
      hybridColl(s, dir).queryGroups(
        s"""{"query": {"nearest": ${dense.mkString("[", ",", "]")}},
           |  "group_by": "label", "group_size": 2, "limit": 4,
           |  "with_vector": true}""".stripMargin)
        .select(col("group_value"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"),
          col("grp_rank").cast("long").as("grp_rank"),
          size(col("vector")).cast("long").as("dim"),
          size(col("sparse_txt.indices")).cast("long").as("nnz"))
        .orderBy(col("grp_rank"), col("rank"))
    }),
    // Collection created FROM the wire config (`PUT /collections/{c}`
    // body): the parsed dense + sparse(+idf-modifier) schema routes
    // knnSparse exactly like a hand-built CollectionConfig — same oracle
    // as `sparse_struct_idf`.
    "api_create_collection" -> ((s, dir) => {
      import graft.api.RequestCodec
      val cfg = RequestCodec.parseCollectionConfig(
        """{
          |  "vectors": {"dense": {"size": 64, "distance": "Dot",
          |               "datatype": "float32",
          |               "hnsw_config": {"m": 16, "ef_construct": 100}}},
          |  "sparse_vectors": {"txt": {"modifier": "idf"}}
          |}""".stripMargin, idCol = "vec_id")
      val path = "/tmp/graft_runtime/api_create_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val e = Tables.load(s, dir, "embeddings")
      val coll = graft.storage.Collection.create(s, path, cfg,
        e.select(col("vec_id"), col("embedding").as("vector_dense"),
          sparseFromDense(col("embedding")).as("sparse_txt")))
      val (qi, qv) = sparseQ(s, dir, 7L)
      coll.knnSparse("txt", qi, qv, k = 10)
    }),
    // Wire-compatible BM25 EMBEDDING (the reference's one local inference
    // path, `lib/bm25/src/lib.rs`): documents embed to sparse vectors —
    // murmur3 token ids (`token_id` :166-168) + BM25 tf weights stored
    // f32 — the query embeds at weight 1.0, and the `modifier: idf`
    // collection config supplies the IDF factor at query time, so the
    // sparse dot reproduces the BM25 score. The oracle replicates the
    // whole pipeline including the f32 tf quantization (CAST AS REAL);
    // token ids cancel out of the math, so no murmur3 needed in SQL.
    "bm25_embed_search" -> ((s, dir) => {
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      import org.apache.spark.sql.GraftShim
      val path = "/tmp/graft_runtime/bm25_embed_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val coll = sparseCollections.computeIfAbsent(path, { _ =>
        val d = docs(s, dir)
        val avgdl = d.select(avg(size(TextFunctions.tokensWs(col("text")))))
          .head().getDouble(0)
        val cfg = CollectionConfig(idCol = "doc_id",
          sparse = Seq(SparseVectorConfig("txt", modifier = Some("idf"))))
        val embedded = d.select(col("doc_id"),
          GraftShim.column(graft.functions.Bm25DocEmbedExpr(
            GraftShim.expression(col("text")), 1.2, 0.75, avgdl)).as("sparse_txt"))
        graft.storage.Collection.create(s, path, cfg, embedded)
      })
      val (qi, qv) = graft.functions.Bm25.embedQuery(Seq("spark", "vector"))
      coll.knnSparse("txt", qi, qv, k = 10)
    }),
    // BM25 token ids at the u32 BOUNDARY: `token_id` is |murmur3 as i32|
    // (`lib/bm25/src/lib.rs:166-168`), whose range is [0, 2^31] — the top
    // value 2^31 (= |i32::MIN|) only occurs for a token whose murmur3 is
    // exactly i32::MIN. "tok4006025602" is such a token (found by search
    // over murmur3 x86_32 seed 0); under the former i32 index parse this
    // dim saturated/folded and every doc carrying it collided with dim 0.
    // Pins: the embedding STORES dim 2147483648, the query-side embed
    // produces the same dim, and the tf math matches the oracle's.
    "bm25_embed_large_token" -> ((s, dir) => {
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      import org.apache.spark.sql.GraftShim
      import s.implicits._
      val boundaryTok = "tok4006025602" // murmur3(tok, 0) == i32::MIN
      require(graft.functions.Bm25.tokenId(boundaryTok) == 2147483648L,
        "fixture invariant: boundary token must hash to |i32::MIN| = 2^31")
      val path = "/tmp/graft_runtime/bm25_large_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val coll = sparseCollections.computeIfAbsent(path, { _ =>
        val d = Seq(
          (1L, s"$boundaryTok alpha"),
          (2L, "alpha beta"),
          (3L, s"$boundaryTok $boundaryTok beta")).toDF("doc_id", "text")
        val avgdl = d.select(avg(size(TextFunctions.tokensWs(col("text")))))
          .head().getDouble(0)
        val cfg = CollectionConfig(idCol = "doc_id",
          sparse = Seq(SparseVectorConfig("txt")))
        val embedded = d.select(col("doc_id"),
          GraftShim.column(graft.functions.Bm25DocEmbedExpr(
            GraftShim.expression(col("text")), 1.2, 0.75, avgdl)).as("sparse_txt"))
        graft.storage.Collection.create(s, path, cfg, embedded)
      })
      val (qi, qv) = graft.functions.Bm25.embedQuery(Seq(boundaryTok))
      val hits = coll.knnSparse("txt", qi, qv, k = 10)
        .select(lit("search").as("arm"), col("doc_id"),
          col("score").cast("double").as("v"))
      // the stored dim must BE 2^31, not 0 or 2^31−1
      val stored = coll.read().filter(col("doc_id") === 1)
        .select(lit("stored_dim").as("arm"), col("doc_id"),
          element_at(col("sparse_txt.indices"),
            size(col("sparse_txt.indices"))).cast("double").as("v"))
      hits.unionByName(stored).orderBy("arm", "doc_id")
    }),
    // TYPED wire upserts (`VectorStruct` untagged forms, `schema.rs:1406-
    // 1415`; `tests/openapi/test_sparse_dense_batch_update.py`,
    // `test_batch_update_multivec.py`): ONE `POST /points/batch` body
    // carries dense arrays, multi-dense matrices and sparse
    // `{indices,values}` structs — plus an update_vectors op in sparse
    // form — applied as a single rewrite; then one search per space.
    // Fully constant-valued fixture, so the oracle is literal VALUES.
    "api_upsert_typed_vectors" -> ((s, dir) => {
      import graft.api.{RequestCodec, UpdateBridge}
      import graft.sources.{CollectionConfig, SparseVectorConfig, VectorConfig}
      val path = "/tmp/graft_runtime/typed_up_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val cfg = CollectionConfig(idCol = "id",
        vectors = Seq(VectorConfig("", 4, graft.model.Dot),
          VectorConfig("tok", 2, graft.model.Dot, multivector = true)),
        sparse = Seq(SparseVectorConfig("txt")))
      import s.implicits._
      val coll = graft.storage.Collection.create(s, path, cfg,
        Seq.empty[Long].toDF("id")
          .withColumn("vector", lit(null).cast("array<float>"))
          .withColumn("vector_tok", lit(null).cast("array<array<float>>"))
          .withColumn("sparse_txt",
            lit(null).cast("struct<indices: array<int>, values: array<float>>"))
          .withColumn("payload", lit(null).cast("string")))
      UpdateBridge.applyJson(coll,
        """{"operations": [
          |  {"upsert": {"points": [
          |    {"id": 1, "vector": {"": [1,0,0,0], "tok": [[1,0],[0,1]],
          |       "txt": {"indices": [1,3], "values": [1.0, 2.0]}}},
          |    {"id": 2, "vector": {"": [0,1,0,0], "tok": [[1,1]],
          |       "txt": {"indices": [3,5], "values": [3.0, 1.0]}}},
          |    {"id": 3, "vector": {"": [0,0,1,0]}}]}},
          |  {"update_vectors": {"points": [
          |    {"id": 3, "vector": {"txt": {"indices": [1], "values": [5.0]}}}]}}
          |]}""".stripMargin)
      val dense = coll.knn("", Seq(1.0, 0.0, 0.0, 0.0), k = 10)
        .withColumn("space", lit("dense"))
      val multi = coll.knnMultivec("tok", Seq(Seq(1.0, 0.0)), k = 10)
        .withColumn("space", lit("multi"))
      val sparse = coll.knnSparse("txt", Seq(1, 3), Seq(1.0, 1.0), k = 10)
        .withColumn("space", lit("sparse"))
      dense.unionByName(multi).unionByName(sparse)
    }),
    // Legacy-API multivector emulation (`TryFrom<VectorInternal> for
    // MultiDenseVectorInternal` expands a single dense vector into a
    // 1-token matrix, `data_types/vectors.rs:176-190`; e2e
    // `test_multi_vector.py:232-371`): a dense value upserted OR
    // update_vectors'd into a multivector space stores as `[[..]]`
    // (the `stored` arms pin token count + round-trip), and a dense wire
    // QUERY against a multivector `using` scores MaxSim as a 1-token
    // matrix (the `query` arm). Constant fixture → literal VALUES oracle.
    "api_multivec_legacy" -> ((s, dir) => {
      import graft.api.UpdateBridge
      import graft.sources.{CollectionConfig, VectorConfig}
      import s.implicits._
      val path = "/tmp/graft_runtime/mv_legacy_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val coll = sparseCollections.computeIfAbsent(path, { _ =>
        val cfg = CollectionConfig(idCol = "id",
          vectors = Seq(VectorConfig("tok", 2, graft.model.Dot,
            multivector = true)))
        val c = graft.storage.Collection.create(s, path, cfg,
          Seq.empty[Long].toDF("id")
            .withColumn("vector_tok", lit(null).cast("array<array<float>>"))
            .withColumn("payload", lit(null).cast("string")))
        UpdateBridge.applyJson(c,
          """{"operations": [
            |  {"upsert": {"points": [
            |    {"id": 1, "vector": {"tok": [[1, 0], [0, 1]]}},
            |    {"id": 2, "vector": {"tok": [0.25, 0.5]}},
            |    {"id": 3, "vector": {"tok": [[0.5, 0.25]]}}]}},
            |  {"update_vectors": {"points": [
            |    {"id": 3, "vector": {"tok": [0.75, 1.0]}}]}}
            |]}""".stripMargin)
        c
      })
      val stored = coll.read().select(lit("stored").as("arm"), col("id"),
        size(col("vector_tok")).cast("double").as("a"),
        element_at(element_at(col("vector_tok"), 1), 1)
          .cast("double").as("b"),
        element_at(element_at(col("vector_tok"), 1), 2)
          .cast("double").as("c"))
      val hits = coll.query(
        """{"query": [1.0, 0.5], "using": "tok", "limit": 10}""")
        .select(lit("query").as("arm"), col("id"),
          col("score").cast("double").as("a"),
          lit(0.0).as("b"), lit(0.0).as("c"))
      stored.unionByName(hits).orderBy(col("arm"), col("id"))
    }),
    // Full-u32 sparse dim space (`SparseVector.indices: Vec<u32>`,
    // `sparse_vector.rs:17-22`; e2e `test_sparse_vector_large.py:32-60`):
    // the reference's exact large-index set round-trips through wire
    // upsert, wire query and storage. Point 2 carries dims ADJACENT to
    // point 1's large dims and point 3 carries TWO dims above 2^31 — under
    // an i32 parse all of these clamp to 2^31−1 (point 3 then rejects as
    // "duplicate", points 1/2 silently intersect on every dot product), so
    // the distinct scores below pin the unsigned width end-to-end. Reject
    // arms: >u32, negative, fractional indices fail at parse like serde's
    // u32 deserialization.
    "sparse_large_indices" -> ((s, dir) => {
      import graft.api.UpdateBridge
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      import s.implicits._
      val path = "/tmp/graft_runtime/sparse_large_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val refIdx = Seq(808342246L, 3331306528L, 542569676L, 913951781L,
        1436743712L, 2336501044L, 2690574963L, 1871711020L, 1555611613L,
        869159183L, 1739377735L, 1251323507L, 1779632210L, 3444800112L,
        3174105482L, 2305639372L, 1076060679L, 4025475087L, 4146668087L,
        2239416842L, 1454622239L, 2826065600L, 1826244548L)
      val coll = sparseCollections.computeIfAbsent(path, { _ =>
        val cfg = CollectionConfig(idCol = "id",
          sparse = Seq(SparseVectorConfig("text")))
        val c = graft.storage.Collection.create(s, path, cfg,
          Seq.empty[Long].toDF("id")
            .withColumn("sparse_text",
              lit(null).cast("struct<indices: array<bigint>, values: array<float>>"))
            .withColumn("payload", lit(null).cast("string")))
        UpdateBridge.applyJson(c,
          s"""{"operations": [{"upsert": {"points": [
             |  {"id": 1, "vector": {"text": {
             |    "indices": ${refIdx.mkString("[", ",", "]")},
             |    "values": ${Seq.fill(refIdx.length)("0.5249451281713632")
                  .mkString("[", ",", "]")}}}},
             |  {"id": 2, "vector": {"text": {
             |    "indices": [3331306529, 4146668088], "values": [1.0, 2.0]}}},
             |  {"id": 3, "vector": {"text": {
             |    "indices": [2147483648, 4294967295], "values": [1.0, 1.0]}}}
             |]}}]}""".stripMargin)
        c
      })
      val hits = coll.query(
        """{"query": {"indices": [3331306528, 4025475087, 4146668088, 4294967295],
          |  "values": [1.0, 1.0, 1.0, 1.0]},
          |  "using": "text", "limit": 10}""".stripMargin)
        .select(lit("search").as("arm"), col("id"), col("score").as("v"))
      val stored = coll.read().filter(col("id") === 1)
        .select(col("sparse_text.indices").as("ix"))
        .select(
          size(col("ix")).cast("double").as("rt_n"),
          array_min(col("ix")).cast("double").as("rt_min"),
          array_max(col("ix")).cast("double").as("rt_max"),
          size(filter(col("ix"), x => x > lit(2147483647L)))
            .cast("double").as("rt_big"))
      val rt = stored.select(lit("rt_n").as("arm"), lit(1L).as("id"), col("rt_n").as("v"))
        .unionByName(stored.select(lit("rt_min").as("arm"), lit(1L).as("id"), col("rt_min").as("v")))
        .unionByName(stored.select(lit("rt_max").as("arm"), lit(1L).as("id"), col("rt_max").as("v")))
        .unionByName(stored.select(lit("rt_big").as("arm"), lit(1L).as("id"), col("rt_big").as("v")))
      def rejects(arm: String, body: String) = {
        val failed =
          try { UpdateBridge.applyJson(coll, body); 0.0 }
          catch { case _: IllegalArgumentException => 1.0 }
        Seq((arm, 0L, failed)).toDF("arm", "id", "v")
      }
      // the reference's wire-shaped validation messages
      // (`test_sparse_vector_validations.py:97,117`)
      def rejectsMsg(arm: String, body: String, expect: String) = {
        val ok =
          try { UpdateBridge.applyJson(coll, body); 0.0 }
          catch { case ex: IllegalArgumentException =>
            if (Option(ex.getMessage).exists(_.contains(expect))) 1.0 else 0.5 }
        Seq((arm, 0L, ok)).toDF("arm", "id", "v")
      }
      hits.unionByName(rt)
        .unionByName(rejectsMsg("reject_len_mismatch",
          """{"operations": [{"upsert": {"points": [{"id": 9, "vector": {"text":
            |  {"indices": [1, 2], "values": [1.0]}}}]}}]}""".stripMargin,
          "Validation error in JSON body: [points[0].vector.?.values: " +
            "Validation error: must be the same length as indices [{}]]"))
        .unionByName(rejectsMsg("reject_dup_indices",
          """{"operations": [{"upsert": {"points": [{"id": 9, "vector": {"text":
            |  {"indices": [5, 5], "values": [1.0, 1.0]}}}]}}]}""".stripMargin,
          "Validation error in JSON body: [points[0].vector.?.indices: " +
            "Validation error: must be unique [{}]]"))
        .unionByName(rejects("reject_over_u32",
          """{"operations": [{"upsert": {"points": [{"id": 9, "vector": {"text":
            |  {"indices": [4294967296], "values": [1.0]}}}]}}]}""".stripMargin))
        .unionByName(rejects("reject_negative",
          """{"operations": [{"upsert": {"points": [{"id": 9, "vector": {"text":
            |  {"indices": [-1], "values": [1.0]}}}]}}]}""".stripMargin))
        .unionByName(rejects("reject_fractional",
          """{"operations": [{"upsert": {"points": [{"id": 9, "vector": {"text":
            |  {"indices": [1.5], "values": [1.0]}}}]}}]}""".stripMargin))
        .orderBy("arm", "id", "v")
    }),
    // Sparse `average_vector` recommend (`avg_vectors` sparse arm + the
    // sparse merge, `recommendations.rs:55-58,87-91,119-120`): values
    // aggregate per dim over the index UNION (missing = 0), divide by
    // example count, merge as 2·avg_pos − avg_neg — then ONE sparse dot
    // search with the merged query (negative dims rank points down).
    "recommend_sparse_avg" -> ((s, dir) => {
      def sv(q: (Seq[Long], Seq[Double])) = graft.ops.PointQuery.SparseVector(q._1, q._2)
      val graft.ops.PointQuery.SparseVector(qi, qv) = graft.ops.PointQuery.average(
        Seq(sparseQ(s, dir, 7L), sparseQ(s, dir, 11L)).map(sv),
        Seq(sv(sparseQ(s, dir, 4L)))): @unchecked
      sparseColl(s, dir).knnSparse("txt", qi, qv, k = 10)
    }),
    // `Collection.query` with a sparse wire body: `using` resolves the
    // sparse space from the config and routes knnSparse — same oracle as
    // the hand-built sparse_struct_knn.
    "collection_query_sparse" -> ((s, dir) => {
      val (qi, qv) = sparseQ(s, dir, 7L)
      sparseColl(s, dir).query(
        s"""{"query": {"indices": ${qi.mkString("[", ",", "]")},
           |  "values": ${qv.mkString("[", ",", "]")}},
           |  "using": "txt", "limit": 10}""".stripMargin)
    }),
    // Sparse config PATCH (`tests/openapi/test_sparse_vector_config_update.py`;
    // `UpdateCollection` sparse diff): the collection starts with a PLAIN
    // sparse vector, the wire diff sets `modifier: idf`, and the SAME
    // stored postings immediately score IDF-weighted — the modifier is
    // query-time config, so the update is config-only (no rewrite).
    "sparse_config_update_idf" -> ((s, dir) => {
      import graft.api.RequestCodec
      val path = "/tmp/graft_runtime/sparse_patch_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val coll0 = sparseCollections.computeIfAbsent(path, { _ =>
        import graft.sources.{CollectionConfig, SparseVectorConfig}
        val cfg = CollectionConfig(idCol = "vec_id",
          sparse = Seq(SparseVectorConfig("txt")))
        val e = Tables.load(s, dir, "embeddings")
        graft.storage.Collection.create(s, path, cfg,
          e.select(col("vec_id"), sparseFromDense(col("embedding")).as("sparse_txt")))
      })
      val (qi, qv) = sparseQ(s, dir, 7L)
      val before = coll0.knnSparse("txt", qi, qv, k = 10)
        .withColumn("phase", lit("plain"))
      val patched = coll0.updateConfig(RequestCodec.parseCollectionUpdate(
        """{"sparse_vectors": {"txt": {"modifier": "idf"}}}""", coll0.config))
      val after = patched.knnSparse("txt", qi, qv, k = 10)
        .withColumn("phase", lit("idf"))
      before.unionByName(after)
    }),
    // Sparse vector mutations (`tests/openapi/test_sparse_update.py`,
    // `test_sparse_dense_batch_update.py`): upsert a point WITH a sparse
    // vector, set a sparse vector on an existing point, delete another's —
    // then search; the updated weights rank, the deleted point vanishes
    // (the scoredTopK null guard: no storage entry, no ranking).
    "sparse_update_ops" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{CollectionConfig, SparseVectorConfig}
      val path = "/tmp/graft_runtime/sparse_mut_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val cfg = CollectionConfig(idCol = "vec_id",
        sparse = Seq(SparseVectorConfig("txt")))
      val base = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(col("vec_id"), sparseFromDense(col("embedding")).as("sparse_txt"))
      val coll = graft.storage.Collection.create(s, path, cfg, base)
      coll.upsert(Seq((1000L, (Seq(0, 1, 2), Seq(1.0f, 1.0f, 1.0f))))
        .toDF("vec_id", "sparse_txt")
        .select(col("vec_id"),
          col("sparse_txt").cast("struct<indices:array<int>,values:array<float>>")))
      coll.updateVector("txt",
        struct(typedLit(Seq(0, 1)).as("indices"),
          typedLit(Seq(2.0f, 3.0f)).as("values")),
        col("vec_id") === 7L)
      coll.deleteVector("txt", col("vec_id") === 13L)
      coll.knnSparse("txt", Seq(0, 1, 2), Seq(1.0, 1.0, 1.0), k = 10)
    }),
    // The bulk/scale path over the SAME struct storage: explode to
    // (dim, weight) postings + broadcast query join — the inverted-index
    // layout `lib/sparse/src/index/` uses. Must agree with the per-row
    // kernel path (`sparse_struct_knn`): same oracle.
    "sparse_struct_postings" -> ((s, dir) => {
      import s.implicits._
      val (qi, qv) = sparseQ(s, dir, 7L)
      val post = SparseIndex.postingsFromSparse(
        sparseColl(s, dir).read(), "vec_id", "sparse_txt")
        .filter(col("dim").isin(qi: _*))
      SparseIndex.search(post, "vec_id", qi.zip(qv).toDF("dim", "qw"), k = 10)
    }),
    // Sparse KNN over the wire: `{"nearest": {indices, values}}` against a
    // sparse `using` space (`VectorInput`, `schema.rs:559-567`).
    "api_query_sparse_knn" -> ((s, dir) => {
      import graft.api.RequestCodec
      import graft.api.RequestCodec.{Ctx, VectorSpace}
      import graft.filters.TypedResolver
      import graft.ops.PointQuery
      val (qi, qv) = sparseQ(s, dir, 7L)
      val json =
        s"""{"query": {"nearest": {"indices": [${qi.mkString(",")}],
           |  "values": [${qv.mkString(",")}]}},
           |  "using": "txt", "limit": 10}""".stripMargin
      val pts = sparseColl(s, dir).read()
      val ctx = Ctx(spaces = Map(
        "" -> VectorSpace("vector", graft.model.Dot),
        "txt" -> VectorSpace("sparse_txt", graft.model.Dot, sparse = true)))
      PointQuery.execute(s, pts, "vec_id",
        new TypedResolver(pts.schema, "vec_id"),
        RequestCodec.parseQueryRequest(json, ctx))
    }),
    // THE canonical hybrid over the wire: dense + SPARSE prefetch → RRF
    // with a root payload filter, all parsed from the JSON body.
    "api_query_hybrid_sparse" -> ((s, dir) => {
      import graft.api.RequestCodec
      import graft.api.RequestCodec.{Ctx, VectorSpace}
      import graft.filters.TypedResolver
      import graft.ops.PointQuery
      val (qi, qv) = sparseQ(s, dir, 7L)
      val dense = Tables.embeddingOf(s, dir, 7L)
      val json =
        s"""{
           |  "prefetch": [
           |    {"query": {"nearest": [${dense.mkString(",")}]}, "limit": 20},
           |    {"query": {"nearest": {"indices": [${qi.mkString(",")}],
           |      "values": [${qv.mkString(",")}]}}, "using": "txt", "limit": 20}
           |  ],
           |  "query": {"rrf": {}},
           |  "filter": {"must": [{"key": "label", "range": {"gte": 1}}]},
           |  "limit": 10
           |}""".stripMargin
      val pts = sparseColl(s, dir).read()
      val ctx = Ctx(spaces = Map(
        "" -> VectorSpace("vector", graft.model.Dot),
        "txt" -> VectorSpace("sparse_txt", graft.model.Dot, sparse = true)))
      PointQuery.execute(s, pts, "vec_id",
        new TypedResolver(pts.schema, "vec_id"),
        RequestCodec.parseQueryRequest(json, ctx))
    }),
  )

  /** Shared by `recommend_sparse_avg` (hand-built merge) and
    * `api_recommend_sparse_ids` (wire-level by-id resolution + merge). */
  private val recommendSparseAvgSql =
    """WITH p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
      |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=11),
      |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
      |q AS (SELECT
      |    list_transform(range(1, 65), i ->
      |        (CASE WHEN p1.v[i] > 0.25 THEN p1.v[i] ELSE 0 END)
      |      + (CASE WHEN p2.v[i] > 0.25 THEN p2.v[i] ELSE 0 END)
      |      - (CASE WHEN n1.v[i] > 0.25 THEN n1.v[i] ELSE 0 END)) AS qv,
      |    list_transform(range(1, 65), i ->
      |      p1.v[i] > 0.25 OR p2.v[i] > 0.25 OR n1.v[i] > 0.25) AS qp
      |  FROM p1, p2, n1)
      |SELECT e.vec_id AS vec_id,
      |  round(list_sum(list_transform(range(1, 65), i ->
      |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.qp[i]
      |         THEN e.embedding[i]::DOUBLE * q.qv[i] ELSE 0.0 END)), 6) AS score
      |FROM embeddings e, q
      |WHERE len(list_filter(range(1, 65), i ->
      |    e.embedding[i]::DOUBLE > 0.25 AND q.qp[i])) > 0
      |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Shared by `sparse_struct_idf` (direct knnSparse) and
    * `api_recommend_sparse_idf` (wire recommend, single positive). */
  private val sparseStructIdfSql =
    """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
      |n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
      |dims AS (SELECT unnest(range(1, 65)) AS dim),
      |dfs AS (SELECT d.dim AS dim,
      |          (SELECT count(*) FROM embeddings e
      |           WHERE e.embedding[d.dim]::DOUBLE > 0.25)::DOUBLE AS df
      |        FROM dims d),
      |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
      |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n)
      |SELECT e.vec_id AS vec_id,
      |  round(list_sum(list_transform(range(1, 65), i ->
      |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
      |         THEN e.embedding[i]::DOUBLE * (q.v[i] * idf.l[i]) ELSE 0.0 END)), 6) AS score
      |FROM embeddings e, q, idf
      |WHERE len(list_filter(range(1, 65), i ->
      |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
      |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "collection_query_sparse" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sparse_struct_knn" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "bm25_embed_search" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM t),
        |params AS (SELECT (SELECT avg(dl) FROM lens) AS avgdl,
        |                  (SELECT count(*) FROM t)::DOUBLE AS n),
        |tf AS (SELECT doc_id, 'spark' AS dim,
        |         len(list_filter(toks, x -> x = 'spark'))::DOUBLE AS cnt FROM t
        |       UNION ALL
        |       SELECT doc_id, 'vector' AS dim,
        |         len(list_filter(toks, x -> x = 'vector'))::DOUBLE AS cnt FROM t),
        |tfpos AS (SELECT * FROM tf WHERE cnt > 0),
        |dfreq AS (SELECT dim, count(*)::DOUBLE AS df FROM tfpos GROUP BY dim),
        |scored AS (SELECT f.doc_id,
        |    sum(CAST(f.cnt * 2.2 / (1.2 * (1 - 0.75 + 0.75 * l.dl / p.avgdl) + f.cnt)
        |             AS REAL)::DOUBLE
        |        * 1.0 * ln((p.n - d.df + 0.5) / (d.df + 0.5) + 1)) AS sc
        |  FROM tfpos f
        |  JOIN lens l USING (doc_id) JOIN dfreq d USING (dim), params p
        |  GROUP BY f.doc_id)
        |SELECT doc_id, round(sc, 6) AS score FROM scored
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "api_upsert_typed_vectors" ->
      """SELECT * FROM (VALUES
        |  (1::BIGINT, 1.0::DOUBLE, 'dense'),
        |  (2::BIGINT, 0.0::DOUBLE, 'dense'),
        |  (3::BIGINT, 0.0::DOUBLE, 'dense'),
        |  (1::BIGINT, 1.0::DOUBLE, 'multi'),
        |  (2::BIGINT, 1.0::DOUBLE, 'multi'),
        |  (3::BIGINT, 5.0::DOUBLE, 'sparse'),
        |  (1::BIGINT, 3.0::DOUBLE, 'sparse'),
        |  (2::BIGINT, 3.0::DOUBLE, 'sparse')) AS t(id, score, space)""".stripMargin,
    // stored: id 1 kept its 2-token matrix (first token (1,0)); ids 2 and
    // 3 hold exactly ONE token — the legacy dense upsert / update_vectors
    // expansion. query [1.0, 0.5] MaxSim: id 1 max(1.0, 0.5)=1.0,
    // id 2 0.25+0.25=0.5, id 3 0.75+0.5=1.25.
    "api_multivec_legacy" ->
      """SELECT * FROM (VALUES
        |  ('query', 1::BIGINT, 1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE),
        |  ('query', 2::BIGINT, 0.5::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE),
        |  ('query', 3::BIGINT, 1.25::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE),
        |  ('stored', 1::BIGINT, 2.0::DOUBLE, 1.0::DOUBLE, 0.0::DOUBLE),
        |  ('stored', 2::BIGINT, 1.0::DOUBLE, 0.25::DOUBLE, 0.5::DOUBLE),
        |  ('stored', 3::BIGINT, 1.0::DOUBLE, 0.75::DOUBLE, 1.0::DOUBLE))
        |AS t(arm, id, a, b, c)""".stripMargin,
    // docs {1: "T alpha", 2: "alpha beta", 3: "T T beta"} with T the
    // boundary token (id 2^31); avgdl = 7/3; scores are the f32-quantized
    // BM25 tf weights (query weight 1.0, no idf modifier); stored_dim pins
    // the 2^31 index surviving storage (the old i32 parse folded it).
    "bm25_embed_large_token" ->
      """WITH p AS (SELECT 7.0/3.0 AS avgdl)
        |SELECT 'search' AS arm, 3::BIGINT AS doc_id,
        |  round(CAST(2*2.2/(1.2*(1-0.75+0.75*3.0/avgdl)+2) AS REAL)::DOUBLE, 6) AS v
        |FROM p
        |UNION ALL SELECT 'search', 1::BIGINT,
        |  round(CAST(1*2.2/(1.2*(1-0.75+0.75*2.0/avgdl)+1) AS REAL)::DOUBLE, 6)
        |FROM p
        |UNION ALL SELECT 'stored_dim', 1::BIGINT, 2147483648.0::DOUBLE
        |ORDER BY arm, doc_id""".stripMargin,
    // Reference index set (`test_sparse_vector_large.py:54`): point 1
    // intersects the query on dims 3331306528 and 4025475087 (stored f32
    // weights — CAST AS REAL), point 2 on 4146668088, point 3 on
    // 4294967295; rt_* pin the stored round-trip of the 23-dim vector
    // (10 dims above 2^31−1); the reject arms are literal (parse-time u32
    // validation).
    "sparse_large_indices" ->
      """SELECT 'search' AS arm, 1::BIGINT AS id,
        |  round(2 * CAST(0.5249451281713632 AS REAL)::DOUBLE, 6) AS v
        |UNION ALL SELECT 'search', 2::BIGINT, 2.0::DOUBLE
        |UNION ALL SELECT 'search', 3::BIGINT, 1.0::DOUBLE
        |UNION ALL SELECT 'rt_n', 1::BIGINT, 23.0::DOUBLE
        |UNION ALL SELECT 'rt_min', 1::BIGINT, 542569676.0::DOUBLE
        |UNION ALL SELECT 'rt_max', 1::BIGINT, 4146668087.0::DOUBLE
        |UNION ALL SELECT 'rt_big', 1::BIGINT, 10.0::DOUBLE
        |UNION ALL SELECT 'reject_len_mismatch', 0::BIGINT, 1.0::DOUBLE
        |UNION ALL SELECT 'reject_dup_indices', 0::BIGINT, 1.0::DOUBLE
        |UNION ALL SELECT 'reject_over_u32', 0::BIGINT, 1.0::DOUBLE
        |UNION ALL SELECT 'reject_negative', 0::BIGINT, 1.0::DOUBLE
        |UNION ALL SELECT 'reject_fractional', 0::BIGINT, 1.0::DOUBLE
        |ORDER BY arm, id, v""".stripMargin,
    "recommend_sparse_avg" -> recommendSparseAvgSql,
    // wire by-id examples are EXCLUDED from the results (`exclude_
    // referenced_ids`, `collection_query.rs:523-531`); the hand-built
    // `recommend_sparse_avg` twin takes raw vectors, so only this entry
    // carries the NOT IN
    "api_recommend_sparse_ids" ->
      recommendSparseAvgSql.replace("WHERE len(",
        "WHERE e.vec_id NOT IN (7, 11, 4) AND len("),
    // lookup_from ids live in the FOREIGN collection — correctly NOT
    // excluded (the reference exempts lookup ids), so the shared raw SQL
    "recommend_lookup_from_sparse" -> recommendSparseAvgSql,
    "api_query_nearest_sparse_id" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |hits AS (SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE e.vec_id <> 7
        |  AND len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10)
        |SELECT vec_id, score, 'bare_id' AS form FROM hits
        |UNION ALL
        |SELECT vec_id, score, 'nearest_obj' AS form FROM hits""".stripMargin,
    "api_query_mmr_sparse" ->
      "SELECT 8 AS n, true AS ids_match_greedy, true AS positions_ok",
    "api_query_by_id_excludes_self" ->
      """SELECT * FROM (VALUES
        |  ('bare_id_dense', true, 10::BIGINT),
        |  ('nearest_obj_dense', true, 10::BIGINT),
        |  ('recommend_dense', true, 10::BIGINT),
        |  ('discover_dense', true, 10::BIGINT),
        |  ('context_dense', true, 10::BIGINT),
        |  ('mmr_dense', true, 10::BIGINT),
        |  ('prefetch_nested', true, 20::BIGINT),
        |  ('bare_id_sparse', true, 10::BIGINT),
        |  ('recommend_sparse', true, 10::BIGINT))
        |AS t(arm, examples_absent, n)""".stripMargin,
    "api_query_by_id_errors" ->
      """SELECT * FROM (VALUES
        |  ('missing_point_dense', true, true),
        |  ('missing_point_sparse', true, true),
        |  ('missing_vector_dense', true, true),
        |  ('missing_vector_sparse', true, true),
        |  ('present_ok', false, false),
        |  ('feedback_empty', true, true),
        |  ('feedback_negative_b', true, true),
        |  ('feedback_missing_example', true, true),
        |  ('geo_polygon_unclosed', true, true),
        |  ('geo_polygon_short', true, true),
        |  ('recommend_no_examples_dense', true, true),
        |  ('recommend_no_examples_sparse', true, true),
        |  ('fusion_with_using', true, true),
        |  ('fusion_without_prefetch', true, true),
        |  ('formula_without_prefetch', true, true),
        |  ('invalid_point_id', true, true),
        |  ('hnsw_ef_zero', true, true),
        |  ('query_limit_zero', true, true),
        |  ('prefetch_limit_zero', true, true),
        |  ('scroll_limit_zero', true, true),
        |  ('facet_limit_zero', true, true),
        |  ('group_size_zero', true, true))
        |AS t(check_name, rejected, msg_ok)""".stripMargin,
    "sparse_config_update_idf" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |dfs AS (SELECT d.dim AS dim,
        |          (SELECT count(*) FROM embeddings e
        |           WHERE e.embedding[d.dim]::DOUBLE > 0.25)::DOUBLE AS df
        |        FROM dims d),
        |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n),
        |plain AS (SELECT e.vec_id AS vec_id,
        |    round(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score,
        |    'plain' AS phase
        |  FROM embeddings e, q
        |  WHERE len(list_filter(range(1, 65), i ->
        |      e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |  ORDER BY score DESC, vec_id ASC LIMIT 10),
        |weighted AS (SELECT e.vec_id AS vec_id,
        |    round(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * (q.v[i] * idf.l[i]) ELSE 0.0 END)), 6) AS score,
        |    'idf' AS phase
        |  FROM embeddings e, q, idf
        |  WHERE len(list_filter(range(1, 65), i ->
        |      e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |  ORDER BY score DESC, vec_id ASC LIMIT 10)
        |SELECT * FROM plain UNION ALL SELECT * FROM weighted""".stripMargin,
    "sparse_struct_idf" -> sparseStructIdfSql,
    // corpus phase: N/df over label<6 rows only; empty phase: idf(0,0) =
    // ln 2 per term. Retrieval unfiltered in both — candidates are all
    // rows sharing a query dim.
    "sparse_idf_corpus" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |c AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE label < 6),
        |n AS (SELECT count(*)::DOUBLE AS n FROM c),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |dfs AS (SELECT d.dim AS dim,
        |          (SELECT count(*) FROM c WHERE c.e[d.dim] > 0.25)::DOUBLE AS df
        |        FROM dims d),
        |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n),
        |corpus AS (SELECT e.vec_id AS vec_id,
        |    round(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * (q.v[i] * idf.l[i]) ELSE 0.0 END)), 6) AS score,
        |    'corpus' AS phase
        |  FROM embeddings e, q, idf
        |  WHERE len(list_filter(range(1, 65), i ->
        |      e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |  ORDER BY score DESC, vec_id ASC LIMIT 10),
        |empty AS (SELECT e.vec_id AS vec_id,
        |    round(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * (q.v[i] * ln(2.0)) ELSE 0.0 END)), 6) AS score,
        |    'empty' AS phase
        |  FROM embeddings e, q
        |  WHERE len(list_filter(range(1, 65), i ->
        |      e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |  ORDER BY score DESC, vec_id ASC LIMIT 10)
        |SELECT * FROM corpus UNION ALL SELECT * FROM empty""".stripMargin,
    "sparse_idf_corpus_checks" ->
      """SELECT * FROM (VALUES
        |  ('global_matches_default', true),
        |  ('narrow_scores_subset_of_broad', true),
        |  ('dense_rejects', true),
        |  ('plain_sparse_rejects', true))
        |AS t(check_name, ok)""".stripMargin,
    // the wire twin resolves positive [7] BY ID → 7 itself is excluded
    "api_recommend_sparse_idf" ->
      sparseStructIdfSql.replace("WHERE len(",
        "WHERE e.vec_id <> 7 AND len("),
    "api_discover_sparse" ->
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=11),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |s AS (SELECT e.vec_id AS vec_id,
        |  list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND t.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * t.v[i] ELSE 0.0 END)) AS st,
        |  list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND p1.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * p1.v[i] ELSE 0.0 END)) AS sp1,
        |  list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND n1.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * n1.v[i] ELSE 0.0 END)) AS sn1
        |  FROM embeddings e, t, p1, n1
        |  WHERE e.vec_id NOT IN (7, 11, 4)
        |    AND len(list_filter(range(1, 65), i -> e.embedding[i]::DOUBLE > 0.25
        |        AND (t.v[i] > 0.25 OR p1.v[i] > 0.25 OR n1.v[i] > 0.25))) > 0)
        |SELECT vec_id,
        |  round((CASE WHEN sp1 > sn1 THEN 1 WHEN sp1 < sn1 THEN -1 ELSE 0 END)::DOUBLE
        |      + 0.5*(st/(1+abs(st))+1), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_context_sparse" ->
      """WITH p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=11),
        |n2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |s AS (SELECT e.vec_id AS vec_id,
        |  least(
        |    list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND p1.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * p1.v[i] ELSE 0.0 END))
        |  - list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND n1.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * n1.v[i] ELSE 0.0 END))
        |  - 1.1920928955078125e-07, 0) AS d1,
        |  least(
        |    list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND p2.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * p2.v[i] ELSE 0.0 END))
        |  - list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND n2.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * n2.v[i] ELSE 0.0 END))
        |  - 1.1920928955078125e-07, 0) AS d2
        |  FROM embeddings e, p1, n1, p2, n2
        |  WHERE e.vec_id NOT IN (7, 4, 11, 20)
        |    AND len(list_filter(range(1, 65), i -> e.embedding[i]::DOUBLE > 0.25
        |        AND (p1.v[i] > 0.25 OR n1.v[i] > 0.25
        |          OR p2.v[i] > 0.25 OR n2.v[i] > 0.25))) > 0)
        |SELECT vec_id,
        |  round(d1/(1+abs(d1)) + d2/(1+abs(d2)), 6) + 0.0 AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_recommend_sparse_best" ->
      """WITH p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=11),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |s AS (SELECT e.vec_id AS vec_id,
        |  greatest(
        |    list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND p1.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * p1.v[i] ELSE 0.0 END)),
        |    list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND p2.v[i] > 0.25
        |           THEN e.embedding[i]::DOUBLE * p2.v[i] ELSE 0.0 END))) AS mp,
        |  list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND n1.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * n1.v[i] ELSE 0.0 END)) AS mn
        |  FROM embeddings e, p1, p2, n1
        |  WHERE len(list_filter(range(1, 65), i -> e.embedding[i]::DOUBLE > 0.25
        |        AND (p1.v[i] > 0.25 OR p2.v[i] > 0.25 OR n1.v[i] > 0.25))) > 0)
        |SELECT vec_id, round(CASE WHEN mp > mn THEN 0.5*(mp/(1+abs(mp))+1)
        |       ELSE -(0.5*(mn/(1+abs(mn))+1)) END, 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_create_collection" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |dfs AS (SELECT d.dim AS dim,
        |          (SELECT count(*) FROM embeddings e
        |           WHERE e.embedding[d.dim]::DOUBLE > 0.25)::DOUBLE AS df
        |        FROM dims d),
        |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * (q.v[i] * idf.l[i]) ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q, idf
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sparse_idf_partial" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |base AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
        |         WHERE vec_id % 5 <> 0),
        |n AS (SELECT count(*)::DOUBLE AS n FROM base),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |dfs AS (SELECT d.dim AS dim,
        |          (SELECT count(*) FROM base b
        |           WHERE b.ev[d.dim] > 0.25)::DOUBLE AS df
        |        FROM dims d),
        |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n)
        |SELECT b.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN b.ev[i] > 0.25 AND q.v[i] > 0.25
        |         THEN b.ev[i] * (q.v[i] * idf.l[i]) ELSE 0.0 END)), 6) AS score
        |FROM base b, q, idf
        |WHERE len(list_filter(range(1, 65), i ->
        |    b.ev[i] > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "collection_query_hybrid_idf" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |n AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS dim),
        |dfs AS (SELECT d.dim AS dim,
        |          (SELECT count(*) FROM embeddings e
        |           WHERE e.embedding[d.dim]::DOUBLE > 0.25)::DOUBLE AS df
        |        FROM dims d),
        |idf AS (SELECT list(ln((n.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |          ORDER BY f.dim) AS l FROM dfs f, n GROUP BY n.n),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS s
        |      FROM embeddings e, q
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ar AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM a),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_sum(list_transform(range(1, 65), i ->
        |          CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |               THEN e.embedding[i]::DOUBLE * (q.v[i] * idf.l[i])
        |               ELSE 0.0 END)), 6) AS s
        |      FROM embeddings e, q, idf
        |      WHERE len(list_filter(range(1, 65), i ->
        |          e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |br AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM b),
        |u AS (SELECT vec_id, 1.0/(pos + 1.0) AS c FROM ar
        |      UNION ALL SELECT vec_id, 1.0/(pos + 1.0) AS c FROM br)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_sparse_offset" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 5 OFFSET 3""".stripMargin,
    "api_query_with_vector_sparse" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score,
        |  len(e.embedding)::BIGINT AS dim,
        |  len(list_filter(e.embedding, x -> x::DOUBLE > 0.25))::BIGINT AS nnz,
        |  round(list_filter(e.embedding, x -> x::DOUBLE > 0.25)[1]::DOUBLE, 6) AS sv0,
        |  len(list_filter(e.embedding, x -> x::DOUBLE > 0.25))::BIGINT AS nnz_idf
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_with_vector_named" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score,
        |  len(list_filter(e.embedding, x -> x::DOUBLE > 0.25))::BIGINT AS nnz,
        |  FALSE AS has_dense, FALSE AS has_idf
        |FROM embeddings e, q
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "collection_groups_with_vector" ->
      """WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
        |                    label::VARCHAR AS gv, embedding AS emb
        |             FROM embeddings),
        |q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |scored AS (SELECT p.gv, p.id, p.emb,
        |             round(list_dot_product(p.v, q.v), 6) AS score
        |           FROM pts p, q),
        |ranked AS (SELECT *, row_number() OVER
        |             (PARTITION BY gv ORDER BY score DESC, id ASC) AS rank
        |           FROM scored),
        |hits AS (SELECT * FROM ranked WHERE rank <= 2),
        |tops AS (SELECT gv, score AS best FROM hits WHERE rank = 1
        |         ORDER BY best DESC, gv ASC LIMIT 4),
        |grps AS (SELECT gv, row_number() OVER (ORDER BY best DESC, gv ASC) AS grp_rank
        |         FROM tops)
        |SELECT h.gv AS group_value, h.id AS vec_id, h.score,
        |       h.rank::BIGINT AS rank, g.grp_rank::BIGINT AS grp_rank,
        |       len(h.emb)::BIGINT AS dim,
        |       len(list_filter(h.emb, x -> x::DOUBLE > 0.25))::BIGINT AS nnz
        |FROM hits h JOIN grps g ON g.gv = h.gv
        |ORDER BY grp_rank, rank""".stripMargin,
    "sparse_update_ops" ->
      """SELECT vec_id, round(score, 6) AS score FROM (
        |  SELECT vec_id,
        |    CASE WHEN vec_id = 7 THEN 5.0
        |         ELSE list_sum(list_transform([1, 2, 3], i ->
        |           CASE WHEN embedding[i]::DOUBLE > 0.25
        |                THEN embedding[i]::DOUBLE * 1.0 ELSE 0.0 END))
        |    END AS score,
        |    CASE WHEN vec_id = 7 THEN true
        |         WHEN vec_id = 13 THEN false
        |         ELSE len(list_filter([1, 2, 3], i ->
        |           embedding[i]::DOUBLE > 0.25)) > 0 END AS hit
        |  FROM embeddings WHERE vec_id < 100
        |  UNION ALL SELECT 1000, 3.0, true)
        |WHERE hit ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sparse_struct_postings" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_sparse_knn" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
        |SELECT e.vec_id AS vec_id,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |         THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS score
        |FROM embeddings e, q
        |WHERE len(list_filter(range(1, 65), i ->
        |    e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "api_query_hybrid_sparse" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS s
        |      FROM embeddings e, q WHERE e.label >= 1
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ar AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM a),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_sum(list_transform(range(1, 65), i ->
        |          CASE WHEN e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25
        |               THEN e.embedding[i]::DOUBLE * q.v[i] ELSE 0.0 END)), 6) AS s
        |      FROM embeddings e, q
        |      WHERE e.label >= 1 AND len(list_filter(range(1, 65), i ->
        |          e.embedding[i]::DOUBLE > 0.25 AND q.v[i] > 0.25)) > 0
        |      ORDER BY s DESC, vec_id ASC LIMIT 20),
        |br AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM b),
        |u AS (SELECT vec_id, 1.0/(pos + 1.0) AS c FROM ar
        |      UNION ALL SELECT vec_id, 1.0/(pos + 1.0) AS c FROM br)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "sparse_dot_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x = 'spark'))::DOUBLE AS c1,
        |  len(list_filter(toks, x -> x = 'vector'))::DOUBLE AS c2,
        |  len(list_filter(toks, x -> x = 'the'))::DOUBLE AS c3
        |  FROM t)
        |SELECT doc_id, round(c1 * 1.0 + c2 * 2.0 + c3 * 0.5, 6) AS score
        |FROM c WHERE c1 > 0 OR c2 > 0 OR c3 > 0
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "bm25_corpus_scoped" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
        |           FROM documents WHERE lang = 'en'),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM t),
        |params AS (SELECT (SELECT avg(dl) FROM lens) AS avgdl,
        |                  (SELECT count(*) FROM t)::DOUBLE AS n),
        |tf AS (SELECT doc_id, 'spark' AS dim,
        |         len(list_filter(toks, x -> x = 'spark'))::DOUBLE AS cnt FROM t
        |       UNION ALL
        |       SELECT doc_id, 'data' AS dim,
        |         len(list_filter(toks, x -> x = 'data'))::DOUBLE AS cnt FROM t),
        |tfpos AS (SELECT * FROM tf WHERE cnt > 0),
        |dfreq AS (SELECT dim, count(*)::DOUBLE AS df FROM tfpos GROUP BY dim),
        |scored AS (SELECT f.doc_id,
        |    sum((f.cnt * 2.2 / (1.2 * (1 - 0.75 + 0.75 * l.dl / p.avgdl) + f.cnt))
        |        * 1.0 * ln((p.n - d.df + 0.5) / (d.df + 0.5) + 1)) AS sc
        |  FROM tfpos f
        |  JOIN lens l USING (doc_id) JOIN dfreq d USING (dim), params p
        |  GROUP BY f.doc_id)
        |SELECT doc_id, round(sc, 6) AS score FROM scored
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "bm25_idf_search" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |lens AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM t),
        |params AS (SELECT (SELECT avg(dl) FROM lens) AS avgdl,
        |                  (SELECT count(*) FROM t)::DOUBLE AS n),
        |tf AS (SELECT doc_id, 'spark' AS dim,
        |         len(list_filter(toks, x -> x = 'spark'))::DOUBLE AS cnt FROM t
        |       UNION ALL
        |       SELECT doc_id, 'vector' AS dim,
        |         len(list_filter(toks, x -> x = 'vector'))::DOUBLE AS cnt FROM t),
        |tfpos AS (SELECT * FROM tf WHERE cnt > 0),
        |dfreq AS (SELECT dim, count(*)::DOUBLE AS df FROM tfpos GROUP BY dim),
        |scored AS (SELECT f.doc_id,
        |    sum((f.cnt * 2.2 / (1.2 * (1 - 0.75 + 0.75 * l.dl / p.avgdl) + f.cnt))
        |        * 1.0 * ln((p.n - d.df + 0.5) / (d.df + 0.5) + 1)) AS sc
        |  FROM tfpos f
        |  JOIN lens l USING (doc_id) JOIN dfreq d USING (dim), params p
        |  GROUP BY f.doc_id)
        |SELECT doc_id, round(sc, 6) AS score FROM scored
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
  )
}
