package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.filters.TypedResolver
import graft.model._
import graft.ops.{DistanceMatrix, Fusion, GroupBy, Mmr, PointQuery, Search}

/** Recommend / discover / context / fusion / group-by / distance-matrix /
  * MMR query catalog (SURVEY.md §2.3-2.4) with DuckDB oracles.
  *
  * Recommend/discover inputs are point ids resolved to vectors at the driver
  * (qdrant's resolve step, `lib/collection/src/collection/query.rs:456-546`).
  */
object RankQueries {

  private val mvecRecPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def v(s: SparkSession, dir: String, id: Long): Seq[Double] =
    Tables.embeddingOf(s, dir, id)

  /** The Float32 embeddings column as a Dot query space. */
  private val Emb = PointQuery.Space("embedding", Dot)
  private def dense(x: Seq[Double]): PointQuery.QueryVector = PointQuery.DenseVector(x)
  /** A custom query kind's score over [[Emb]], combined from per-example
    * similarities like the query executor's. */
  private def embScore(q: PointQuery.VectorScoring): Column =
    PointQuery.scoringExpr(q)._1

  /** The dense `average_vector` recommend query. */
  private def avgVector(pos: Seq[Seq[Double]], neg: Seq[Seq[Double]]): Seq[Double] = {
    val PointQuery.DenseVector(q) = PointQuery.average(
      pos.map(PointQuery.DenseVector), neg.map(PointQuery.DenseVector)): @unchecked
    q
  }

  private def topDot7(s: SparkSession, dir: String, k: Int): DataFrame =
    Search.knn(emb(s, dir), "vec_id", "embedding", v(s, dir, 7L), Dot, k = k)
  private def topCos42(s: SparkSession, dir: String, k: Int): DataFrame =
    Search.knn(emb(s, dir), "vec_id", "embedding", v(s, dir, 42L), Cosine, k = k)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lookup_from: positive/negative ids resolve against a DIFFERENT
    // collection (here a lookup table keyed by qid = vec_id + 10000 with its
    // own vector column name), then search runs on the primary collection.
    "recommend_lookup_from" -> ((s, dir) => {
      val lookup = emb(s, dir).filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("qid"), col("embedding").as("vec_alt"))
      def lv(id: Long) = Tables.embeddingFrom(lookup, "qid", "vec_alt", id)
      val q = avgVector(Seq(lv(10001L), lv(10002L)), Seq(lv(10004L)))
      Search.knn(emb(s, dir), "vec_id", "embedding", q, Dot, k = 10)
    }),
    // lookup_from with NAMED-VECTOR selection in the foreign collection
    // (`LookupLocation { collection, vector }`,
    // `lib/api/src/rest/schema.rs:1122-1133`): the foreign table carries
    // TWO named vector columns; ids resolve against the CHOSEN one
    // (vec_b = reversed embedding), so the result hash is distinguishable
    // from the vec_a choice — picking the wrong named vector fails.
    "recommend_lookup_from_named" -> ((s, dir) => {
      val lookup = emb(s, dir).filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("qid"),
          col("embedding").as("vec_a"),
          reverse(col("embedding")).as("vec_b"))
      def lv(id: Long) = Tables.embeddingFrom(lookup, "qid", "vec_b", id)
      val q = avgVector(Seq(lv(10001L), lv(10002L)), Seq(lv(10004L)))
      Search.knn(emb(s, dir), "vec_id", "embedding", q, Dot, k = 10)
    }),
    // lookup_from with a SHARD-KEY selector (`ShardKeySelector`,
    // `lib/api/src/rest/schema.rs:1122-1133`): the foreign collection is
    // partitioned by shard_key and the SAME qid resolves to a DIFFERENT
    // vector per shard (shard a: embedding of qid−10000; shard b: embedding
    // of qid−9950) — ignoring the selector or picking the wrong shard
    // produces a distinguishable result hash. The selector is a partition-
    // column filter, so at scale the resolve scan prunes to the shard's
    // files.
    "recommend_lookup_from_shard" -> ((s, dir) => {
      val lookup = emb(s, dir).filter(col("vec_id") < 100)
        .select(lit("a").as("shard_key"), (col("vec_id") + 10000).as("qid"),
          col("embedding").as("vec"))
        .unionByName(emb(s, dir).filter(col("vec_id") >= 50 && col("vec_id") < 150)
          .select(lit("b").as("shard_key"), (col("vec_id") + 9950).as("qid"),
            col("embedding").as("vec")))
      def lv(id: Long) = Tables.embeddingFromShards(
        lookup, "shard_key", Seq("b"), "qid", "vec", id)
      val q = avgVector(Seq(lv(10001L), lv(10003L)), Seq(lv(10005L)))
      Search.knn(emb(s, dir), "vec_id", "embedding", q, Dot, k = 10)
    }),
    "recommend_avg" -> ((s, dir) => {
      val q = avgVector(Seq(v(s, dir, 1), v(s, dir, 2), v(s, dir, 3)), Seq(v(s, dir, 4)))
      Search.knn(emb(s, dir), "vec_id", "embedding", q, Dot, k = 10)
    }),
    "recommend_best_score" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Recommend(Emb, "best_score",
        positives = Seq(v(s, dir, 1), v(s, dir, 2), v(s, dir, 3)).map(dense),
        negatives = Seq(dense(v(s, dir, 4)))))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    // best_score with ONLY negatives (`test_recommendation_multivector.py::
    // test_multi_best_score_works_with_only_negatives`; positives optional
    // per `reco_query.rs:63-90`): max_pos = −∞, so every point scores
    // −σ(max_neg) — ranked by least-bad negative match, all in (−1, 0).
    "recommend_best_only_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Recommend(Emb, "best_score",
        positives = Nil, negatives = Seq(v(s, dir, 4), v(s, dir, 11)).map(dense)))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    // Multivector `average_vector` recommend (`recommendations.rs:59-70,
    // 121-124`): the "average" of multi-dense examples is their
    // CONCATENATION, and negatives append NEGATED — one MaxSim search
    // with the merged matrix. Stored layout: 2×32-dim token vectors.
    "recommend_multivec_avg" -> ((s, dir) => {
      val path = "/tmp/graft_runtime/mvec_rec_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      // ingest-once per JVM (the deployment shape; this entry used to
      // rewrite the stored layout on every call — r16 optimization round,
      // result rows unchanged)
      mvecRecPaths.computeIfAbsent(path, { _ =>
        graft.storage.ParquetMeta.write(emb(s, dir).select(col("vec_id"),
            array(slice(col("embedding"), 1, 32), slice(col("embedding"), 33, 32))
              .as("vector_tok")),
          path, "overwrite")
        path
      })
      val stored = graft.storage.ParquetMeta.read(s, path)
      def mv(id: Long): Seq[Seq[Double]] = {
        val q = v(s, dir, id)
        Seq(q.slice(0, 32), q.slice(32, 64))
      }
      val PointQuery.MultiVector(merged) = PointQuery.average(
        Seq(mv(7), mv(8)).map(PointQuery.MultiVector),
        Seq(PointQuery.MultiVector(mv(4)))): @unchecked
      val expr = graft.functions.VectorFunctions.maxSim(Dot, col("vector_tok"), merged)
      Search.scoredTopK(stored, "vec_id", expr, largerBetter = true, k = 10)
    }),
    "recommend_sum_scores" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Recommend(Emb, "sum_scores",
        positives = Seq(v(s, dir, 1), v(s, dir, 2), v(s, dir, 3)).map(dense),
        negatives = Seq(dense(v(s, dir, 4)))))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    "discover" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Discover(Emb, target = dense(v(s, dir, 5)),
        pairs = Seq((dense(v(s, dir, 10)), dense(v(s, dir, 20))),
          (dense(v(s, dir, 30)), dense(v(s, dir, 40))))))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    "context" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Context(Emb,
        pairs = Seq((dense(v(s, dir, 10)), dense(v(s, dir, 20))),
          (dense(v(s, dir, 30)), dense(v(s, dir, 40))))))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    "feedback_naive" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Feedback(Emb, target = dense(v(s, dir, 5)),
        feedback = Seq((dense(v(s, dir, 10)), 0.9), (dense(v(s, dir, 20)), 0.4),
          (dense(v(s, dir, 30)), 0.1)),
        a = 1.0, b = 2.0, c = 0.5))
      Search.scoredTopK(e, "vec_id", expr, largerBetter = true, k = 10)
    }),
    "fusion_rrf" -> ((s, dir) => {
      Fusion.rrf(
        Seq(Fusion.Source(topDot7(s, dir, 20)), Fusion.Source(topCos42(s, dir, 20))),
        "vec_id", k = 2, weights = Some(Seq(1.0, 2.0)), limit = 10)
    }),
    "fusion_dbsf" -> ((s, dir) => {
      Fusion.dbsf(
        Seq(Fusion.Source(topDot7(s, dir, 20)), Fusion.Source(topCos42(s, dir, 20))),
        "vec_id", limit = 10)
    }),
    // DBSF with per-source weights (`score_fusion.rs` weighted sum after
    // the μ±3σ normalization).
    "fusion_dbsf_weighted" -> ((s, dir) => {
      Fusion.dbsf(
        Seq(Fusion.Source(topDot7(s, dir, 20)), Fusion.Source(topCos42(s, dir, 20))),
        "vec_id", weights = Some(Seq(1.0, 3.0)), limit = 10)
    }),
    "group_by_label" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = Search.scoreExpr(Dot, col("embedding"), typedLit(v(s, dir, 7)))
      GroupBy.groupBySearch(e, "vec_id", expr, largerBetter = true,
        groupByField = "label", resolver = new TypedResolver(e.schema, "vec_id"),
        groupSize = 3, groups = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // Groups endpoint over a NON-nearest query (`query/groups` accepts any
    // query type — `test_query_full.py::test_discover_group`): the group
    // ranking runs on the discover score expression, same two-window plan.
    "group_by_discover" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = embScore(PointQuery.Discover(Emb, target = dense(v(s, dir, 5)),
        pairs = Seq((dense(v(s, dir, 10)), dense(v(s, dir, 20))))))
      GroupBy.groupBySearch(e, "vec_id", expr, largerBetter = true,
        groupByField = "label", resolver = new TypedResolver(e.schema, "vec_id"),
        groupSize = 2, groups = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // Heterogeneous group-by keys (`test_group.py` heterogenousId;
    // `GroupId` `groups.rs:8-12`): strings and integers form groups, a
    // top-level array fans the point into every element's group, and
    // floats / objects / nested arrays / `[]` / `null` are SKIPPED.
    // The payload is JSON (VariantType path), so the type dispatch runs
    // per value via schema_of_variant.
    "group_by_hetero" -> ((s, dir) => {
      import graft.filters.JsonResolver
      val hid = expr("""
        CASE CAST(vec_id % 8 AS INT)
          WHEN 0 THEN concat('"g', CAST(label AS STRING), '"')
          WHEN 1 THEN CAST(label AS STRING)
          WHEN 2 THEN concat('[', CAST(label AS STRING), ',',
                             CAST(label + 1 AS STRING), ']')
          WHEN 3 THEN concat('["a', CAST(label AS STRING), '"]')
          WHEN 4 THEN '2.42'
          WHEN 5 THEN '{"x": 1}'
          WHEN 6 THEN '[]'
          ELSE 'null'
        END""")
      val pts = emb(s, dir).select(col("vec_id"), col("embedding"),
        concat(lit("{\"hid\": "), hid, lit("}")).as("payload"))
      val expr7 = Search.scoreExpr(Dot, col("embedding"), typedLit(v(s, dir, 7)))
      GroupBy.groupBySearch(pts, "vec_id", expr7, largerBetter = true,
        groupByField = "hid",
        resolver = new JsonResolver(col("payload"), Map.empty, col("vec_id")),
        groupSize = 2, groups = 6)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // group-by search + with_lookup: each group id doubles as a point id in
    // the lookup collection (here: the same table), broadcast-joined
    "group_by_lookup" -> ((s, dir) => {
      val e = emb(s, dir)
      val expr = Search.scoreExpr(Dot, col("embedding"), typedLit(v(s, dir, 7)))
      val grouped = GroupBy.groupBySearch(e, "vec_id", expr, largerBetter = true,
        groupByField = "label", resolver = new TypedResolver(e.schema, "vec_id"),
        groupSize = 2, groups = 5, keepGroupRank = true)
      GroupBy.withLookup(grouped,
          e.select(col("vec_id").as("_lk"), col("label").as("lookup_label")),
          "_lk", Seq("lookup_label"))
        .select(col("group_value"), col("vec_id"), col("score"),
          col("rank").cast("long").as("rank"),
          col("grp_rank").cast("long").as("grp_rank"), col("lookup_label"))
        .orderBy(col("grp_rank"), col("rank"))
    }),
    "distance_matrix_pairs" -> ((s, dir) => {
      DistanceMatrix.pairs(emb(s, dir), "vec_id", "embedding", Cosine,
        samplePred = col("vec_id") < 20, limitPerSample = 3)
    }),
    // CSR/offsets response form of the distance matrix: per sample id, the
    // rank-ordered neighbor list (flattened to CSV for the oracle compare)
    "distance_matrix_offsets" -> ((s, dir) => {
      val p = DistanceMatrix.pairs(emb(s, dir), "vec_id", "embedding", Cosine,
        samplePred = col("vec_id") < 20, limitPerSample = 3)
      DistanceMatrix.offsets(p, largerBetter = true)
        .select(col("id_a"), concat_ws(",", col("ids")).as("ids_csv"))
    }),
    // MMR derived contract (the greedy loop is not SQL-expressible; the
    // DuckDB oracle asserts this one-row contract instead): the rerank
    // returns exactly `limit` rows, every returned id is a candidate, the
    // first pick is the max-relevance candidate (MMR's defined first step),
    // and positions are exactly 1..limit in selection order. The greedy
    // argmax itself is property-tested against a reference loop in
    // PipelineSpec.
    "mmr_rerank" -> ((s, dir) => {
      val cands = Search.knn(emb(s, dir), "vec_id", "embedding", v(s, dir, 7L), Dot,
        k = 50, extraCols = Seq("embedding"))
      val res = Mmr.rerank(s, cands, "vec_id", PointQuery.Space("embedding", Dot),
        PointQuery.DenseVector(v(s, dir, 7L)),
        lambda = 0.5, limit = 10)
      // bounded driver-side check: 50 candidate rows, 10 result rows
      val cRows = cands.select(col("vec_id"), col("score")).collect()
      val cIds = cRows.map(_.get(0)).toSet
      val maxScore = cRows.map(_.getDouble(1)).max
      val rRows = res.orderBy(col("position")).collect()
      import s.implicits._
      Seq((rRows.length,
          rRows.forall(r => cIds(r.get(0))),
          // epsilon: the first pick's score is rounded to 6 decimals while
          // Mmr argmaxes the unrounded recomputed relevance — exact equality
          // could flip on a rounding-boundary near-tie
          rRows.headOption.exists(_.getDouble(1) >= maxScore - 1e-6),
          rRows.map(_.getInt(2)).toSeq == (1 to rRows.length)))
        .toDF("n", "subset_ok", "first_is_top", "positions_ok")
    }),
    // Random-sample derived contract: exactly n rows, all ids from the
    // table, no duplicates, and deterministic under the fixed seed (two
    // independent plans produce the identical sample).
    "sample_random" -> ((s, dir) => {
      def sample() = emb(s, dir).orderBy(rand(42L), col("vec_id")).limit(20)
        .select("vec_id")
      val a = sample().collect().map(_.getLong(0)).toSeq
      val b = sample().collect().map(_.getLong(0)).toSeq
      val inTable = emb(s, dir).filter(col("vec_id").isin(a: _*)).count()
      import s.implicits._
      Seq((a.length, inTable == a.length, a.distinct.length == a.length, a == b))
        .toDF("n", "subset_ok", "distinct_ok", "deterministic_ok")
    }),
  )

  private val eps = "1.1920928955078125e-07"

  val oracles: Map[String, String] = Map(
    "recommend_lookup_from" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
        |q AS (SELECT d.i AS i,
        |  2 * (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (1,2))
        |    - (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (4)) AS w
        |  FROM dims d),
        |s AS (SELECT e.vec_id AS vec_id, sum(e.embedding[q.i]::DOUBLE * q.w) AS sc
        |      FROM embeddings e CROSS JOIN q GROUP BY e.vec_id)
        |SELECT vec_id, round(sc, 6) AS score FROM s
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    // named-vector choice: same pipeline, weights from the REVERSED
    // embedding (embedding[65-i]) — the vec_b column of the lookup table
    "recommend_lookup_from_named" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
        |q AS (SELECT d.i AS i,
        |  2 * (SELECT avg(embedding[65 - d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (1,2))
        |    - (SELECT avg(embedding[65 - d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (4)) AS w
        |  FROM dims d),
        |s AS (SELECT e.vec_id AS vec_id, sum(e.embedding[q.i]::DOUBLE * q.w) AS sc
        |      FROM embeddings e CROSS JOIN q GROUP BY e.vec_id)
        |SELECT vec_id, round(sc, 6) AS score FROM s
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    // shard-key choice: shard b's vector for qid is embedding of qid−9950,
    // so positives {10001,10003} → vec_ids {51,53}, negative {10005} → {55}
    "recommend_lookup_from_shard" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
        |q AS (SELECT d.i AS i,
        |  2 * (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (51,53))
        |    - (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (55)) AS w
        |  FROM dims d),
        |s AS (SELECT e.vec_id AS vec_id, sum(e.embedding[q.i]::DOUBLE * q.w) AS sc
        |      FROM embeddings e CROSS JOIN q GROUP BY e.vec_id)
        |SELECT vec_id, round(sc, 6) AS score FROM s
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "recommend_avg" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
        |q AS (SELECT d.i AS i,
        |  2 * (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (1,2,3))
        |    - (SELECT avg(embedding[d.i]::DOUBLE) FROM embeddings WHERE vec_id IN (4)) AS w
        |  FROM dims d),
        |s AS (SELECT e.vec_id AS vec_id, sum(e.embedding[q.i]::DOUBLE * q.w) AS sc
        |      FROM embeddings e CROSS JOIN q GROUP BY e.vec_id)
        |SELECT vec_id, round(sc, 6) AS score FROM s
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "recommend_best_only_negatives" ->
      """WITH q4 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |q11 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=11),
        |s AS (SELECT e.vec_id AS vec_id,
        |  greatest(list_dot_product(e.embedding::DOUBLE[], q4.v),
        |           list_dot_product(e.embedding::DOUBLE[], q11.v)) AS mn
        |  FROM embeddings e, q4, q11)
        |SELECT vec_id, round(-(0.5*(mn/(1+abs(mn))+1)), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "recommend_multivec_avg" ->
      """WITH q AS (SELECT
        |    a.embedding[1:32]::DOUBLE[] AS q1, a.embedding[33:64]::DOUBLE[] AS q2,
        |    b.embedding[1:32]::DOUBLE[] AS q3, b.embedding[33:64]::DOUBLE[] AS q4,
        |    list_transform(c.embedding[1:32]::DOUBLE[], x -> -x) AS q5,
        |    list_transform(c.embedding[33:64]::DOUBLE[], x -> -x) AS q6
        |  FROM embeddings a, embeddings b, embeddings c
        |  WHERE a.vec_id = 7 AND b.vec_id = 8 AND c.vec_id = 4),
        |t AS (SELECT vec_id, embedding[1:32]::DOUBLE[] AS e1,
        |             embedding[33:64]::DOUBLE[] AS e2 FROM embeddings)
        |SELECT t.vec_id AS vec_id, round(
        |    greatest(list_dot_product(e1,q.q1), list_dot_product(e2,q.q1))
        |  + greatest(list_dot_product(e1,q.q2), list_dot_product(e2,q.q2))
        |  + greatest(list_dot_product(e1,q.q3), list_dot_product(e2,q.q3))
        |  + greatest(list_dot_product(e1,q.q4), list_dot_product(e2,q.q4))
        |  + greatest(list_dot_product(e1,q.q5), list_dot_product(e2,q.q5))
        |  + greatest(list_dot_product(e1,q.q6), list_dot_product(e2,q.q6)), 6) AS score
        |FROM t, q ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "recommend_best_score" ->
      """WITH q1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=1),
        |q2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=2),
        |q3 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=3),
        |q4 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4),
        |s AS (SELECT e.vec_id AS vec_id,
        |  greatest(list_dot_product(e.embedding::DOUBLE[], q1.v),
        |           list_dot_product(e.embedding::DOUBLE[], q2.v),
        |           list_dot_product(e.embedding::DOUBLE[], q3.v)) AS mp,
        |  list_dot_product(e.embedding::DOUBLE[], q4.v) AS mn
        |  FROM embeddings e, q1, q2, q3, q4)
        |SELECT vec_id,
        |  round(CASE WHEN mp > mn THEN 0.5*(mp/(1+abs(mp))+1)
        |             ELSE -(0.5*(mn/(1+abs(mn))+1)) END, 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "recommend_sum_scores" ->
      """WITH q1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=1),
        |q2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=2),
        |q3 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=3),
        |q4 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=4)
        |SELECT e.vec_id AS vec_id,
        |  round((list_dot_product(e.embedding::DOUBLE[], q1.v)
        |       + list_dot_product(e.embedding::DOUBLE[], q2.v)
        |       + list_dot_product(e.embedding::DOUBLE[], q3.v))
        |      - list_dot_product(e.embedding::DOUBLE[], q4.v), 6) AS score
        |FROM embeddings e, q1, q2, q3, q4
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "discover" ->
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=5),
        |p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
        |n2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=40),
        |s AS (SELECT e.vec_id AS vec_id,
        |  list_dot_product(e.embedding::DOUBLE[], t.v) AS st,
        |  list_dot_product(e.embedding::DOUBLE[], p1.v) AS sp1,
        |  list_dot_product(e.embedding::DOUBLE[], n1.v) AS sn1,
        |  list_dot_product(e.embedding::DOUBLE[], p2.v) AS sp2,
        |  list_dot_product(e.embedding::DOUBLE[], n2.v) AS sn2
        |  FROM embeddings e, t, p1, n1, p2, n2)
        |SELECT vec_id,
        |  round((CASE WHEN sp1 > sn1 THEN 1 WHEN sp1 < sn1 THEN -1 ELSE 0 END
        |       + CASE WHEN sp2 > sn2 THEN 1 WHEN sp2 < sn2 THEN -1 ELSE 0 END)::DOUBLE
        |      + 0.5*(st/(1+abs(st))+1), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "context" ->
      s"""WITH p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
         |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
         |p2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
         |n2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=40),
         |s AS (SELECT e.vec_id AS vec_id,
         |  least(list_dot_product(e.embedding::DOUBLE[], p1.v)
         |      - list_dot_product(e.embedding::DOUBLE[], n1.v) - $eps, 0) AS d1,
         |  least(list_dot_product(e.embedding::DOUBLE[], p2.v)
         |      - list_dot_product(e.embedding::DOUBLE[], n2.v) - $eps, 0) AS d2
         |  FROM embeddings e, p1, n1, p2, n2)
         |SELECT vec_id,
         |  round(d1/(1+abs(d1)) + d2/(1+abs(d2)), 6) AS score
         |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "feedback_naive" ->
      // pairs with positive feedback-score delta, partial = delta^b * c
      // computed in SQL from the same literal scores (0.9, 0.4, 0.1)
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=5),
        |f1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |f2 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |f3 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=30),
        |s AS (SELECT e.vec_id AS vec_id,
        |  list_dot_product(e.embedding::DOUBLE[], t.v) AS st,
        |  list_dot_product(e.embedding::DOUBLE[], f1.v) AS s1,
        |  list_dot_product(e.embedding::DOUBLE[], f2.v) AS s2,
        |  list_dot_product(e.embedding::DOUBLE[], f3.v) AS s3
        |  FROM embeddings e, t, f1, f2, f3)
        |SELECT vec_id,
        |  round(1.0 * st
        |    + power(0.9 - 0.4, 2.0) * 0.5 * (s1 - s2)
        |    + power(0.9 - 0.1, 2.0) * 0.5 * (s1 - s3)
        |    + power(0.4 - 0.1, 2.0) * 0.5 * (s2 - s3), 6) AS score
        |FROM s ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "fusion_rrf" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=42),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS s
        |      FROM embeddings e, q7 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ar AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM a),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q42.v, q42.v))), 6) AS s
        |      FROM embeddings e, q42 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |br AS (SELECT vec_id, row_number() OVER (ORDER BY s DESC, vec_id ASC) AS pos FROM b),
        |u AS (SELECT vec_id, 1.0/(pos/1.0 + 1.0) AS c FROM ar
        |      UNION ALL SELECT vec_id, 1.0/(pos/2.0 + 1.0) AS c FROM br)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "fusion_dbsf" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=42),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS s
        |      FROM embeddings e, q7 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q42.v, q42.v))), 6) AS s
        |      FROM embeddings e, q42 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ast AS (SELECT avg(s) AS m, coalesce(stddev_samp(s), 0) AS sd, count(*) AS n FROM a),
        |bst AS (SELECT avg(s) AS m, coalesce(stddev_samp(s), 0) AS sd, count(*) AS n FROM b),
        |an AS (SELECT vec_id, CASE WHEN n = 1 OR sd = 0 THEN 0.5
        |         ELSE (s - (m - 3*sd)) / (6*sd) END AS c FROM a, ast),
        |bn AS (SELECT vec_id, CASE WHEN n = 1 OR sd = 0 THEN 0.5
        |         ELSE (s - (m - 3*sd)) / (6*sd) END AS c FROM b, bst),
        |u AS (SELECT * FROM an UNION ALL SELECT * FROM bn)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "fusion_dbsf_weighted" ->
      """WITH q7 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |q42 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=42),
        |a AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q7.v), 6) AS s
        |      FROM embeddings e, q7 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |b AS (SELECT e.vec_id AS vec_id,
        |        round(list_dot_product(e.embedding::DOUBLE[], q42.v)
        |          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
        |             * sqrt(list_dot_product(q42.v, q42.v))), 6) AS s
        |      FROM embeddings e, q42 ORDER BY s DESC, vec_id ASC LIMIT 20),
        |ast AS (SELECT avg(s) AS m, coalesce(stddev_samp(s), 0) AS sd, count(*) AS n FROM a),
        |bst AS (SELECT avg(s) AS m, coalesce(stddev_samp(s), 0) AS sd, count(*) AS n FROM b),
        |an AS (SELECT vec_id, (CASE WHEN n = 1 OR sd = 0 THEN 0.5
        |         ELSE (s - (m - 3*sd)) / (6*sd) END) * 1.0 AS c FROM a, ast),
        |bn AS (SELECT vec_id, (CASE WHEN n = 1 OR sd = 0 THEN 0.5
        |         ELSE (s - (m - 3*sd)) / (6*sd) END) * 3.0 AS c FROM b, bst),
        |u AS (SELECT * FROM an UNION ALL SELECT * FROM bn)
        |SELECT vec_id, round(sum(c), 6) AS score FROM u GROUP BY vec_id
        |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,
    "group_by_label" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |scored AS (SELECT e.vec_id AS vec_id, e.label AS group_value,
        |             round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score
        |           FROM embeddings e, q),
        |ranked AS (SELECT *, row_number() OVER
        |             (PARTITION BY group_value ORDER BY score DESC, vec_id ASC) AS rank
        |           FROM scored),
        |hits AS (SELECT * FROM ranked WHERE rank <= 3),
        |best AS (SELECT group_value, max(score) AS best FROM hits GROUP BY group_value),
        |topg AS (SELECT group_value, best,
        |           row_number() OVER (ORDER BY best DESC, group_value ASC) AS gr
        |         FROM best)
        |SELECT h.group_value AS group_value, h.vec_id AS vec_id,
        |       h.score AS score, h.rank AS rank
        |FROM hits h JOIN topg t USING (group_value) WHERE t.gr <= 4
        |ORDER BY t.gr ASC, h.rank ASC""".stripMargin,
    "group_by_discover" ->
      """WITH t AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=5),
        |p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=10),
        |n1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=20),
        |scored AS (SELECT e.vec_id AS vec_id, e.label AS group_value,
        |    round((CASE WHEN list_dot_product(e.embedding::DOUBLE[], p1.v)
        |                   > list_dot_product(e.embedding::DOUBLE[], n1.v) THEN 1
        |                WHEN list_dot_product(e.embedding::DOUBLE[], p1.v)
        |                   < list_dot_product(e.embedding::DOUBLE[], n1.v) THEN -1
        |                ELSE 0 END)::DOUBLE
        |      + 0.5*(list_dot_product(e.embedding::DOUBLE[], t.v)
        |             / (1+abs(list_dot_product(e.embedding::DOUBLE[], t.v))) + 1),
        |      6) AS score
        |  FROM embeddings e, t, p1, n1),
        |ranked AS (SELECT *, row_number() OVER
        |             (PARTITION BY group_value ORDER BY score DESC, vec_id ASC) AS rank
        |           FROM scored),
        |hits AS (SELECT * FROM ranked WHERE rank <= 2),
        |best AS (SELECT group_value, max(score) AS best FROM hits GROUP BY group_value),
        |topg AS (SELECT group_value, best,
        |           row_number() OVER (ORDER BY best DESC, group_value ASC) AS gr
        |         FROM best)
        |SELECT h.group_value AS group_value, h.vec_id AS vec_id,
        |       h.score AS score, h.rank AS rank
        |FROM hits h JOIN topg t2 USING (group_value) WHERE t2.gr <= 4
        |ORDER BY t2.gr ASC, h.rank ASC""".stripMargin,
    "group_by_hetero" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |vals AS (
        |  SELECT e.vec_id AS vec_id, 'g' || CAST(e.label AS VARCHAR) AS group_value
        |    FROM embeddings e WHERE e.vec_id % 8 = 0
        |  UNION ALL SELECT e.vec_id, CAST(e.label AS VARCHAR)
        |    FROM embeddings e WHERE e.vec_id % 8 = 1
        |  UNION ALL SELECT e.vec_id, CAST(e.label AS VARCHAR)
        |    FROM embeddings e WHERE e.vec_id % 8 = 2
        |  UNION ALL SELECT e.vec_id, CAST(e.label + 1 AS VARCHAR)
        |    FROM embeddings e WHERE e.vec_id % 8 = 2
        |  UNION ALL SELECT e.vec_id, 'a' || CAST(e.label AS VARCHAR)
        |    FROM embeddings e WHERE e.vec_id % 8 = 3),
        |scored AS (SELECT v.vec_id AS vec_id, v.group_value AS group_value,
        |             round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score
        |           FROM vals v JOIN embeddings e ON e.vec_id = v.vec_id, q),
        |ranked AS (SELECT *, row_number() OVER
        |             (PARTITION BY group_value ORDER BY score DESC, vec_id ASC) AS rank
        |           FROM scored),
        |hits AS (SELECT * FROM ranked WHERE rank <= 2),
        |best AS (SELECT group_value, max(score) AS best FROM hits GROUP BY group_value),
        |topg AS (SELECT group_value, best,
        |           row_number() OVER (ORDER BY best DESC, group_value ASC) AS gr
        |         FROM best)
        |SELECT h.group_value AS group_value, h.vec_id AS vec_id,
        |       h.score AS score, h.rank AS rank
        |FROM hits h JOIN topg t USING (group_value) WHERE t.gr <= 6
        |ORDER BY t.gr ASC, h.rank ASC""".stripMargin,
    "group_by_lookup" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id=7),
        |scored AS (SELECT e.vec_id AS vec_id, e.label AS group_value,
        |             round(list_dot_product(e.embedding::DOUBLE[], q.v), 6) AS score
        |           FROM embeddings e, q),
        |ranked AS (SELECT *, row_number() OVER
        |             (PARTITION BY group_value ORDER BY score DESC, vec_id ASC) AS rank
        |           FROM scored),
        |hits AS (SELECT * FROM ranked WHERE rank <= 2),
        |best AS (SELECT group_value, max(score) AS best FROM hits GROUP BY group_value),
        |topg AS (SELECT group_value, best,
        |           row_number() OVER (ORDER BY best DESC, group_value ASC) AS gr
        |         FROM best)
        |SELECT h.group_value AS group_value, h.vec_id AS vec_id, h.score AS score,
        |       h.rank AS rank, t.gr AS grp_rank, lk.label AS lookup_label
        |FROM hits h JOIN topg t USING (group_value)
        |LEFT JOIN embeddings lk ON lk.vec_id = h.group_value
        |WHERE t.gr <= 5
        |ORDER BY t.gr ASC, h.rank ASC""".stripMargin,
    "distance_matrix_pairs" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        round(list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
        |      FROM s a JOIN s b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rn
        |      FROM p)
        |SELECT id_a, id_b, score FROM r WHERE rn <= 3
        |ORDER BY id_a ASC, score DESC, id_b ASC""".stripMargin,
    "distance_matrix_offsets" ->
      """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        round(list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
        |      FROM s a JOIN s b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rn
        |      FROM p)
        |SELECT id_a, string_agg(id_b::VARCHAR, ',' ORDER BY score DESC, id_b ASC) AS ids_csv
        |FROM r WHERE rn <= 3 GROUP BY id_a ORDER BY id_a ASC""".stripMargin,
    // greedy loop / Spark rand are not SQL-expressible — the entries emit
    // one-row derived contracts (see their scaladoc) the oracle asserts:
    "mmr_rerank" ->
      "SELECT 10 AS n, true AS subset_ok, true AS first_is_top, true AS positions_ok",
    "sample_random" ->
      "SELECT 20 AS n, true AS subset_ok, true AS distinct_ok, true AS deterministic_ok",
  )
}
