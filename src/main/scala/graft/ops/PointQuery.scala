package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.filters.{FieldResolver, FilterCompiler}
import graft.index.VectorCodec
import graft.model._

/** The universal query API: a prefetch DAG where each node runs its own
  * sub-query and the parent rescoring runs over the union of child results.
  *
  * Mirrors qdrant's `CollectionPrefetch`/`ShardQueryRequest` planning
  * (`lib/collection/src/operations/universal_query/collection_query.rs:510-545`,
  * `lib/shard/src/query/planned_query.rs:14-120`,
  * `lib/collection/src/shards/local_shard/query.rs:203-300`): Fusion and
  * Formula are only valid with prefetches; Vector/OrderBy/Sample leaves
  * execute as searches/scrolls; rescoring over children is a semi-join on
  * candidate ids.
  *
  * Spark shape: children produce small (≤ limit) ranked lists; the parent
  * rescore semi-joins the points table on those ids — broadcast-sized by
  * construction, so nested DAGs never re-scan more than the leaves did.
  */
object PointQuery {

  /** The vector space a query kind scores against: the stored column, its
    * metric, its storage element type (`VectorDataConfig.datatype`,
    * `types.rs:2153` — the scorer reads the stored column in that width)
    * and, for a sparse space, its `modifier` (`"idf"` weights every
    * query-side vector, `query_context.rs:278-300`). Whether the space is
    * dense, sparse or multivector is the kind of the [[QueryVector]]s a
    * query carries against it. */
  final case class Space(col: String, metric: Metric,
      datatype: VectorDatatype = Float32, modifier: Option[String] = None)

  /** A query-side vector — the reference's `VectorInternal`
    * (`data_types/vectors.rs`): dense, sparse (sorted unique indices) or
    * a multi-dense token matrix. */
  sealed trait QueryVector
  final case class DenseVector(values: Seq[Double]) extends QueryVector
  final case class SparseVector(indices: Seq[Long], values: Seq[Double]) extends QueryVector
  final case class MultiVector(rows: Seq[Seq[Double]]) extends QueryVector

  sealed trait Scoring
  /** One of qdrant's vector query kinds (`QueryEnum`,
    * `lib/shard/src/query/query_enum.rs:9-16`), generic over the vector it
    * carries like the reference's: every per-example similarity goes
    * through [[similarity]], so one case class serves dense, sparse and
    * multivector spaces and every storage width. */
  sealed trait VectorScoring extends Scoring {
    def space: Space
    /** Every query-side vector of the node. */
    def vectors: Seq[QueryVector]
    /** The node with `f` applied to every query-side vector. */
    def mapVectors(f: QueryVector => QueryVector): VectorScoring
  }
  final case class Nearest(space: Space, vector: QueryVector) extends VectorScoring {
    def vectors: Seq[QueryVector] = Seq(vector)
    def mapVectors(f: QueryVector => QueryVector): Nearest = copy(vector = f(vector))
  }
  /** Recommend, strategy ∈ average_vector / best_score / sum_scores
    * (`recommendations.rs`, `reco_query.rs`). positives are optional for
    * best_score / sum_scores (`test_recommendation_multivector.py::
    * test_multi_best_score_works_with_only_negatives`). */
  final case class Recommend(space: Space, strategy: String,
      positives: Seq[QueryVector], negatives: Seq[QueryVector]) extends VectorScoring {
    def vectors: Seq[QueryVector] = positives ++ negatives
    def mapVectors(f: QueryVector => QueryVector): Recommend =
      copy(positives = positives.map(f), negatives = negatives.map(f))
  }
  final case class Discover(space: Space, target: QueryVector,
      pairs: Seq[(QueryVector, QueryVector)]) extends VectorScoring {
    def vectors: Seq[QueryVector] = target +: pairs.flatMap(p => Seq(p._1, p._2))
    def mapVectors(f: QueryVector => QueryVector): Discover =
      copy(target = f(target), pairs = pairs.map(p => (f(p._1), f(p._2))))
  }
  final case class Context(space: Space,
      pairs: Seq[(QueryVector, QueryVector)]) extends VectorScoring {
    def vectors: Seq[QueryVector] = pairs.flatMap(p => Seq(p._1, p._2))
    def mapVectors(f: QueryVector => QueryVector): Context =
      copy(pairs = pairs.map(p => (f(p._1), f(p._2))))
  }
  /** Relevance feedback, naive strategy (`FeedbackStrategy::Naive`). */
  final case class Feedback(space: Space, target: QueryVector,
      feedback: Seq[(QueryVector, Double)],
      a: Double, b: Double, c: Double) extends VectorScoring {
    def vectors: Seq[QueryVector] = target +: feedback.map(_._1)
    def mapVectors(f: QueryVector => QueryVector): Feedback =
      copy(target = f(target), feedback = feedback.map(p => (f(p._1), p._2)))
  }
  /** MMR rescore over prefetch candidates (`lib/shard/src/query/mmr/
    * mod.rs:42-170`, vector-kind-agnostic like the reference): relevance
    * is the nearest score, and the pairwise step uses the vector kind's
    * similarity ([[Mmr.rerank]]). */
  final case class MmrQ(space: Space, vector: QueryVector,
      lambda: Double) extends VectorScoring {
    def vectors: Seq[QueryVector] = Seq(vector)
    def mapVectors(f: QueryVector => QueryVector): MmrQ = copy(vector = f(vector))
  }
  /** Sparse-dot leaf over a tokens column: Σ_terms weight·tf(term) — the
    * per-row form of [[graft.index.SparseIndex.search]]'s TF×weight scoring,
    * usable as a prefetch leaf (the sparse half of the canonical hybrid
    * dense+sparse→RRF query, `tests/openapi/test_query.py`). Query terms are
    * few, so the score is one codegen'd projection — no posting join. */
  final case class SparseDotQ(tokensCol: String, terms: Seq[(String, Double)])
      extends Scoring
  final case class OrderByField(field: String, asc: Boolean,
      startFrom: Option[Any] = None) extends Scoring
  /** A node with NO `query` — a plain scroll in id order
    * (`planned_query.rs:189`: `query: None` → scroll without order; the
    * `{"prefetch": {"limit": 1000}}` form of `test_query.py`). */
  case object ScrollById extends Scoring
  final case class SampleRandom(seed: Long) extends Scoring
  /** rrf or dbsf over prefetches; `rrfK` = the RRF k parameter (wire form
    * `RrfQuery.rrf.k`, `schema.rs:726-729`; default 2,
    * `reciprocal_rank_fusion.rs:14`). */
  final case class FusionQ(kind: String, weights: Option[Seq[Double]] = None,
      rrfK: Option[Int] = None) extends Scoring
  final case class FormulaQ(ast: Formula.Expr, defaultScore: Double = 0.0) extends Scoring
  /** Wire `SearchParams` (`types.rs:573-618`): `exact` / `quantization.
    * ignore` bypass the quantized two-phase route, `quantization.rescore
    * = false` returns the approx ranking without the exact second phase,
    * `oversampling` sizes the approx candidate pool, and `hnsw_ef`
    * overrides the declared IVF nprobe (`exact` also skips the IVF cell
    * prune). `indexed_only` is accepted and ignored. Like the reference's,
    * they apply to every dense Nearest node without prefetches, root or
    * prefetch leaf: the collection turns them into the node's [[Query.cells]]
    * and [[Query.approx]]. Rescore parents and the other kinds scan
    * exactly. */
  final case class SearchParams(
      exact: Boolean = false,
      quantIgnore: Boolean = false,
      rescore: Boolean = true,
      oversampling: Option[Double] = None,
      /** Per-request recall knob (`hnsw_ef`): overrides the declared IVF
        * nprobe on an ANN-indexed collection. */
      hnswEf: Option[Int] = None,
      /** `params.idf` (`IdfParams`, `types.rs:689-745`): which population
        * sparse IDF statistics compute over. None = parameter absent;
        * Some(None) = explicit `"global"` (same as absent);
        * Some(Some(f)) = `{"corpus": <filter>}` — N and per-dim document
        * frequencies come from the points matching f, INDEPENDENT of the
        * retrieval filter. Only applicable to an idf-modified sparse
        * space — anywhere else the request REJECTS rather than silently
        * ignoring a scoring-changing knob (`query_context.rs:31-39`). */
      idf: Option[Option[Filter]] = None)

  final case class Query(
      scoring: Scoring,
      prefetches: Seq[Query] = Nil,
      filter: Option[Filter] = None,
      limit: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None,
      params: Option[SearchParams] = None,
      /** Same-collection point ids referenced as vector inputs anywhere in
        * the request (root AND nested prefetches; ids resolved through a
        * foreign `lookup_from` collection are exempt). The reference
        * EXCLUDES these from the results by merging `must_not HasId(ids)`
        * into the root filter (`collection_query.rs:523-531`
        * `exclude_referenced_ids`, applied at `:701-705`; asserted by
        * `tests/openapi/test_query_full.py:160`). Kept OUT of [[filter]]
        * until [[resolveExclusion]] so the strict-mode gate counts only the
        * USER's conditions — the reference injects after verification. */
      excludeIds: Seq[Any] = Nil,
      /** The declared IVF cells this node scans, probed by the collection
        * from [[params]] (None = every cell). */
      cells: Option[Search.Cells] = None,
      /** The quantized approx phase this node searches in, from the
        * collection's fitted params and [[params]] (None = one exact
        * phase). */
      approx: Option[Search.Approx] = None)

  /** Merge the collected referenced-id exclusion into the root filter
    * (ref `exclude_referenced_ids`, `collection_query.rs:523-531`). The
    * root filter propagates into every prefetch leaf at execution
    * (`planned_query.rs:325` merges the global filter into all prefetches),
    * so one root-level injection covers the whole DAG. Idempotent: the
    * merged query carries no excludeIds. */
  def resolveExclusion(q: Query): Query =
    if (q.excludeIds.isEmpty) q
    else q.copy(
      filter = Filter.mergeOpts(
        Some(Filter(mustNot = Seq(HasId(q.excludeIds)))), q.filter),
      excludeIds = Nil)

  /** Score expression + larger-better orientation for a scoring LEAF —
    * shared by the DAG executor and the group-by endpoint (any scorable
    * root can group, `query/groups` over nearest/recommend/discover/
    * context/feedback). The custom kinds combine per-example
    * [[similarity]] columns exactly as the reference's `RecoQuery` /
    * `DiscoveryQuery` / `ContextQuery` / `FeedbackQuery` do, for every
    * vector kind. */
  private[graft] def scoringExpr(s: Scoring): (Column, Boolean) = {
    def sim(sp: Space)(v: QueryVector): Column = similarity(sp, v)._1
    s match {
      case Nearest(sp, v) => similarity(sp, v, nearest = true)
      case Recommend(sp, "average_vector", pos, neg) =>
        similarity(sp, average(pos, neg), nearest = true)
      case Recommend(sp, "best_score", pos, neg) =>
        (Search.bestScoreCombine(pos.map(sim(sp)), neg.map(sim(sp))), true)
      case Recommend(sp, "sum_scores", pos, neg) =>
        (Search.sumScoresCombine(pos.map(sim(sp)), neg.map(sim(sp))), true)
      case Recommend(_, other, _, _) =>
        throw new IllegalArgumentException(s"unknown recommend strategy '$other'")
      case Discover(sp, target, pairs) =>
        (Search.discoverCombine(sim(sp)(target),
          pairs.map { case (p, n) => (sim(sp)(p), sim(sp)(n)) }), true)
      case Context(sp, pairs) =>
        (Search.contextCombine(
          pairs.map { case (p, n) => (sim(sp)(p), sim(sp)(n)) }), true)
      case Feedback(sp, target, fb, a, b, c) =>
        (Search.feedbackNaiveCombine(sim(sp)(target),
          fb.map { case (v, w) => (sim(sp)(v), w) }, a, b, c), true)
      case SparseDotQ(tc, terms) =>
        (terms.map { case (t, w) =>
          lit(w) * size(filter(col(tc), x => x === lit(t))).cast("double")
        }.reduce(_ + _), true)
      case other =>
        throw new IllegalArgumentException(s"$other is not a scoring leaf")
    }
  }

  // ---- vector kinds: the only code that looks at a vector's kind ----

  /** The similarity of the space's STORED column to one query-side vector,
    * and whether larger is better. Dense vectors score through the
    * storage width's fused kernel ([[VectorCodec.scoreExpr]] /
    * [[VectorCodec.simExpr]]; a Uint8 space casts the query to u8 like the
    * reference's byte scorer, `metric_query_scorer.rs:51`). `nearest` asks
    * for the user-visible score (Euclid / Manhattan distances,
    * smaller-better) instead of the larger-better similarity the custom
    * kinds combine (`Metric::similarity`). Multivectors score MaxSim and
    * sparse vectors the intersect-dot, larger-better either way. */
  private[graft] def similarity(sp: Space, v: QueryVector,
      nearest: Boolean = false): (Column, Boolean) = v match {
    case DenseVector(x) if nearest =>
      (VectorCodec.scoreExpr(sp.datatype, sp.metric, col(sp.col), x),
        sp.metric.largerBetter)
    case DenseVector(x) =>
      (VectorCodec.simExpr(sp.datatype, sp.metric, col(sp.col), x), true)
    case MultiVector(m) =>
      (VectorCodec.maxSimExpr(sp.datatype, sp.metric, col(sp.col), m), true)
    case SparseVector(i, x) =>
      (graft.functions.VectorFunctions.sparseDot(
        col(s"${sp.col}.indices"), col(s"${sp.col}.values"), i, x), true)
  }

  /** The rows a node over `sp` with query-side vectors `vs` can rank, as
    * a scan predicate. Sparse: rows sharing ≥ 1 dim with some query-side
    * vector (qdrant's sparse search is a posting join, zero-overlap rows
    * never appear). Dense and multivector: rows holding the vector
    * (`test_optional_vectors.py`). */
  private[graft] def candidates(sp: Space, vs: Seq[QueryVector]): Column = {
    val dims = vs.collect { case SparseVector(i, _) => i }
    if (dims.isEmpty) col(sp.col).isNotNull
    else arrays_overlap(col(s"${sp.col}.indices"), typedLit(dims.flatten.distinct))
  }

  /** The `average_vector` recommend query (`avg_vectors` + the
    * positive/negative merge, `recommendations.rs:34-130`), per kind:
    * dense = avg(pos) + (avg(pos) − avg(neg)) elementwise; multivector =
    * the positives' tokens, then the negatives' tokens negated
    * (`:59-70,121-124`); sparse = 2·avg(pos) − avg(neg) per dim of the
    * index union, each average over the union with missing = 0
    * (`:55-58,87-91,119-120`). Driver-side: examples are few. */
  def average(positives: Seq[QueryVector], negatives: Seq[QueryVector]): QueryVector = {
    require(positives.nonEmpty,
      "Positive vectors should not be empty with `average` strategy")
    positives.head match {
      case DenseVector(first) =>
        def avg(vs: Seq[QueryVector]): Seq[Double] = {
          val xs = vs.collect { case DenseVector(x) => x }
          first.indices.map(i => xs.map(_(i)).sum / xs.length)
        }
        val p = avg(positives)
        if (negatives.isEmpty) DenseVector(p)
        else {
          val n = avg(negatives)
          DenseVector(first.indices.map(i => p(i) + (p(i) - n(i))))
        }
      case MultiVector(_) =>
        def tokens(vs: Seq[QueryVector]) = vs.collect { case MultiVector(m) => m }.flatten
        MultiVector(tokens(positives) ++ tokens(negatives).map(_.map(-_)))
      case SparseVector(_, _) =>
        def avg(vs: Seq[QueryVector]): Map[Long, Double] =
          vs.collect { case SparseVector(is, xs) => is.zip(xs) }.flatten
            .groupMapReduce(_._1)(_._2)(_ + _).view.mapValues(_ / vs.length).toMap
        val p = avg(positives)
        val merged =
          if (negatives.isEmpty) p
          else {
            val n = avg(negatives)
            (p.keySet ++ n.keySet).map(d =>
              d -> (2 * p.getOrElse(d, 0.0) - n.getOrElse(d, 0.0))).toMap
          }
        val dims = merged.keys.toSeq.sorted
        SparseVector(dims, dims.map(merged))
    }
  }

  /** Execute a query DAG; returns (idCol, score) ranked. */
  def execute(
      spark: SparkSession,
      points: DataFrame,
      idCol: String,
      resolver: FieldResolver,
      q0: Query): DataFrame = {
    val q = resolveExclusion(q0)
    val rootFilter = q.filter.filterNot(_.isEmpty)
    val pred = rootFilter.map(f => new FilterCompiler(resolver).compile(f))

    // The parent/global filter is merged into every prefetch before
    // recursion (ref `planned_query.rs:306-340`, merge at :325 "Global
    // filter to apply to all prefetches"): filters live in the LEAVES, so a
    // filtered hybrid search filters each prefetch and the rescoring
    // parents (Fusion/Formula/MMR) only ever see pre-filtered candidates.
    // `execute` recurses, so grandchildren inherit transitively.
    def inherited(c: Query): Query =
      rootFilter.fold(c)(rf => c.copy(filter = Filter.mergeOpts(Some(rf), c.filter)))

    // `skip(offset)` after the final merge (`query.rs:448-451`); inputs are
    // ≤ offset+limit rows, so a single-partition window is the right shape.
    def dropOffset(df: DataFrame, ord: Seq[Column], offset: Int): DataFrame =
      if (offset == 0) df
      else df.withColumn("_rn", row_number().over(Window.orderBy(ord: _*)))
        .filter(col("_rn") > offset).drop("_rn").orderBy(ord: _*)

    // Rescore-parent candidate scoping: the union of prefetch results
    // (`filter_with_sources_ids` — the reference rescores behind a HasId
    // filter of the merged prefetch ids, `local_shard/query.rs:311,339`).
    def withPrefetchCandidates(df: DataFrame): DataFrame =
      if (q.prefetches.isEmpty) df
      else {
        val candidateIds = q.prefetches.map(inherited)
          .map(c => execute(spark, points, idCol, resolver, c).select(idCol))
          .reduce(_ union _).distinct()
        df.join(candidateIds, Seq(idCol), "left_semi")
      }

    q.scoring match {
      // ---- rescore-over-prefetch nodes ----
      case FusionQ(kind, weights, rrfK) =>
        // `planned_query.rs:400-403` — a fusion root with nothing to fuse
        // is a validation error, not an empty result
        require(q.prefetches.nonEmpty, "cannot apply Fusion without prefetches")
        val children = q.prefetches.map(inherited).map { c =>
          val df = execute(spark, points, idCol, resolver, c)
          c.scoring match {
            case OrderByField(_, _, _) if kind == "dbsf" =>
              // Reference parity: scroll prefetch results carry a constant
              // score of 1.0 (`scroll.rs:131`) and `score_fusion` normalizes
              // only `.score` (the order_value travels separately), so
              // min==max and every scroll point contributes a flat 0.5 —
              // the order value does NOT enter DBSF.
              Fusion.Source(df.select(col(idCol), lit(1.0d).as("score")))
            case OrderByField(field, asc, _) =>
              // RRF is position-based: rank the scroll leaf by its LIST
              // POSITION (row_number over the leaf's own sort order) — the
              // reference scores by position in the returned page. A value
              // cast would break on non-numeric order fields; position is
              // type-agnostic. The window is single-partition over ≤ limit
              // rows — the leaf page, not the table.
              val ord = Seq(
                if (asc) col(field).asc_nulls_last else col(field).desc_nulls_last,
                col(idCol).asc)
              Fusion.Source(df.select(col(idCol),
                row_number().over(Window.orderBy(ord: _*)).cast("double").as("score")),
                largerBetter = false)
            // every vector kind ranks in its own orientation (an
            // average_vector recommend on Euclid is a distance)
            case s: VectorScoring if !s.isInstanceOf[MmrQ] =>
              Fusion.Source(df, scoringExpr(s)._2)
            case ScrollById if kind == "dbsf" =>
              // scroll results carry constant score 1.0 (`scroll.rs:131`)
              Fusion.Source(df.select(col(idCol), lit(1.0d).as("score")))
            case ScrollById =>
              // RRF: list position over the scroll's id order — works for
              // Long AND UUID-string ids (a string id cast to double is
              // NULL for every row; position never is)
              Fusion.Source(df.select(col(idCol),
                row_number().over(Window.orderBy(col(idCol).asc))
                  .cast("double").as("score")),
                largerBetter = false)
            case _ => Fusion.Source(df)
          }
        }
        val fetch = q.offset + q.limit
        val fused = kind match {
          case "rrf" => Fusion.rrf(children, idCol, k = rrfK.getOrElse(2), weights, fetch)
          case "dbsf" => Fusion.dbsf(children, idCol, weights, fetch)
          case other => throw new IllegalArgumentException(s"unknown fusion '$other'")
        }
        // Root threshold over the fused list is NON-strict and order-aware
        // (`take_while(score >= t)` at collection level, `query.rs:389-396`
        // — unlike the strict leaf `check_threshold`, `types.rs:363-369`);
        // fused scores are always larger-better. Offset applies after
        // (`skip(offset).take(limit)`, `query.rs:448-451`).
        val thresholded =
          q.scoreThreshold.fold(fused)(t => fused.filter(col("score") >= t))
        dropOffset(thresholded, Seq(col("score").desc, col(idCol).asc), q.offset)

      case FormulaQ(ast, defaultScore) =>
        // `planned_query.rs:418-421`
        require(q.prefetches.nonEmpty, "cannot apply Formula without prefetches")
        val children = q.prefetches.map(inherited).zipWithIndex.map { case (c, i) =>
          execute(spark, points, idCol, resolver, c)
            .withColumnRenamed("score", s"_score$i")
        }
        val candidates = children
          .map(_.select(idCol)).reduce(_ union _).distinct()
        val withScores = children.foldLeft(candidates)((acc, ch) =>
          acc.join(ch, Seq(idCol), "left"))
        val joined = points.join(withScores, Seq(idCol))
        val expr = Formula.compile(ast,
          i => coalesce(col(s"_score$i"), lit(defaultScore)), resolver)
        Search.scoredTopK(joined, idCol, expr, largerBetter = true,
          k = q.limit, offset = q.offset, scoreThreshold = q.scoreThreshold)

      case MmrQ(sp, qv, lambda) =>
        require(q.prefetches.nonEmpty, "MMR rescore requires prefetches")
        val candidateIds = q.prefetches.map(inherited)
          .map(c => execute(spark, points, idCol, resolver, c).select(idCol))
          .reduce(_ union _).distinct()
        val (score, largerBetter) = similarity(sp, qv, nearest = true)
        // Mmr.rerank breaks ties by first-seen input order, so the
        // candidates MUST arrive ranked best-first (the reference's MMR
        // receives the already-ranked search result, `mmr/mod.rs:42-170`).
        // An unordered semi-join here makes tie-breaks partition-order —
        // visible whenever MMR scores tie exactly (e.g. λ=0.5 with the
        // query equal to a stored vector: every post-first pick scores 0).
        // candidates lacking this named vector are silently dropped (the
        // reference's filter_map over `vector.get(&mmr.using)`,
        // `mmr/mod.rs:52-60`) — scoring a null vector would poison the
        // driver-side rerank
        val scoredCands = points.join(candidateIds, Seq(idCol), "left_semi")
          .filter(col(sp.col).isNotNull)
          .withColumn("score", round(score, 6))
        // MMR-with-prefetches applies the root score_threshold at the
        // candidate-gathering Nearest rescore (shard-level RescoreParams,
        // `planned_query.rs:244-262`) — strict, per `check_threshold`.
        val thresholded = q.scoreThreshold.fold(scoredCands) { t =>
          scoredCands.filter(
            if (largerBetter) col("score") > t else col("score") < t)
        }
        val cands = thresholded
          .select(col(idCol), col("score"), col(sp.col))
          .orderBy(
            if (largerBetter) col("score").desc else col("score").asc,
            col(idCol).asc)
        // `skip(offset).take(limit)` on the selection-ordered MMR output
        // (`query.rs:448-451`); `position` stays the global selection rank.
        graft.ops.Mmr.rerank(spark, cands, idCol, sp, qv, lambda, q.offset + q.limit)
          .filter(col("position") > q.offset)

      // ---- scroll leaves (as RESCORE parents the reference turns these
      // into a scroll over HasId(union of prefetch results) —
      // `local_shard/query.rs:309-336,381-404`; leaves with no prefetch
      // scroll the whole collection) ----
      case OrderByField(field, asc, startFrom) =>
        // `skip(offset)` applies after the ordered page like any other
        // merge (`query.rs:448-451`) — fetch offset+limit, drop the head
        val page = Reads.scrollByField(withPrefetchCandidates(points), idCol,
          field, asc, q.filter, resolver, startFrom, q.offset + q.limit,
          projection = Seq(idCol, field))
        val ord = Seq(
          if (asc) col(field).asc_nulls_last else col(field).desc_nulls_last,
          col(idCol).asc)
        dropOffset(page, ord, q.offset)

      case ScrollById =>
        val page = Reads.scrollById(withPrefetchCandidates(points), idCol,
          q.filter, resolver, offsetId = None, limit = q.offset + q.limit,
          projection = Seq(idCol))
        dropOffset(page, Seq(col(idCol).asc), q.offset)

      case SampleRandom(seed) => {
        val scoped = withPrefetchCandidates(points)
        val base = pred.fold(scoped)(scoped.filter)
        // Deterministic pseudorandom key (seeded id hash — the engine's
        // seeded-sampling contract, like Reads.scrollRandom: deterministic
        // across runs AND partitionings, where `rand(seed)` is only
        // per-partitioning stable). `skip(offset)` applies after the
        // random order (`test_random_rescore_with_offset`) — EXCEPT on a
        // bare random root, where the reference zeroes the offset since
        // the output is not stable (`collection_query.rs:690-696`).
        val off = if (q.prefetches.isEmpty) 0 else q.offset
        val ord = Seq(xxhash64(col(idCol), lit(seed)).asc, col(idCol).asc)
        val page = base.orderBy(ord: _*).limit(off + q.limit)
        dropOffset(page, ord, off).select(idCol)
      }

      // ---- scoring leaves (optionally rescoring prefetch candidates) ----
      case leaf =>
        val (expr, largerBetter) = scoringExpr(leaf)
        val leafPred = (leaf match {
          case s: VectorScoring => Some(candidates(s.space, s.vectors))
          case SparseDotQ(tc, terms) =>
            Some(arrays_overlap(col(tc), typedLit(terms.map(_._1))))
          case _ => None
        }).map(c => pred.fold(c)(_ && c)).orElse(pred)
        Search.nearest(withPrefetchCandidates(points), idCol, expr,
          largerBetter, leafPred, q.cells, q.approx,
          k = q.limit, offset = q.offset, scoreThreshold = q.scoreThreshold)
    }
  }
}
