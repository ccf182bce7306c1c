package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.filters.{FieldResolver, FilterCompiler}
import graft.model._
import graft.functions.VectorFunctions._

/** Core vector search operators (the qdrant "universal query" read surface).
  *
  * Execution model: declarative exact scan. A single-query top-k plans as
  * `TakeOrderedAndProject` (per-partition partial top-k, no full shuffle);
  * batch queries broadcast the query side and use a per-query window. At
  * cluster scale the scan parallelizes over parquet splits and only k rows
  * per partition cross the wire — the same shape qdrant's
  * segment→shard→collection merge collapses into (SURVEY.md §3.1).
  */
object Search {

  /** User-visible score (post-processed): Euclid → sqrt, Manhattan → abs. */
  def scoreExpr(metric: Metric, v: Column, q: Column): Column =
    graft.functions.VectorFunctions.score(metric, v, q)

  /** NULLS LAST in both directions: a point lacking the scored vector
    * produces a NULL score and must never outrank a scored one (Spark's
    * default asc = nulls FIRST would put unscorable points on top for
    * smaller-better metrics). */
  private def orderCols(scoreCol: Column, idCol: Column, largerBetter: Boolean): Seq[Column] =
    Seq(if (largerBetter) scoreCol.desc_nulls_last else scoreCol.asc_nulls_last,
      idCol.asc)

  /** Generic "score, filter, threshold, top-(k+offset)" pipeline shared by all
    * scoring queries. `largerBetter` controls both ordering and the
    * threshold direction (strict, ref `types.rs:363-369`). */
  def scoredTopK(
      points: DataFrame,
      idCol: String,
      score: Column,
      largerBetter: Boolean,
      filter: Option[Column] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None,
      extraCols: Seq[String] = Nil,
      roundTo: Int = 6): DataFrame = {
    val base = filter.fold(points)(points.filter)
    val scored = base
      .withColumn("score", round(score, roundTo))
      .select((Seq(idCol, "score") ++ extraCols).map(col): _*)
    val thresholded = scoreThreshold.fold(scored) { t =>
      scored.filter(if (largerBetter) col("score") > t else col("score") < t)
    }
    val ord = orderCols(col("score"), col(idCol), largerBetter)
    // Optional-vector exclusion lives at the INPUT (vector-column
    // isNotNull from the callers — pushable to the scan): a filter on the
    // computed score would either be substituted below the projection
    // (2× kernel evals per row) or, placed above the limit, break
    // TakeOrderedAndProject's single-stage executeCollect fast path
    // (measured +25% on knn). NULLS LAST ordering is the belt-and-braces
    // for callers scoring arbitrary expressions.
    val top = thresholded.orderBy(ord: _*).limit(offset + k)
    if (offset == 0) top
    else {
      // tiny (k+offset rows): single-partition window is fine
      top.withColumn("_rn", row_number().over(Window.orderBy(ord: _*)))
        .filter(col("_rn") > offset).drop("_rn")
        .orderBy(ord: _*)
    }
  }

  /** Nearest-k by metric with optional filter / threshold / offset.
    * Ref `QueryEnum::Nearest` `lib/shard/src/query/query_enum.rs:10`. */
  def knn(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      metric: Metric,
      filter: Option[Filter] = None,
      resolver: Option[FieldResolver] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None,
      extraCols: Seq[String] = Nil): DataFrame = {
    val q = typedLit(query)
    val pred = filter.map(f => new FilterCompiler(resolver.get).compile(f))
    // points lacking the queried vector are excluded — the reference has no
    // entry for them in that vector's storage (`test_optional_vectors.py`);
    // the guard is a plain scan predicate (PushedFilters: IsNotNull)
    val guard = col(vecCol).isNotNull
    scoredTopK(points, idCol, scoreExpr(metric, col(vecCol), q), metric.largerBetter,
      Some(pred.fold(guard)(_ && guard)), k, offset, scoreThreshold, extraCols)
  }

  /** The IVF cells a nearest search scans: the table's cell column and
    * the probed cell ids. */
  final case class Cells(col: String, ids: Seq[Int])

  /** The approximate first phase of a two-phase nearest search
    * (`QuantizationSearchParams`, `types.rs:573-618`): `score` ranks the
    * points, usually on a quantized column, in `largerBetter` orientation.
    * With `rescore`, the top (k + offset)·`oversampling` are rescored
    * exactly; without it, `score` is the served score and is in the
    * metric's orientation. */
  final case class Approx(score: Column, largerBetter: Boolean,
      oversampling: Double, rescore: Boolean = true)

  /** Nearest-k of the exact `score` over the `filter` rows of `points`,
    * scanning only the probed IVF `cells` and, with `approx`, in two
    * phases: approx top k·oversampling, then an exact rescore of those
    * candidates, which a semi-join re-reads (with `approx.rescore` off,
    * the approx ranking and scores are the result). With neither it is
    * [[scoredTopK]]. The cell prune is a filter on the cell column: on a
    * table partitioned by that column it lands in `PartitionFilters`, so
    * unprobed cells are never listed; it ANDs with `filter` on one scan.
    * IVF cells with a quantized approx phase are the IVFADC layout. */
  def nearest(
      points: DataFrame,
      idCol: String,
      score: Column,
      largerBetter: Boolean,
      filter: Option[Column] = None,
      cells: Option[Cells] = None,
      approx: Option[Approx] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None): DataFrame = {
    val cellPred = cells.map(c => col(c.col).isin(c.ids: _*))
    val pred = (filter ++ cellPred).reduceOption(_ && _)
    approx match {
      case Some(a) if a.rescore =>
        val fetch = k + offset
        val approxTop = scoredTopK(points, idCol, a.score, a.largerBetter, pred,
          k = math.max(fetch, (fetch * a.oversampling).toInt))
        // the candidates live inside the probed cells: prune the rescore
        // scan to them too, or the semi-join re-reads every cell
        val cands = cellPred.fold(points)(points.filter)
          .join(approxTop.select(idCol), Seq(idCol), "left_semi")
        scoredTopK(cands, idCol, score, largerBetter, None, k, offset, scoreThreshold)
      case _ =>
        val (served, lb) = approx.fold((score, largerBetter))(a => (a.score, a.largerBetter))
        scoredTopK(points, idCol, served, lb, pred, k, offset, scoreThreshold)
    }
  }

  /** Per-query top-k reduction over a scored (queryId, id, score) stream —
    * the batch-KNN merge stage. Map-side bounded either way: LongType ids
    * reduce through [[TopK.TopKAgg]] (ObjectHashAggregate partial combine —
    * each mapper ships ONE ≤ k-entry heap buffer per query, O(log k) insert
    * per row, no sort); other id types use the window form, which Spark
    * ≥ 3.5 also bounds below the exchange via `WindowGroupLimit(Partial)`
    * but pays a per-partition sort of all scored rows first (measured
    * 2-3× slower at 1M×64q — SCALEPROBE_r09.md;
    * shuffle volume is partitions×Q×k for BOTH, never N×Q). */
  def batchRank(
      scored: DataFrame,
      queryIdCol: String,
      idCol: String,
      k: Int,
      largerBetter: Boolean): DataFrame =
    scored.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // callers guard unscorable rows at the INPUT (vector isNotNull on
        // the scan — pushable); a filter on the computed score here would
        // be substituted below the projection and double the kernel work
        TopK.batchTopK(scored, queryIdCol, idCol, k, largerBetter)
      case _ =>
        val ord = orderCols(col("score"), col(idCol), largerBetter)
        scored
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col(queryIdCol)).orderBy(ord: _*)))
          .filter(col("_rn") <= k)
          .filter(col("score").isNotNull) // post-window: ≤ Q·k rows
          .select(col(queryIdCol), col(idCol), col("score"), col("_rn").as("rank"))
    }

  /** Batch nearest-k: one top-k per row of `queries` (cols: queryIdCol,
    * queryVecCol). The 100 TB shape: the query side is broadcast, the big
    * side streams once, and the reduction is map-side bounded
    * ([[batchRank]] — ≤ k rows per mapper per query cross the wire). */
  def knnBatch(
      points: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      metric: Metric,
      k: Int = 10): DataFrame = {
    // optional-vector guard at the INPUT: pushes to the scan, unlike a
    // post-scoring null filter (which would re-evaluate the kernel)
    val scored = points.filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(queries))
      .withColumn("score", round(scoreExpr(metric, col(vecCol), col(queryVecCol)), 6))
    batchRank(scored, queryIdCol, idCol, k, metric.largerBetter)
  }

  /** Recommend, `best_score`, over per-example similarity columns: if
    * max(sim(pos)) > max(sim(neg)) then σ(max_pos) else −σ(max_neg), with
    * σ = scaled fast sigmoid; always larger-better, whatever the vector
    * kind (the reference's `RecoBestScoreQuery` is
    * similarity-representation-agnostic; `reco_query.rs:63-90`,
    * `query_enum.rs:31-40`).
    * positives are OPTIONAL (`test_recommendation_multivector.py::
    * test_multi_best_score_works_with_only_negatives`): with none, every
    * point scores −σ(max_neg) — ranked by least-bad negative match. */
  def bestScoreCombine(posSims: Seq[Column], negSims: Seq[Column]): Column = {
    val maxPos = posSims.reduceOption((a, b) => greatest(a, b))
      .getOrElse(lit(Double.NegativeInfinity))
    val maxNeg = negSims.reduceOption((a, b) => greatest(a, b))
      .getOrElse(lit(Double.NegativeInfinity))
    when(maxPos > maxNeg, scaledFastSigmoid(maxPos))
      .otherwise(-scaledFastSigmoid(maxNeg))
  }

  /** Recommend, `sum_scores`, over per-example similarity columns:
    * Σ sim(pos) − Σ sim(neg) (`reco_query.rs`, `RecoSumScoresQuery`). */
  def sumScoresCombine(posSims: Seq[Column], negSims: Seq[Column]): Column =
    posSims.reduceOption(_ + _).getOrElse(lit(0.0d)) -
      negSims.reduceOption(_ + _).getOrElse(lit(0.0d))

  /** Discover over per-example similarity columns:
    * Σ_pairs sign(sim(pos)−sim(neg)) + σ(sim(target)); the integer rank
    * dominates, target similarity tiebreaks within (0,1)
    * (`discover_query.rs:44-74`). */
  def discoverCombine(targetSim: Column,
      pairSims: Seq[(Column, Column)]): Column = {
    val rank = pairSims.map { case (sp, sn) =>
      when(sp > sn, 1).when(sp < sn, -1).otherwise(0)
    }.reduceOption((a, b) => a + b).getOrElse(lit(0))
    rank.cast("double") + scaledFastSigmoid(targetSim)
  }

  /** Relevance feedback, `naive` strategy, over per-example similarity
    * columns: `a·sim(target) + Σ_pairs (Δscore^b · c)·(sim(pos) − sim(neg))`
    * where pairs are all ordered feedback permutations with feedback-score
    * difference Δscore > 0 (margin 0). Pair extraction happens at the
    * driver (feedback lists are tiny). Ref `feedback_query.rs`
    * (`extract_context_pairs` :118-145, `score_by` :195-230),
    * `FeedbackStrategy::Naive` `collection_query.rs:202-220`; the
    * reference's custom queries are scorer-representation-agnostic
    * (`query_scorer/multi_custom_query_scorer.rs`). */
  def feedbackNaiveCombine(targetSim: Column,
      feedbackSims: Seq[(Column, Double)],
      a: Double, b: Double, c: Double): Column = {
    val pairs = for {
      ((si, wi), i) <- feedbackSims.zipWithIndex
      ((sj, wj), j) <- feedbackSims.zipWithIndex
      if i != j && wi - wj > 0.0
    } yield lit(math.pow(wi - wj, b) * c) * (si - sj)
    lit(a) * targetSim + pairs.reduceOption(_ + _).getOrElse(lit(0.0d))
  }

  /** f32 machine epsilon — the MARGIN in context loss
    * (`context_query.rs:54`). */
  val ContextMargin: Double = math.ulp(1.0f).toDouble

  /** Context over per-pair similarity columns:
    * Σ_pairs fastSigmoid(min(sim(pos)−sim(neg)−ε, 0)) — zero inside the
    * "good zone", negative outside (`context_query.rs:36-120`). */
  def contextCombine(pairSims: Seq[(Column, Column)]): Column =
    pairSims.map { case (sp, sn) =>
      val diff = sp - sn - lit(ContextMargin)
      fastSigmoid(least(diff, lit(0.0d)))
    }.reduceOption(_ + _).getOrElse(lit(0.0d))
}
