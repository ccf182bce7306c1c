package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.VectorCodec
import graft.model._
import graft.ops.PointQuery.{DenseVector, MultiVector, QueryVector, Space, SparseVector}

/** Maximal Marginal Relevance diversity rerank.
  *
  * Ref `lib/shard/src/query/mmr/mod.rs:42-280`: candidates = `candidatesLimit`
  * nearest (with vectors); greedy loop picks first the max-relevance point,
  * then repeatedly argmax of `λ·sim(q,p) − (1−λ)·max_{s∈selected} sim(p,s)`
  * over *internal* similarities; returned points keep their ORIGINAL query
  * score, in selection order. The reference computes MMR over
  * `VectorInternal` — vector-kind-agnostic, so sparse spaces rerank the
  * same way with the sparse intersect-dot as the similarity.
  *
  * Inherently sequential over ≤ candidatesLimit rows → collect to the driver
  * and loop (qdrant does the same at collection level, post-merge). The
  * distributed part is the candidate search that feeds this.
  */
object Mmr {

  private def simInternal(metric: Metric, a: Array[Double], b: Array[Double]): Double =
    metric match {
      case Dot => a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      case Cosine =>
        val d = a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
        val na = math.sqrt(a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * a(i)))
        val nb = math.sqrt(b.indices.foldLeft(0.0)((acc, i) => acc + b(i) * b(i)))
        d / (na * nb)
      case Euclid =>
        -a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
      case Manhattan =>
        -a.indices.foldLeft(0.0)((acc, i) => acc + math.abs(a(i) - b(i)))
    }

  /** Sparse intersect-dot over sorted index arrays (the `SparseVector`
    * scoring contract, `sparse_vector.rs` — merge over the intersection). */
  private def sparseDotOf(ai: Array[Long], av: Array[Double],
      bi: Array[Long], bv: Array[Double]): Double = {
    var i = 0; var j = 0; var acc = 0.0
    while (i < ai.length && j < bi.length) {
      if (ai(i) == bi(j)) { acc += av(i) * bv(j); i += 1; j += 1 }
      else if (ai(i) < bi(j)) i += 1
      else j += 1
    }
    acc
  }

  /** The vector kind's similarity between two decoded vectors, `a` on the
    * query side: dense = the metric's internal similarity, sparse = the
    * intersect-dot, multivector = MaxSim of `a`'s tokens against `b`'s.
    * MaxSim is asymmetric, and the reference's pairwise step scores the
    * CANDIDATE as the query side (`scorers[candidate].score_point(selected)`,
    * `lazy_matrix.rs:56-68`). */
  private def similarity(metric: Metric)(a: QueryVector, b: QueryVector): Double =
    (a, b) match {
      case (DenseVector(x), DenseVector(y)) => simInternal(metric, x.toArray, y.toArray)
      case (SparseVector(ai, av), SparseVector(bi, bv)) =>
        sparseDotOf(ai.toArray, av.toArray, bi.toArray, bv.toArray)
      case (MultiVector(q), MultiVector(s)) =>
        val stored = s.map(_.toArray)
        q.foldLeft(0.0)((acc, r) =>
          acc + stored.iterator.map(t => simInternal(metric, r.toArray, t)).max)
      case _ =>
        throw new IllegalArgumentException(s"MMR over mixed vector kinds: $a, $b")
    }

  /** A candidate's stored vector (column `i` of `r`, already decoded to
    * f32 elements), as a vector of `like`'s kind. */
  private def storedVector(like: QueryVector, r: Row, i: Int): QueryVector = like match {
    case DenseVector(_) => DenseVector(r.getSeq[Float](i).map(_.toDouble).toSeq)
    case MultiVector(_) =>
      MultiVector(r.getSeq[scala.collection.Seq[Float]](i)
        .map(_.map(_.toDouble).toSeq).toSeq)
    case SparseVector(_, _) =>
      val s = r.getStruct(i)
      // stored indices: array<bigint> canonically, array<int> on legacy
      // directly-seeded tables — promote per element
      SparseVector(s.getSeq[Any](0).map {
        case i: Int => i.toLong
        case l: Long => l
      }.toSeq, s.getSeq[Float](1).map(_.toDouble).toSeq)
  }

  /** The greedy MMR selection over n candidates: `rel` = sim(query, c),
    * `pairSim` = sim(c_i, c_j), computed once per ordered pair. Returns
    * selected candidate indices in selection order. Ties break on
    * first-seen (candidate rank order), which is deterministic given the
    * ordered input. */
  private def greedySelect(n: Int, limit: Int, lambda: Double,
      rel: Int => Double, pairSimRaw: (Int, Int) => Double): Seq[Int] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n > 0 && limit > 0) {
      if (n < 2) selected += 0
      else {
        val simCache = scala.collection.mutable.Map.empty[(Int, Int), Double]
        def pairSim(i: Int, j: Int): Double =
          simCache.getOrElseUpdate((i, j), pairSimRaw(i, j))
        val remaining = scala.collection.mutable.LinkedHashSet(0 until n: _*)
        val first = remaining.maxBy(rel)
        selected += first; remaining -= first
        while (selected.length < limit && remaining.nonEmpty) {
          val best = remaining.maxBy { c =>
            val maxSel = selected.map(s => pairSim(c, s)).max
            lambda * rel(c) - (1.0 - lambda) * maxSel
          }
          selected += best; remaining -= best
        }
      }
    }
    selected.toSeq
  }

  /** `candidates`: (id, score, stored vector of `space`) rows — the
    * ranked candidates of the underlying query, scores already rounded.
    * Relevance is [[similarity]] of `query` to each candidate and the
    * pairwise step [[similarity]] between candidates, over the vectors
    * decoded from the space's storage width (vectorless candidates must
    * already be dropped). Returns (id, score, position) in MMR selection
    * order. */
  def rerank(
      spark: SparkSession,
      candidates: DataFrame,
      idCol: String,
      space: Space,
      query: QueryVector,
      lambda: Double,
      limit: Int): DataFrame = {
    val idType = candidates.schema(idCol).dataType // Long or UUID-string ids
    val rows = candidates.select(col(idCol), col("score"),
      VectorCodec.decoded(space.datatype, query.isInstanceOf[MultiVector],
        col(space.col))).collect()
    val ids = rows.map(_.get(0))
    val scores = rows.map(_.getAs[Number](1).doubleValue)
    val vecs = rows.map(storedVector(query, _, 2))
    val sim = similarity(space.metric) _
    val rel = vecs.map(sim(query, _))
    val selected = greedySelect(rows.length, limit, lambda,
      rel, (c, s) => sim(vecs(c), vecs(s)))
    val out = selected.zipWithIndex.map { case (idx, pos) =>
      Row(ids(idx), scores(idx), pos + 1)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField(idCol, idType), StructField("score", DoubleType),
        StructField("position", IntegerType))))
  }
}
