package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Map-side bounded top-k per group as a typed [[Aggregator]].
  *
  * The alternative batch-KNN reduction shape: `groupBy(qid).agg(topK(...))`
  * plans as ObjectHashAggregate with partial combine — each mapper ships ONE
  * buffer of ≤ k (score, id) pairs per query, so shuffle volume is
  * partitions × Q × k regardless of N. The window formulation achieves the
  * same bound via `WindowGroupLimit(Partial)` (Spark ≥ 3.5 inserts it below
  * the exchange for `row_number() <= k` filters) but pays a per-partition
  * sort of all N×Q scored rows first; this aggregator replaces that sort
  * with an O(log k) heap insert per row, at the cost of leaving
  * whole-stage codegen for the aggregation. SCALEPROBE_r09.md measured
  * both: this aggregator wins.
  *
  * Buffer: a binary min-heap (root = current evictee candidate) in a plain
  * Array[Double] of (score, id-bits) pairs — primitive, kryo-friendly, and
  * cheap to merge. Ids are Long (the engine's numeric point ids); UUID-id
  * collections keep the window path.
  */
object TopK {

  /** Heap entry layout: values(2*i) = score, values(2*i+1) = id as Double
    * bit-pattern via java.lang.Double.longBitsToDouble (exact round-trip).
    * `largerBetter` fixes both the heap order and the final sort. */
  final class TopKAgg(k: Int, largerBetter: Boolean)
      extends Aggregator[(Double, Long), Array[Double], Seq[(Double, Long)]]
      with Serializable {

    // "a loses to b": a is WORSE than b under the metric order, ties broken
    // by LARGER id losing (matching the engine's (score, id asc) order)
    private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
      if (sa != sb) { if (largerBetter) sa < sb else sa > sb }
      else ia > ib

    private def score(h: Array[Double], i: Int): Double = h(1 + 2 * i)
    private def id(h: Array[Double], i: Int): Long =
      java.lang.Double.doubleToRawLongBits(h(2 + 2 * i))
    private def size(h: Array[Double]): Int = h(0).toInt

    private def siftDown(h: Array[Double], i0: Int, n: Int): Unit = {
      var i = i0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < n && worse(score(h, l), id(h, l), score(h, m), id(h, m))) m = l
        if (r < n && worse(score(h, r), id(h, r), score(h, m), id(h, m))) m = r
        if (m == i) done = true
        else {
          val ts = h(1 + 2 * i); val ti = h(2 + 2 * i)
          h(1 + 2 * i) = h(1 + 2 * m); h(2 + 2 * i) = h(2 + 2 * m)
          h(1 + 2 * m) = ts; h(2 + 2 * m) = ti
          i = m
        }
      }
    }

    private def siftUp(h: Array[Double], i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val p = (i - 1) / 2
        if (worse(score(h, i), id(h, i), score(h, p), id(h, p))) {
          val ts = h(1 + 2 * i); val ti = h(2 + 2 * i)
          h(1 + 2 * i) = h(1 + 2 * p); h(2 + 2 * i) = h(2 + 2 * p)
          h(1 + 2 * p) = ts; h(2 + 2 * p) = ti
          i = p
        } else return
      }
    }

    private def insert(h: Array[Double], s: Double, pid: Long): Array[Double] = {
      val n = size(h)
      if (n < k) {
        h(0) = n + 1.0
        h(1 + 2 * n) = s
        h(2 + 2 * n) = java.lang.Double.longBitsToDouble(pid)
        siftUp(h, n)
        h
      } else if (worse(score(h, 0), id(h, 0), s, pid)) {
        // new entry beats the current evictee: replace root, restore heap
        h(1) = s
        h(2) = java.lang.Double.longBitsToDouble(pid)
        siftDown(h, 0, n)
        h
      } else h
    }

    def zero: Array[Double] = new Array[Double](1 + 2 * k) // h(0) = live count

    def reduce(h: Array[Double], in: (Double, Long)): Array[Double] =
      insert(h, in._1, in._2)

    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var out = a
      val n = size(b)
      var i = 0
      while (i < n) { out = insert(out, score(b, i), id(b, i)); i += 1 }
      out
    }

    def finish(h: Array[Double]): Seq[(Double, Long)] = {
      val n = size(h)
      (0 until n).map(i => (score(h, i), id(h, i)))
        .sortWith { case ((sa, ia), (sb, ib)) =>
          if (sa != sb) { if (largerBetter) sa > sb else sa < sb } else ia < ib
        }
    }

    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Batch top-k via the aggregator: returns (queryIdCol, idCol, score,
    * rank) — the same shape as [[Search.knnBatch]]'s output. `scored` must
    * carry (queryIdCol, idCol: Long, score). */
  def batchTopK(
      scored: DataFrame,
      queryIdCol: String,
      idCol: String,
      k: Int,
      largerBetter: Boolean): DataFrame = {
    val agg = udaf(new TopKAgg(k, largerBetter))
    // integer-typed scores (e.g. the i8 fused-dot kernel) pass through the
    // aggregator as exact doubles; cast back so the output schema matches
    // the scored input's
    val scoreType = scored.schema("score").dataType
    scored
      .groupBy(col(queryIdCol))
      .agg(agg(col("score"), col(idCol)).as("topk"))
      .select(col(queryIdCol),
        posexplode(col("topk")).as(Seq("_pos", "_entry")))
      .select(col(queryIdCol),
        col("_entry._2").as(idCol),
        col("_entry._1").cast(scoreType).as("score"),
        (col("_pos") + 1).cast("int").as("rank"))
  }
}
