package perfbench

import scala.collection.mutable

/** The benchmark's in-memory copy of a collection: every live point's
  * vector, sparse vector and payload fields, kept in step with the writes
  * the benchmark sends. Reference answers are brute force over it. */
final class Model(val seed: Long, val clusters: Int, capacity: Int,
    withPayload: Boolean = true) {
  import Gen.Dim

  private var cap = capacity
  private var vecs = new Array[Int](cap * Dim)
  private var version = new Array[Int](cap)
  private var city = new Array[Int](cap)
  private var tenant = new Array[Int](cap)
  private var cents = new Array[Int](cap)
  private var flag = Array.fill(cap)(-1)
  private var sparse = new Array[(Array[Long], Array[Float])](cap)
  private val liveSet = new java.util.BitSet(cap)
  private var liveCache: Array[Long] = null
  var nextId = 0L

  private def grow(id: Int): Unit = if (id >= cap) {
    val n = math.max(id + 1, cap * 2)
    vecs = java.util.Arrays.copyOf(vecs, n * Dim)
    version = java.util.Arrays.copyOf(version, n)
    city = java.util.Arrays.copyOf(city, n)
    tenant = java.util.Arrays.copyOf(tenant, n)
    cents = java.util.Arrays.copyOf(cents, n)
    val f = Array.fill(n)(-1); System.arraycopy(flag, 0, f, 0, cap); flag = f
    sparse = java.util.Arrays.copyOf(sparse, n)
    cap = n
  }

  /** Insert or replace point `id` with the content of `ver`. */
  def put(id: Long, ver: Int): Unit = {
    val i = id.toInt
    grow(i)
    val k = Gen.key(id, ver)
    System.arraycopy(Gen.vecInts(seed, k, clusters), 0, vecs, i * Dim, Dim)
    version(i) = ver
    if (withPayload) {
      city(i) = Gen.city(seed, k)
      tenant(i) = Gen.tenant(seed, k)
      cents(i) = Gen.priceCents(seed, k)
      flag(i) = -1
      sparse(i) = Gen.sparse(seed, k)
    }
    liveSet.set(i)
    liveCache = null
    nextId = math.max(nextId, id + 1)
  }

  def delete(id: Long): Unit = { liveSet.clear(id.toInt); liveCache = null }
  def setFlag(id: Long, v: Int): Unit = flag(id.toInt) = v
  def isLive(id: Long): Boolean = liveSet.get(id.toInt)
  def versionOf(id: Long): Int = version(id.toInt)
  def cityOf(id: Long): Int = city(id.toInt)
  def tenantOf(id: Long): Int = tenant(id.toInt)
  def centsOf(id: Long): Int = cents(id.toInt)
  def sparseOf(id: Long): (Array[Long], Array[Float]) = sparse(id.toInt)
  def vecOf(id: Long): Array[Int] = java.util.Arrays.copyOfRange(vecs, id.toInt * Dim, id.toInt * Dim + Dim)

  def live: Array[Long] = {
    if (liveCache == null) liveCache = liveSet.stream().toArray.map(_.toLong)
    liveCache
  }
  def liveCount: Int = liveSet.cardinality()

  /** Dot product of a query (in 1/256 units) with point `id`, exact. */
  def dot(q: Array[Int], id: Long): Double = {
    val o = id.toInt * Dim
    var s = 0L
    var j = 0
    while (j < Dim) { s += q(j).toLong * vecs(o + j); j += 1 }
    s / 65536.0
  }

  /** Canonical payload text, for hashing the stored state. */
  def payloadKey(id: Long): String = {
    val f = flag(id.toInt)
    s"${Gen.cityName(city(id.toInt))}|${tenant(id.toInt)}|${cents(id.toInt)}|" +
      (if (f < 0) "" else f.toString)
  }

  /** Length of the point's payload JSON as the benchmark sent it. */
  def payloadJsonBytes(id: Long): Int = {
    val f = flag(id.toInt)
    Gen.payload(seed, Gen.key(id, version(id.toInt))).length +
      (if (f < 0) 0 else s""","flag":$f""".length)
  }

  /** Top `k` live ids by (score desc, id asc) among those passing `keep`. */
  def topK(q: Array[Int], k: Int, keep: Long => Boolean = _ => true): Seq[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2)))
    live.foreach { id =>
      if (keep(id)) {
        val s = dot(q, id)
        if (heap.size < k) heap.enqueue((s, id))
        else {
          val (hs, hid) = heap.head
          if (s > hs || (s == hs && id < hid)) { heap.dequeue(); heap.enqueue((s, id)) }
        }
      }
    }
    heap.dequeueAll[(Double, Long)].reverse.map { case (s, id) => (id, s) }
  }

  /** Document frequency of every sparse dim over the live points. */
  def sparseDf(): Map[Long, Int] = {
    val df = mutable.HashMap.empty[Long, Int]
    live.foreach(id => sparse(id.toInt)._1.foreach(d => df(d) = df.getOrElse(d, 0) + 1))
    df.toMap
  }

  /** The collection's points as a DataFrame generated inside Spark tasks
    * from the same seed (the model itself never ships to the cluster). */
  def initialPoints(spark: org.apache.spark.sql.SparkSession, n: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val s = seed
    val c = clusters
    val vecUdf = udf((id: Long) => Gen.vec(s, id, c))
    val spUdf = udf((id: Long) => {
      val (i, v) = Gen.sparse(s, id)
      (i, v)
    })
    val plUdf = udf((id: Long) => Gen.payload(s, id))
    if (!withPayload) return spark.range(n).select(col("id"), vecUdf(col("id")).as("vector"))
    spark.range(n).select(col("id"), vecUdf(col("id")).as("vector"),
      spUdf(col("id")).as("sp"), plUdf(col("id")).as("payload"))
      .select(col("id"), col("vector"),
        struct(col("sp._1").as("indices"), col("sp._2").as("values")).as("sparse_text"),
        col("payload"))
  }
}
