package perfbench

/** Seeded, pure generators for every benchmark input. The same function
  * runs inside Spark tasks (to build the DataFrames handed to the engine)
  * and in the benchmark's own code (to build the in-memory model the
  * answers are checked against), so both sides see identical values.
  *
  * Dense components are integers in [-72, 72] divided by 256 and sparse
  * weights are sixteenths: every value is exact in float and double, and a
  * 64-d dot product is an exact double whatever the summation order. The
  * reference scores therefore equal the engine's bit for bit. */
object Gen {
  val Dim = 64
  val Cities = 16
  val Tenants = 64
  val SparseNnz = 8
  val SparseDims = 2048

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(mix(seed) + a) + b) + c)

  def below(x: Long, n: Int): Int = java.lang.Long.remainderUnsigned(x, n.toLong).toInt

  /** Content key of a point version: version 0 is the point's id itself;
    * re-upserts get fresh content under the same id. */
  def key(id: Long, version: Int): Long =
    if (version == 0) id else mix(id * 1000003L + version) & Long.MaxValue

  /** Dense vector: one of `clusters` hidden centroids plus per-point noise,
    * in units of 1/256. */
  def vecInts(seed: Long, k: Long, clusters: Int): Array[Int] = {
    val c = below(h(seed, 1, k), clusters)
    Array.tabulate(Dim) { j =>
      (below(h(seed, 2, c, j), 97) - 48) + (below(h(seed, 3, k, j), 49) - 24)
    }
  }

  def vec(seed: Long, k: Long, clusters: Int): Array[Float] =
    vecInts(seed, k, clusters).map(_ / 256f)

  /** Sparse vector: `SparseNnz` distinct sorted dims, a third of them drawn
    * from a hot head of 64 dims so document frequencies are skewed. */
  def sparse(seed: Long, k: Long): (Array[Long], Array[Float]) = {
    val dims = scala.collection.mutable.TreeSet.empty[Long]
    var i = 0
    while (dims.size < SparseNnz) {
      val x = h(seed, 4, k, i)
      dims += (if (below(x, 3) == 0) below(x >>> 8, 64) else below(x >>> 8, SparseDims)).toLong
      i += 1
    }
    val idx = dims.toArray
    (idx, idx.map(d => (1 + below(h(seed, 5, k, d), 16)) / 16f))
  }

  def city(seed: Long, k: Long): Int =
    math.min(below(h(seed, 6, k), Cities), below(h(seed, 7, k), Cities))

  def cityName(c: Int): String = f"c$c%02d"

  def tenant(seed: Long, k: Long): Int = below(h(seed, 8, k), Tenants)

  /** Price in cents; rendered with two decimals, so always a JSON float. */
  def priceCents(seed: Long, k: Long): Int = below(h(seed, 9, k), 20000)

  def priceText(cents: Int): String = f"${cents / 100}%d.${cents % 100}%02d"

  def payload(seed: Long, k: Long): String =
    s"""{"city":"${cityName(city(seed, k))}","tenant":${tenant(seed, k)},""" +
      s""""price":${priceText(priceCents(seed, k))}}"""

  // ------------------------------------------------------------ documents

  val Vocab = 20000
  val DocBlock = 8

  /** Near-duplicate plan: ids come in blocks of `DocBlock`; in each block
    * the first `dupsInBlock` ids after the block's first id are copies of
    * it with one word replaced. Every other document is unrelated random text. */
  def dupsInBlock(seed: Long, block: Long): Int = below(h(seed, 20, block), 3)

  /** Base document id of `d` (itself when `d` is not a planted copy). */
  def baseOf(seed: Long, d: Long): Long = {
    val b = d / DocBlock
    val off = d % DocBlock
    if (off >= 1 && off <= dupsInBlock(seed, b)) b * DocBlock else d
  }

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  def docText(seed: Long, d: Long): String = {
    val base = baseOf(seed, d)
    val len = 40 + below(h(seed, 21, base), 40)
    val words = Array.tabulate(len)(j => below(h(seed, 22, base, j), Vocab))
    if (base != d) words(below(h(seed, 23, d), len)) = below(h(seed, 24, d), Vocab)
    words.iterator.map(word).mkString(" ")
  }
}
