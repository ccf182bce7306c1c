package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sharding, TextAnalysis}

/** Dedup operators against hand-computed oracles on constructed corpora
  * (the hash-family paths minhash/simhash have no DuckDB oracle). */
class PipelineSpec extends SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy cat again and again"), // near-dup of 1
      (3L, "completely different content with no overlap whatsoever here now"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical content") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // keeper = min id
    val kept = Dedup.exactKeepFirst(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L))
  }

  test("minhash LSH finds exact and near duplicates, jaccard is exact") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: identical docs at hamming 0, near-dups close, distinct far") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 4L)) == 0)
    assert(pairs.get((1L, 2L)).exists(_ <= 10))
    assert(!pairs.contains((1L, 3L)))
  }

  test("ngram jaccard pairs match set arithmetic") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((1L, 4L)) == 1.0)
    // doc1/doc2: 12 tokens → 10 shingles each; differ at token 9 ("dog"/"cat")
    // → 3 shingles differ per doc, 7 common, union 13 → 7/13
    assert(math.abs(got((1L, 2L)) - 7.0 / 13.0) < 1e-6)
  }

  test("ngram jaccard band prune keeps a pair whose jaccard rounds up to the threshold") {
    import spark.implicits._
    // doc 1's two 3-shingles are a subset of doc 2's three: J = 2/3 exactly,
    // which rounds to the threshold 0.666667 while sitting just below it
    val boundary = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda"),
    ).toDF("doc_id", "text")
    val t = 0.666667
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
    val unpruned = pairs(Dedup.ngramJaccardPairs(boundary, "doc_id", "text", k = 3)
      .filter(col("jaccard") >= t))
    val pruned = pairs(Dedup.ngramJaccardPairs(boundary, "doc_id", "text", k = 3,
      minJaccard = t))
    assert(unpruned == Set((1L, 2L) -> t))
    assert(pruned == unpruned)
  }

  test("ngram jaccard maxDf drops hot-shingle-only pairs, keeps rare-shingle pairs") {
    import spark.implicits._
    // every doc shares the "common common common" shingle; only 1-2 share rare content
    val hot = Seq(
      (1L, "common common common alpha beta gamma delta"),
      (2L, "common common common alpha beta gamma epsilon"), // near-dup of 1
      (3L, "common common common zeta eta theta iota"),
      (4L, "common common common kappa lambda mu nu"),
    ).toDF("doc_id", "text")
    val unrestricted = Dedup.ngramJaccardPairs(hot, "doc_id", "text", k = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot shingle links every pair
    assert(unrestricted.size == 6)
    val capped = Dedup.ngramJaccardPairs(hot, "doc_id", "text", k = 3, maxDf = Some(2))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the genuine near-dup pair survives candidate generation
    assert(capped == Set((1L, 2L)), capped.toString)
  }

  test("shingle-hash kernel equals xxhash64 of the string-level shingle set") {
    import graft.functions.{TextFunctions, TextKernels}
    val got = docs.select(
      TextKernels.shingleHashSetCol(TextFunctions.tokensWs(col("text")), 3).as("k"),
      array_sort(array_distinct(transform(
        TextFunctions.shingleSet(TextFunctions.tokensWs(col("text")), 3),
        s => xxhash64(s)))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("decontamination flags exactly the docs sharing a k-gram with the bench set") {
    import spark.implicits._
    val bench = Seq((100L, "q1 q2 q3 q4 q5 q6 q7 q8 tail")).toDF("doc_id", "text")
    val train = Seq(
      // contains the full 8-gram (shifted position) → contaminated
      (1L, "pre q1 q2 q3 q4 q5 q6 q7 q8 post"),
      // only a 7-gram overlap → clean
      (2L, "q1 q2 q3 q4 q5 q6 q7 x y z a b"),
      // no overlap → clean
      (3L, "totally unrelated words here beyond eight tokens long"),
      // shorter than k → cannot be contaminated
      (4L, "q1 q2 q3"),
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, "doc_id", "text", bench, "text", k = 8)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0))
  }

  test("duplicatePassages: cross-doc spans merge runs, within-doc repeats don't flag") {
    import spark.implicits._
    val d = Seq(
      // docs 1/2 share the 5-token passage a1..a5 at different offsets:
      // k=4 windows at pos {0,1} (doc 1) and {2,3} (doc 2) → one merged
      // span each, 5 tokens
      (1L, "a1 a2 a3 a4 a5 x1 x2 x3 x4 x5 x6"),
      (2L, "z1 z2 a1 a2 a3 a4 a5 z3 z4 z5 z6"),
      // within-doc repeat only (r1..r4 twice in ONE doc): distinct-doc
      // frequency is 1 → never flagged
      (3L, "r1 r2 r3 r4 r1 r2 r3 r4 w1 w2"),
      // shorter than k → no windows at all
      (4L, "b1 b2 b3"),
    ).toDF("doc_id", "text")
    val res = Dedup.duplicatePassages(d, "doc_id", "text", k = 4)
    val spans = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq((1L, 0L, 5L, 5L), (2L, 2L, 7L, 5L)))
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "duplicate-passage detection must never plan a doc×doc join")
  }

  test("duplicatePassageStats: overlapping spans union-merge, clean docs zero") {
    import spark.implicits._
    val d = Seq(
      // doc 10's k=4 windows: pos 0 (m1..m4, shared with 11) and pos 2
      // (m3..m6, shared with 12) are duplicated; pos 1 (m2..m5) is unique.
      // Two runs → two OVERLAPPING spans [0,4) and [2,6).
      (10L, "m1 m2 m3 m4 m5 m6"),
      (11L, "m1 m2 m3 m4"),
      (12L, "m3 m4 m5 m6"),
      (13L, "clean words with no duplication at all"),
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatePassages(d, "doc_id", "text", k = 4)
      .filter(col("doc_id") === 10L)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((0L, 4L), (2L, 6L)))
    val stats = Dedup.duplicatePassageStats(d, "doc_id", "text", k = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // union of [0,4)∪[2,6) = 6 covered tokens, NOT 4+4=8
    assert(stats(10L) == ((6L, 6L, 1.0)))
    assert(stats(11L) == ((4L, 4L, 1.0)))
    assert(stats(12L) == ((4L, 4L, 1.0)))
    assert(stats(13L) == ((0L, 7L, 0.0)))
  }

  test("connected components match union-find on random graphs, chains, stars") {
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rnd = new scala.util.Random(11)
    val random = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    // a 30-node path: worst case for diameter-bound label propagation,
    // must converge in O(log) star rounds
    val chain = (100L until 129L).map(i => (i, i + 1))
    val star = (200L until 210L).map(i => (250L, i))
    for (edges <- Seq(random, chain, star, random ++ chain ++ star)) {
      val exp = unionFind(edges)
      // default → single-task union-find fast path
      val fast = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == exp, s"mismatch: ${fast.toSeq.sorted.take(8)} vs ${exp.toSeq.sorted.take(8)}")
      // smallGraphEdges = 0 → forced iterative star path; labels IDENTICAL
      val stars = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
          smallGraphEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars == exp)
    }
    // empty graph → empty result, no crash (both paths)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      smallGraphEdges = 0L).count() == 0)
  }

  test("connected components work over string/UUID ids (lexicographic order)") {
    import spark.implicits._
    val pairs = Seq(
      ("b1a0", "c2f1"), ("c2f1", "a9e3"), // one component, min a9e3
      ("ffff", "eeee")).toDF("id_a", "id_b")
    val want = Map("a9e3" -> "a9e3", "b1a0" -> "a9e3", "c2f1" -> "a9e3",
      "eeee" -> "eeee", "ffff" -> "eeee")
    for (thr <- Seq(200000L, 0L)) { // fast path and forced star path
      val got = Dedup.connectedComponents(pairs, smallGraphEdges = thr)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"threshold $thr")
    }
  }

  test("near-dup representatives keep exactly one doc per component") {
    import spark.implicits._
    val d = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupRepresentatives(d, "doc_id", pairs)
      .select("doc_id", "component", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exp = Set((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0), (4L, 4L, 1), (5L, 5L, 1),
      (6L, 6L, 1), (7L, 7L, 1), (8L, 8L, 1), (9L, 7L, 0), (10L, 10L, 1))
    assert(got == exp)
    // survivors = one per component + all singletons
    assert(got.count(_._3 == 1) == 7)
  }

  test("repetition-stats kernel matches a brute-force n-gram count oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "dd", "ee")
    val texts = (1L to 40L).map { i =>
      val n = 1 + rnd.nextInt(30)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ ((41L, "solo")) :+ ((42L, "x x x x"))
    val d = texts.toDF("doc_id", "text")
    val got = TextAnalysis.withRepetitionSignals(d, "text")
      .select("doc_id", "dup_word_frac", "top_word_frac", "dup_2gram_frac",
        "top_2gram_frac", "dup_3gram_frac", "top_3gram_frac")
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getDouble)).toMap
    def oracle(words: Array[String], g: Int): (Double, Double) = {
      val grams = words.sliding(g).filter(_.length == g).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) (0.0, 0.0)
      else {
        val counts = grams.groupBy(identity).view.mapValues(_.size).values.toSeq
        (counts.filter(_ > 1).sum.toDouble / grams.size,
          counts.max.toDouble / grams.size)
      }
    }
    texts.foreach { case (id, text) =>
      val words = text.split(" ")
      val exp = (1 to 3).flatMap { g =>
        val (dup, top) = oracle(words, g)
        Seq(dup, top)
      }.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(got(id) == exp, s"doc $id: ${got(id)} != $exp")
    }
    // degenerate shapes: 1 word → no 2/3-grams; all-same → full duplication
    assert(got(41L) == Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0))
    assert(got(42L) == Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0))
  }

  test("gopher keep flag applies every bound of the composite gate") {
    import spark.implicits._
    val d = Seq(
      // 40 tokens, avg len 4, but ALL the same word → top_word_frac 1 → reject
      (1L, Seq.fill(40)("word").mkString(" ")),
      // 40 distinct tokens, avg len 4 → pass every gate
      (2L, (1 to 40).map(i => f"w$i%03d").mkString(" ")),
      // too short (10 tokens)
      (3L, (1 to 10).map(i => f"w$i%03d").mkString(" ")),
      // avg token length 1 < 3 → reject
      (4L, (1 to 40).map(_ => "x").mkString(" ")),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.withGopherKeep(d, "text")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 0))
  }

  test("language id picks max marker count with first-wins ties") {
    import spark.implicits._
    val d = Seq(
      (1L, "the the data spark"), // en 2, es 1, zh 1 → en
      (2L, "data data spark the"), // es 2 → es
      (3L, "spark spark data the"), // zh 2 → zh
      (4L, "nothing matches here"), // all 0 → tie → en
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.langIdPredict(col("text"),
        Seq("en" -> "the", "es" -> "data", "zh" -> "spark")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "zh", 4L -> "en"))
  }

  test("multimodal featurize is deterministic and non-null") {
    import spark.implicits._
    val media = Seq(
      (1L, Array[Byte](1, 2, 3, 4, 5)),
      (2L, Array[Byte](1, 2, 3, 4, 5)),
      (3L, Array[Byte](9, 9, 9))).toDF("media_id", "bytes")
    val dec = new graft.pipeline.Multimodal.StubDecoder(8)
    val out = graft.pipeline.Multimodal.featurize(media, "media_id", "bytes", dec)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out(1L) == out(2L) && out(1L) != out(3L) && out(1L).length == 8)
  }

  test("BMP codec roundtrips random images, incl. padded odd widths") {
    import graft.pipeline.Multimodal.Bmp
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((8, 8), (5, 3), (1, 1), (7, 2), (16, 4))) {
      val px = Array.fill(w * h)(rnd.nextInt(0xFFFFFF + 1))
      val (w2, h2, px2) = Bmp.decode24(Bmp.encode24(w, h, px))
      assert(w2 == w && h2 == h && px2.toSeq == px.toSeq, s"roundtrip $w x $h")
    }
  }

  test("BMP pixel-stat features match a direct computation") {
    import graft.pipeline.Multimodal
    val px = Array.tabulate(64) { i => // 8x8, deterministic channels
      val (x, y) = (i % 8, i / 8)
      (((x * 29 + y) % 256) << 16) | (((y * 31 + x) % 256) << 8) | ((x * y) % 256)
    }
    val f = new Multimodal.BmpStatsDecoder().decode(Multimodal.Bmp.encode24(8, 8, px))
    def ch(p: Int, s: Int) = (p >> s) & 0xFF
    assert(f(0) == px.map(ch(_, 16)).sum.toFloat)
    assert(f(1) == px.map(ch(_, 8)).sum.toFloat)
    assert(f(2) == px.map(ch(_, 0)).sum.toFloat)
    val q3 = (for (y <- 4 until 8; x <- 4 until 8) yield {
      val p = px(y * 8 + x); ch(p, 16) + ch(p, 8) + ch(p, 0)
    }).sum
    assert(f(6) == q3.toFloat)
  }

  test("embeddingNearDupAuto derives cell count from the scale law and bounds cell size") {
    // the law: k = max(4, ceil(n/c)) => mean cell size n/k <= c for all n, c
    assert(Dedup.autoCellCount(500L, 512) == 4)
    assert(Dedup.autoCellCount(200000L, 512) == 391)
    assert(Dedup.autoCellCount(1L, 512) == 4)
    for (n <- Seq(1L, 100L, 5000L, 1000000L, 123456789L); c <- Seq(64, 512, 4096))
      assert(n.toDouble / Dedup.autoCellCount(n, c) <= c.toDouble,
        s"mean cell size exceeds target for n=$n c=$c")
    // end-to-end: near-identical vectors (scaled copies, cosine ~ 1) must
    // co-locate in a derived cell and be recovered by the blocked join
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val dup = base.map { case (i, v) => (i + 1000L, v.map(x => x * 1.001f)) }
    val df = (base ++ dup).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupAuto(df, "id", "vec",
      threshold = 0.99, targetCellSize = 16)
    val found = pairs.filter(col("id_b") === col("id_a") + 1000L).count()
    assert(found == 64L, s"planted recall $found/64")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "auto-blocked near-dup must never plan an all-pairs join")
  }

  test("embeddingNearDupAuto with cachePath trains exactly once across repeated calls") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0L until 128L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val cache = java.nio.file.Files.createTempDirectory("graft_ndc")
      .resolve("cents.txt").toString
    val before = graft.index.IvfIndex.buildCount.get()
    val first = Dedup.embeddingNearDupAuto(df, "id", "vec",
      threshold = 0.99, targetCellSize = 16, cachePath = Some(cache)).count()
    val afterFirst = graft.index.IvfIndex.buildCount.get()
    assert(afterFirst - before == 1L, "first call must train once")
    val second = Dedup.embeddingNearDupAuto(df, "id", "vec",
      threshold = 0.99, targetCellSize = 16, cachePath = Some(cache)).count()
    assert(graft.index.IvfIndex.buildCount.get() == afterFirst,
      "repeat call must reuse the cached model, not re-train")
    assert(first == second)
    // artifact survives the in-process memo: a fresh read from disk works
    assert(graft.index.IvfIndex.loadCached(cache).nonEmpty)
  }

  test("trigram lang-id classifies held-out sentences and respects CJK script") {
    import graft.pipeline.LangId
    val codes = Array("en", "de", "es", "fr", "zh")
    val cases = Seq(
      "the quick brown fox jumps over the lazy dog and runs away" -> "en",
      "das ist ein schönes Haus und wir haben viele Bücher gelesen" -> "de",
      "esta es una casa bonita y tenemos muchos libros para leer" -> "es",
      "c'est une belle maison et nous avons beaucoup de livres à lire" -> "fr",
      "向量搜索引擎非常好用" -> "zh")
    for ((text, want) <- cases)
      assert(LangId.classify(text, codes) == want, s"misclassified: $text")
    // deterministic: same input, same answer
    assert(LangId.classify("the cat", codes) == LangId.classify("the cat", codes))
  }

  test("packShards: partition-count invariant, matches serial prefix sum, no Window") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0L until 500L).map(i => (i, 10L + rng.nextInt(200)))
    val df = Seq(rows: _*).toDF("doc_id", "n_tokens")
    // serial oracle: exclusive running sum / budget in id order
    var acc = 0L
    val want = rows.sortBy(_._1).map { case (id, t) =>
      val s = acc / 1000L; acc += t; (id, t, s)
    }.toSet
    def got(p: Int): Set[(Long, Long, Long)] =
      Sharding.packShards(df, "doc_id", "n_tokens", budget = 1000L,
          numPartitions = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val g3 = got(3)
    assert(g3 == want)
    // the prefix-sum offsets make shard ids independent of where the range
    // boundaries land — the 100 TB guarantee (repartitioning a corpus
    // cannot silently reshuffle its shard assignment)
    assert(got(7) == g3 && got(1) == g3)
    // and the plan must not contain the single-task global Window the
    // naive formulation would use
    val plan = Sharding.packShards(df, "doc_id", "n_tokens", budget = 1000L,
      numPartitions = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"global window in plan:\n$plan")
    // empty input → empty output, no crash (offset pass sees no partitions)
    assert(Sharding.packShards(df.limit(0), "doc_id", "n_tokens",
      budget = 1000L, numPartitions = 3).count() == 0)
  }

  test("chunkSequences: stride windows cover all tokens, tails short, no shuffle") {
    import spark.implicits._
    val words = (1 to 11).map(i => s"w$i").mkString(" ") // 11 tokens
    val df = Seq((1L, words), (2L, "solo")).toDF("doc_id", "text")
    val got = Sharding.chunkSequences(df, "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,3,6,9 → windows w1-4, w4-7, w7-10, w10-11(short)
    val exp = Seq(
      (1L, 0L, 4L, "w1 w2 w3 w4"), (1L, 1L, 4L, "w4 w5 w6 w7"),
      (1L, 2L, 4L, "w7 w8 w9 w10"), (1L, 3L, 2L, "w10 w11"),
      (2L, 0L, 1L, "solo"))
    assert(got.toSeq == exp)
    // narrow plan: no Exchange (shuffle) anywhere
    val plan = Sharding.chunkSequences(df, "doc_id", "text", 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in chunk plan:\n$plan")
  }

  test("redactPii replaces all emails/phones, counts on original text") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.b+c@x-y.co and z@q.io, call +1-555-0123 or +44-999-1234 now"),
      (2L, "no pii here at all"),
      (3L, "edge: a@b.c not an email (1-char TLD), +123-555-0000 too many cc digits"),
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis.redactPii(df, "text")
      .select("doc_id", "n_emails", "n_phones", "text_redacted")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 2L, 2L,
      "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE> now")))
    assert(got(1) == ((2L, 0L, 0L, "no pii here at all")))
    // 1-char TLD not an email; "+123-" exceeds the 2-digit country code but
    // the regex still matches its "+12 3-555-0000"? No: \+\d{1,2}- requires
    // a dash after 1-2 digits — "+123-" has the dash after 3 digits, no match
    assert(got(2)._2 == 0L && got(2)._3 == 0L)
  }

  test("mixtureSample: deterministic, monotone in rate, frequency near rate") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "grp")
    def ids(ra: Double, rb: Double): Set[Long] =
      Sharding.mixtureSample(df, "doc_id", "grp", Map("a" -> ra, "b" -> rb))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val half = ids(0.5, 0.25)
    // deterministic: identical on repeat
    assert(ids(0.5, 0.25) == half)
    // monotone: raising a group's rate only ADDS rows
    assert(half.subsetOf(ids(0.8, 0.5)))
    // rate 1.0 keeps everything, 0.0 keeps nothing
    assert(ids(1.0, 0.0) == (0L until 2000L by 2).toSet)
    // observed frequency within ±5pp of the rate (1000 rows per group)
    val fa = half.count(_ % 2 == 0) / 1000.0
    val fb = half.count(_ % 2 == 1) / 1000.0
    assert(math.abs(fa - 0.5) < 0.05, s"group a freq $fa")
    assert(math.abs(fb - 0.25) < 0.05, s"group b freq $fb")
  }
}
