package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.filters.{FilterCompiler, JsonResolver, PayloadScalar}
import graft.model._

/** Property-based filter-algebra fidelity (the reference's proptest
  * pattern, SURVEY.md §5.2): random boolean filter trees over a fixed
  * corpus with every payload shape (absent / JSON null / scalar / array /
  * empty array), evaluated by the compiled Catalyst predicate AND by an
  * independent driver-side reference evaluator; results must agree on
  * every row. */
class FilterPropertySpec extends SparkTestBase {

  // (id, city: String|Seq[String]|null|absent, price: Double|null|absent,
  //  bio: String|Seq[String]|null|absent)
  private val rows: Seq[(Long, Option[Any], Option[Any], Option[Any], Seq[(Double, String)])] = Seq(
    (1L, Some("Berlin"), Some(10.0), Some("the quick brown fox jumps"),
      Seq((1.0, "x"), (5.0, "y"))),
    (2L, Some(Seq("Berlin", "London")), Some(11.0), Some("quick brown the fox"),
      Seq((5.0, "x"))),
    (3L, Some(Seq("Berlin", "Moscow")), Some(9.5), Some(Seq("lazy dog", "quick fox")),
      Seq((2.0, "y"), (3.0, "y"))),
    (4L, Some(Seq("London", "Moscow")), Some(9.0), Some("brown dog sleeps"), Seq()),
    (5L, None, Some(0.0), None, Seq((9.0, "x"), (1.0, "z"))),
    (6L, None, None, Some(null), Seq()),
    (7L, Some(null), Some(null), Some("the the the"), Seq((4.0, "z"))),
    (8L, Some(Seq()), Some(25.0), Some(Seq()), Seq((5.0, "y"), (5.0, "x"))),
    (9L, Some("Paris"), None, Some("fox"), Seq()),
    (10L, Some(Seq("Rome")), Some(-3.5), Some(Seq("quick brown", "dog fox brown")),
      Seq((0.5, "x"))),
  )

  private def jsonOf(city: Option[Any], price: Option[Any], bio: Option[Any],
      items: Seq[(Double, String)]): String = {
    def v(a: Any): String = a match {
      case null => "null"
      case s: String => "\"" + s + "\""
      case d: Double => d.toString
      case xs: Seq[_] => xs.map(v).mkString("[", ",", "]")
    }
    val itemsJson =
      if (items.isEmpty) None
      else Some(items.map { case (q, t) => s"""{"q":$q,"tag":"$t"}""" }
        .mkString("[", ",", "]"))
    val parts = city.map(c => "\"city\":" + v(c)).toSeq ++
      price.map(p => "\"price\":" + v(p)).toSeq ++
      bio.map(b => "\"bio\":" + v(b)).toSeq ++
      itemsJson.map(ij => "\"items\":" + ij).toSeq
    parts.mkString("{", ",", "}")
  }

  // Raw payloads the streaming scalar read (`filters.PayloadScan`)
  // must decline or decide exactly as the VARIANT path does, each with the
  // values the engine reads from it. Documents try_parse_json rejects read
  // as all-absent.
  private def absent(id: Long): Row4 = (id, None, None, None, Seq())
  private val edgeDocs: Seq[(String, Row4)] = Seq(
    ("""{"city":"Berlin","price":9.0,"city":"Paris"}""", absent(11L)), // duplicate key
    ("""{"city":"Paris","items":[{"q":1.0,"tag":"x","tag":"y"}]}""", absent(12L)), // nested
    ("""{"city":"Rome","meta":{"a":1,"b":{"a":2,"a":3}}}""", absent(13L)), // nested
    ("""{"city":"Berlin","price":10.0""", absent(14L)), // malformed
    // trailing text: try_parse_json reads the first document
    ("""{"city":"London","price":9.5} {"city":"Paris"}""", (15L, Some("London"), Some(9.5), None, Seq())),
    ("""{"city":"5","price":5}""", (17L, Some("5"), Some(5.0), None, Seq())),
    ("""{"price":5.0,"bio":"fox"}""", (18L, None, Some(5.0), Some("fox"), Seq())),
    ("""{"price":5e0,"city":"Moscow"}""", (19L, Some("Moscow"), Some(5.0), None, Seq())),
    ("""{"price":123456789012345678901234567890,"city":"Berlin"}""",
      (20L, Some("Berlin"), Some(BigDecimal("123456789012345678901234567890").toDouble), None, Seq())),
    ("""{"price":-9223372036854775809,"city":"London"}""", // below Long.MinValue
      (21L, Some("London"), Some(BigDecimal("-9223372036854775809").toDouble), None, Seq())),
    // JSON escapes: a quote, two ASCII code points, one non-ASCII
    ("{\"city\":\"Lo\\\"ndon\\u0021\",\"bio\":\"quick \\u0066ox\"}",
      (22L, Some("Lo\"ndon!"), None, Some("quick fox"), Seq())),
    ("{\"city\":\"Z\\u00fcrich\",\"price\":11.0}", (23L, Some("Z\u00fcrich"), Some(11.0), None, Seq())),
    ("{\"city\":\"Paris \u00e9t\u00e9\",\"bio\":\"the fox\"}", // raw non-ASCII
      (24L, Some("Paris \u00e9t\u00e9"), None, Some("the fox"), Seq())),
    ("""{"city":null,"price":null,"bio":null}""", (25L, Some(null), Some(null), Some(null), Seq())),
    ("""{"city":[],"price":[],"bio":"dog"}""", (26L, Some(Seq()), Some(Seq()), Some("dog"), Seq())),
    ("""{"city":"Berlin","price":{"v":10.0}}""", (27L, Some("Berlin"), Some(Map("v" -> 10.0)), None, Seq())),
    ("""{"bio":"brown dog","price":{"price":9.5},"items":[{"q":5.0,"tag":"x"}]}""",
      (28L, None, Some(Map("price" -> 9.5)), Some("brown dog"), Seq((5.0, "x")))),
  )

  // Payloads on which the engine knowingly departs from qdrant, so the
  // reference evaluator does not judge them; only the streamed and VARIANT
  // paths are checked against each other there. A numeric string on a float
  // key: the VARIANT cast reads `"5"` as 5.0 and a range matches it, where
  // qdrant matches no string against a range.
  private val divergentDocs: Seq[(Long, String)] = Seq(
    16L -> """{"city":"Rome","price":"5"}""")

  private lazy val allRows: Seq[Row4] = rows ++ edgeDocs.map(_._2)

  private def frame(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("id", "payload").cache()
  }

  private lazy val df: DataFrame =
    frame(rows.map { case (id, c, p, b, it) => (id, jsonOf(c, p, b, it)) } ++
      edgeDocs.map { case (json, row) => (row._1, json) })

  private lazy val agreementDf: DataFrame = df.union(frame(divergentDocs))

  private val types = Map("city" -> StringType, "price" -> DoubleType, "bio" -> StringType,
    "items.q" -> DoubleType, "items.tag" -> StringType)

  private lazy val resolver = new JsonResolver(col("payload"), types, col("id"))

  /** The VARIANT-only path: the same conditions over a parsed payload. */
  private lazy val parsedResolver =
    new JsonResolver(col("parsed"), types, col("id"), preParsed = true)

  // ---- reference evaluator (independent of the Spark path) ----

  private def fieldOf(row: Row4, key: String): Option[Any] =
    key match {
      case "city" => row._2
      case "price" => row._3
      case "bio" => row._4
      case _ => None
    }

  private type Row4 = (Long, Option[Any], Option[Any], Option[Any], Seq[(Double, String)])

  private def valuesOf(row: Row4, key: String): Seq[Any] =
    fieldOf(row, key) match {
      case None => Nil
      case Some(null) => Nil
      case Some(xs: Seq[_]) => xs.filter(_ != null)
      case Some(x) => Seq(x)
    }

  private def isJsonNull(row: Row4, key: String): Boolean =
    fieldOf(row, key) match {
      case Some(null) => true
      case Some(xs: Seq[_]) => xs.contains(null)
      case _ => false
    }

  private def inRange(v0: Any, gt: Option[Any], gte: Option[Any],
      lt: Option[Any], lte: Option[Any]): Boolean = v0.isInstanceOf[Double] && {
    val v = v0.asInstanceOf[Double]
    gt.forall(b => v > b.asInstanceOf[Double]) &&
      gte.forall(b => v >= b.asInstanceOf[Double]) &&
      lt.forall(b => v < b.asInstanceOf[Double]) &&
      lte.forall(b => v <= b.asInstanceOf[Double])
  }

  private def evalCond(row: Row4, c: Condition): Boolean =
    c match {
      case MatchValue(k, v) => valuesOf(row, k).contains(v)
      case MatchAny(k, vs) => valuesOf(row, k).exists(vs.contains)
      case MatchExcept(k, vs) => valuesOf(row, k).exists(v => !vs.contains(v))
      // unindexed full-text = raw substring semantics
      // (`condition_checker.rs:174-193`): Text/Phrase test the WHOLE
      // query text with contains, TextAny any whitespace query token
      case MatchText(k, text) =>
        valuesOf(row, k).exists(_.asInstanceOf[String].contains(text))
      case MatchTextAny(k, text) =>
        val qs = text.split("\\s+").filter(_.nonEmpty)
        valuesOf(row, k).exists { v =>
          val s = v.asInstanceOf[String]
          qs.exists(s.contains)
        }
      case MatchPhrase(k, text) =>
        valuesOf(row, k).exists(_.asInstanceOf[String].contains(text))
      case MatchPrefix(k, p) =>
        valuesOf(row, k).exists(_.asInstanceOf[String].startsWith(p))
      case RangeCond(k, gt, gte, lt, lte) =>
        valuesOf(row, k).exists(v => inRange(v, gt, gte, lt, lte))
      case ValuesCount(k, gt, gte, lt, lte) =>
        val n = valuesOf(row, k).size.toLong
        gt.forall(n > _) && gte.forall(n >= _) && lt.forall(n < _) && lte.forall(n <= _)
      case IsEmpty(k) =>
        fieldOf(row, k).isEmpty ||
          (valuesOf(row, k).isEmpty && !isJsonNull(row, k))
      case IsNullCond(k) => isJsonNull(row, k)
      case HasId(ids) => ids.contains(row._1)
      case NestedCond("items", f) =>
        row._5.exists { case (q, tag) =>
          evalNestedFilter(q, tag, f)
        }
      case SubFilter(f) => evalFilter(row, f)
      case other => throw new IllegalArgumentException(other.toString)
    }

  private def evalNestedCond(q: Double, tag: String, c: Condition): Boolean = c match {
    case MatchValue("tag", v) => tag == v
    case RangeCond("q", gt, gte, lt, lte) => inRange(q, gt, gte, lt, lte)
    case other => throw new IllegalArgumentException("nested " + other)
  }

  private def evalNestedFilter(q: Double, tag: String, f: Filter): Boolean = {
    val mustOk = f.must.forall(evalNestedCond(q, tag, _))
    val shouldOk = f.should.isEmpty || f.should.exists(evalNestedCond(q, tag, _))
    mustOk && shouldOk
  }

  private def evalFilter(row: Row4, f: Filter): Boolean = {
    val mustOk = f.must.forall(evalCond(row, _))
    val shouldOk = f.should.isEmpty || f.should.exists(evalCond(row, _))
    val minOk = f.minShould.forall(ms =>
      ms.conditions.count(evalCond(row, _)) >= ms.minCount)
    val notOk = !f.mustNot.exists(evalCond(row, _))
    mustOk && shouldOk && minOk && notOk
  }

  // ---- generators ----

  private val genCity: Gen[String] =
    Gen.oneOf("Berlin", "London", "Moscow", "Paris", "Rome", "Nowhere")
  private val genBound: Gen[Option[Any]] =
    Gen.option(Gen.oneOf(-5.0, 0.0, 9.0, 9.5, 10.0, 11.0, 20.0).map(_.asInstanceOf[Any]))

  private val genLeaf: Gen[Condition] = Gen.oneOf[Gen[Condition]](
    genCity.map(MatchValue("city", _)),
    Gen.nonEmptyListOf(genCity).map(vs => MatchAny("city", vs.distinct)),
    Gen.nonEmptyListOf(genCity).map(vs => MatchExcept("city", vs.distinct)),
    Gen.oneOf("B", "Lo", "X", "Pa").map(MatchPrefix("city", _)),
    for (gt <- genBound; lt <- genBound) yield RangeCond("price", gt = gt, lt = lt),
    for (gte <- genBound; lte <- genBound) yield RangeCond("price", gte = gte, lte = lte),
    for (gte <- Gen.option(Gen.chooseNum(0L, 3L)); lt <- Gen.option(Gen.chooseNum(1L, 4L)))
      yield ValuesCount("city", gte = gte, lt = lt),
    Gen.oneOf("city", "price", "missing").map(IsEmpty(_)),
    Gen.oneOf("city", "price", "missing").map(IsNullCond(_)),
    Gen.someOf(1L to 10L).map(ids => HasId(ids.toSeq)),
    genPhraseText.map(MatchText("bio", _)),
    genPhraseText.map(MatchTextAny("bio", _)),
    genPhraseText.map(MatchPhrase("bio", _)),
    genNested,
  ).flatMap(identity)

  private lazy val genNested: Gen[Condition] = for {
    tag <- Gen.oneOf("x", "y", "z", "w")
    lo <- Gen.option(Gen.oneOf(0.0, 1.0, 4.0, 5.0).map(_.asInstanceOf[Any]))
    hi <- Gen.option(Gen.oneOf(2.0, 5.0, 8.0).map(_.asInstanceOf[Any]))
    useShould <- Gen.oneOf(true, false)
    conds = Seq(MatchValue("tag", tag), RangeCond("q", gte = lo, lt = hi))
  } yield NestedCond("items",
    if (useShould) Filter(should = conds) else Filter(must = conds))

  private lazy val genPhraseText: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("the", "quick", "brown", "fox", "dog", "zzz"))
        .map(_.mkString(" ")))

  private def genFilter(depth: Int): Gen[Filter] = {
    val cond: Gen[Condition] =
      if (depth <= 0) genLeaf
      else Gen.frequency(4 -> genLeaf, 1 -> genFilter(depth - 1).map(SubFilter(_)))
    for {
      must <- Gen.listOfN(2, cond).map(_.take(2))
      nMust <- Gen.chooseNum(0, 2)
      should <- Gen.listOfN(2, cond)
      nShould <- Gen.chooseNum(0, 2)
      mustNot <- Gen.listOfN(1, cond)
      nNot <- Gen.chooseNum(0, 1)
      minShould <- Gen.option(for {
        cs <- Gen.listOfN(3, cond)
        n <- Gen.chooseNum(1, 3)
      } yield MinShould(cs, n))
    } yield Filter(must.take(nMust), should.take(nShould), minShould, mustNot.take(nNot))
  }

  // deterministic sampling: fixed seeds, so failures reproduce exactly
  private lazy val filters: Seq[Filter] = {
    val gen = genFilter(2)
    (1 to 60).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))
  }

  private def ids(d: DataFrame, pred: org.apache.spark.sql.Column): Set[Long] =
    d.filter(pred).select("id").collect().map(_.getLong(0)).toSet

  test("compiled filters agree with the reference evaluator on every row") {
    val compiler = new FilterCompiler(resolver)
    assert(filters.size >= 55, "generator failed too often")
    for (f <- filters) {
      val got = ids(df, compiler.compile(f))
      val expect = allRows.filter(evalFilter(_, f)).map(_._1).toSet
      assert(got == expect, s"\nfilter: $f\nspark: $got\nmodel: $expect")
    }
  }

  test("streamed payload scalars agree with the VARIANT-only path on every row") {
    val raw = new FilterCompiler(resolver)
    val parsed = new FilterCompiler(parsedResolver)
    val withParsed = agreementDf.withColumn("parsed", try_parse_json(col("payload")))
    // the match and range leaves the stream reads, beside the whole trees
    val leaves = Seq[Condition](
      MatchValue("city", "Berlin"), MatchValue("city", "5"), MatchValue("city", "Lo\"ndon!"),
      MatchValue("city", "Z\u00fcrich"), MatchAny("city", Seq("Rome", "Paris \u00e9t\u00e9", "London")),
      RangeCond("price", gte = Some(5.0), lte = Some(5.0)), RangeCond("price", gt = Some(1e20)),
      RangeCond("price", lt = Some(-1e18)), RangeCond("price", gte = Some(9L), lt = Some(10L)),
      NestedCond("items", Filter(must = Seq(MatchValue("tag", "x"), RangeCond("q", gte = Some(5.0))))))
    val planned = df.filter(raw.compile(Filter(must = Seq(MatchValue("city", "Berlin")))))
      .queryExecution.optimizedPlan
    assert(planned.exists(_.expressions.exists(_.exists(_.isInstanceOf[PayloadScalar]))),
      "a raw-payload match must read the streamed scalar:\n" + planned)
    for (f <- leaves.map(c => Filter(must = Seq(c))) ++ filters) {
      val fast = ids(withParsed, raw.compile(f))
      val variant = ids(withParsed, parsed.compile(f))
      assert(fast == variant, s"\nfilter: $f\nstreamed: $fast\nvariant: $variant")
    }
  }

  test("an undeclared key's values of another kind do not match, and never throw") {
    // undeclared keys read as STRING on the VARIANT path; qdrant's
    // `condition_checker.rs` skips a value whose kind the condition does
    // not compare (a fraction under an integer match, a string or an
    // object under a range). `parse_json` stores 5.0 as the integer 5, so
    // only a true fraction stands for the f64 case here.
    val d = frame(Seq(1L -> """{"n":5.5}""", 2L -> """{"n":5}""",
      3L -> """{"n":"abc"}""", 4L -> """{"n":{"a":5}}""",
      5L -> """{"n":[5,"x",7.5]}""", 6L -> """{"n":6}""", 7L -> """{"m":5}"""))
      .withColumn("parsed", try_parse_json(col("payload")))
    val raw = new FilterCompiler(new JsonResolver(col("payload"), Map.empty, col("id")))
    val variant = new FilterCompiler(
      new JsonResolver(col("parsed"), Map.empty, col("id"), preParsed = true))
    val expected = Seq[(Condition, Set[Long])](
      MatchValue("n", 5L) -> Set(2L, 5L),
      MatchAny("n", Seq(5L, 6L)) -> Set(2L, 5L, 6L),
      RangeCond("n", gte = Some(5.0)) -> Set(1L, 2L, 5L, 6L),
      RangeCond("n", gt = Some(4L), lt = Some(5.5)) -> Set(2L, 5L),
      // qdrant's `Match::Except` matches a value of another kind
      MatchExcept("n", Seq(5L, 6L)) -> Set(1L, 3L, 4L, 5L))
    for ((c, want) <- expected; (name, fc) <- Seq("raw" -> raw, "variant" -> variant))
      assert(ids(d, fc.compile(Filter(must = Seq(c)))) == want, s"$name: $c")
  }

  test("a non-ASCII string matches on the VARIANT-only path") {
    // Spark's VARIANT reader decodes strings with the JVM's default charset;
    // the test JVM gets UTF-8 from tools/jvm.opts, as every launch does
    val d = frame(Seq(1L -> "{\"n\":\"\u00e9\"}", 2L -> """{"n":"e"}"""))
      .withColumn("parsed", try_parse_json(col("payload")))
    val variant = new FilterCompiler(
      new JsonResolver(col("parsed"), Map("n" -> StringType), col("id"), preParsed = true))
    assert(ids(d, variant.compile(Filter(must = Seq(MatchValue("n", "\u00e9"))))) == Set(1L))
  }
}
