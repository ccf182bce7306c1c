package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale probe: generates a dataset `SPARK_GRAFT_SCALE_MULT`× the
  * sf0.1 tables (same schemas/distributions, deterministic hash-derived
  * contents) and times the documents/embeddings-backed catalog subset on
  * it, so shuffle-heavy paths (dedup joins, scans, mutations) are observed
  * with data large enough that fixed job overhead no longer dominates.
  *
  * The two contract-carrying dedup entries are timed as bare operators
  * (same parameters as the catalog), like the bench. Mutation catalog
  * entries seed fixed-size collections by construction, so the probe adds
  * `mutation_scaled`: a collection seeded with EVERY generated document,
  * then upsert-10% → delete-by-filter → payload-merge, end-to-end.
  *
  * Near-dup yield note: generated text is drawn i.i.d. from the sf0.1
  * vocabulary, so cross-document shingle overlap is high-df rather than
  * pairwise — the df cap drops hot shingles and pair YIELD is sparse, but
  * the candidate machinery (shingling, banding, bucket joins) runs at full
  * width, which is what the probe measures.
  */
object ScaleProbe {

  def genDocuments(spark: SparkSession, base: DataFrame, mult: Int): DataFrame = {
    val vocab = base.select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val langs = base.select("lang").distinct().collect().map(_.getString(0)).sorted.toSeq
    val sources = base.select("source").distinct().collect().map(_.getString(0)).sorted.toSeq
    val n = base.count() * mult
    spark.range(n).toDF("doc_id")
      .withColumn("len",
        (pmod(xxhash64(col("doc_id"), lit("len")), lit(21)) + 20).cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(1), col("len")), i =>
          element_at(typedLit(vocab),
            (pmod(xxhash64(col("doc_id"), i), lit(vocab.length)) + 1).cast("int"))),
        " "))
      .withColumn("lang", element_at(typedLit(langs),
        (pmod(xxhash64(col("doc_id"), lit("lang")), lit(langs.length)) + 1).cast("int")))
      .withColumn("source", element_at(typedLit(sources),
        (pmod(xxhash64(col("doc_id"), lit("src")), lit(sources.length)) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def genEmbeddings(spark: SparkSession, base: DataFrame, mult: Int): DataFrame = {
    val n = base.count() * mult
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(1), lit(64)), i =>
        (pmod(xxhash64(col("vec_id"), i), lit(1000000)).cast("double") /
          lit(1000000.0d) - lit(0.5d)).cast("float")))
      .withColumn("label",
        pmod(xxhash64(col("vec_id"), lit("label")), lit(12)).cast("int"))
  }

  /** documents/embeddings-backed catalog subset (all other tables are not
    * regenerated at scale). */
  private val subset: Seq[String] = Seq(
    "knn_dot", "knn_cosine", "knn_euclid", "knn_manhattan", "knn_filtered",
    "knn_batch", "knn_u8", "knn_u8_euclid", "knn_f16", "knn_f16_cosine",
    "ivf_search_allprobe", "ivf_search_probe2", "quantized_scalar_rescore",
    "embedding_neardup", "embedding_neardup_auto",
    "dedup_exact", "dedup_keep_first", "ngram_jaccard",
    "minhash_lsh", "simhash_pairs",
    "neardup_components", "dedup_representatives", "repetition_signals",
    "quality_filter_gopher", "decontaminate", "scenario_training_pipeline",
    "pack_shards", "mixture_sample", "chunk_sequences", "pii_redact",
    "scenario_shard_assembly",
    "token_count", "quality_features", "lang_id", "fingerprint_md5",
    "analyzed_term_facet", "match_text", "match_text_any", "match_phrase",
    "match_text_analyzed",
    "bm25_idf_search", "sparse_dot_tokens", "bm25_corpus_scoped",
    "sparse_struct_knn", "sparse_struct_postings", "api_query_hybrid_sparse",
    "shard_scoped_knn", "knn_optional_vectors", "prefetch_rrf_filtered",
    "quantized_binary2_rescore", "quantized_binary15_rescore",
    "quantized_binary_asym_rescore",
    "facet_lang", "facet_source_filtered",
    // round-9 session-2 additions: config PATCH (refit + re-materialize at
    // scale), wire SearchParams routing, multivec/sparse recommend,
    // rescore-parent scroll scoping, variant-typed group keys
    "collection_update_quantization", "sparse_config_update_idf",
    "recommend_multivec_avg", "recommend_sparse_avg",
    "prefetch_order_by", "prefetch_rescore_colbert",
    "api_query_params_exact", "api_query_params_quantized",
    "group_by_hetero", "group_by_discover", "knn_euclid_threshold",
    "bm25_embed_search", "api_upsert_typed_vectors",
    "ivf_search_filtered", "api_query_with_payload",
    "collection_query_endpoint", "collection_query_sparse",
    "maxsim_multivec_f16", "prefetch_random_offset",
    // round-10 session-2 additions: one-call endpoint handlers, legacy
    // route adapters, update modes, grouped roots, catalog lookup —
    // all documents/embeddings-backed
    "collection_query_batch", "collection_group_by",
    "collection_group_recommend", "collection_matrix_endpoint",
    "collection_search_legacy", "collection_recommend_legacy",
    "upsert_update_modes", "catalog_query_lookup_from",
    "collection_query_with_payload", "collection_scroll_endpoint",
    "ivf_collection_knn", "ivf_collection_exact",
    // round-10 session-3: ann PATCH re-layout; exact=false count — cold
    // builds the stats sidecar, warm answers driver-side (flat vs scale)
    "collection_update_ann", "count_estimate_must", "count_estimate_range",
    "collection_facet_estimate")

  private val operatorOnly: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "minhash_lsh" -> ((s, dir) => graft.pipeline.Dedup.minhashLshPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.05)),
      // the engine/catalog default since r6: hamming <= 3, where the
      // 4x16-bit band join is exhaustive by pigeonhole and the output is
      // sparse
      "simhash_pairs" -> ((s, dir) => graft.pipeline.Dedup.simhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", maxHamming = 3)),
      // the r5-measured pathology, kept as an explicit opt-in measurement
      // (radius 16 on low-entropy text has quadratic OUTPUT — half of all
      // doc pairs genuinely qualify; no algorithm outruns its output)
      "simhash_pairs_h16" -> ((s, dir) => graft.pipeline.Dedup.simhashPairs(
        Tables.load(s, dir, "documents"), "doc_id", "text", maxHamming = 16)),
      // the r6 engine default: cell count derived from the data
      // (k = max(4, ceil(N/512)) -> 391 cells at 200k vectors)
      "embedding_neardup_auto" -> ((s, dir) =>
        graft.pipeline.Dedup.embeddingNearDupAuto(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.99,
          cachePath = Some("/tmp/graft_runtime/neardup_cents_c512_" +
            dir.replaceAll("[^A-Za-z0-9]", "_")))),
      // Adversarial CC topology: a 1M-node path is the worst case for
      // diameter-bound label propagation (10⁶ rounds); the alternating
      // large-star/small-star rounds must stay logarithmic. Pure operator
      // probe — the graph is generated, not derived from pairs.
      "cc_chain_1m" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val n = 1000000L
        val edges = s.range(n - 1).toDF("id_a")
          .withColumn("id_b", col("id_a") + 1)
        graft.pipeline.Dedup.connectedComponents(edges, maxIter = 60)
      }),
      // The catalog entry pins k=4 Forgy centroids so its DuckDB oracle can
      // reproduce the assignment — at 100x data that is 4 cells of 50k
      // vectors and an O(N²/k) in-cell pair join (measured: the probe's
      // first blow-up). At scale the cell count must grow with N; the probe
      // runs the operator in its 100 TB shape: k = 256 cells.
      "embedding_neardup" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val e = Tables.load(s, dir, "embeddings")
        val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_CELLS", "256").toInt
        val cents = e.filter(col("vec_id") < k).orderBy(col("vec_id"))
          .select(col("embedding").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toSeq).toSeq
        val assigned = graft.index.IvfIndex.assign(e, "embedding",
          graft.index.IvfIndex.Model(cents))
        graft.pipeline.Dedup.embeddingNearDupPairs(assigned, "vec_id",
          "embedding", 0.4, blockCol = Some("centroid_id"))
      }),
    )

  /** Config-routed IVFADC at scale: 64-cell IVF + PQ x16 over every
    * generated embedding. `_build` times the index-build job (centroid +
    * codebook training, cell-partitioned table write); `_probe` the
    * default nprobe=4 two-phase search (cell-pruned ADC scan → exact
    * rescore — reads ~4/64 of the table from disk); `_exact` the
    * params.exact bypass (full scan) over the SAME table — the probe/exact
    * ratio is the number the partitioned layout buys. */
  private def scaledIvfCfg = {
    import graft.sources._
    CollectionConfig(idCol = "vec_id",
      vectors = Seq(VectorConfig("", 64, graft.model.Dot,
        quantization = Some(QuantizationSpec("product")),
        ann = Some(IvfSpec(cells = 64, nprobe = 4)))))
  }
  private val scaledIvfPath = "/tmp/graft_runtime/scale_ivfadc"
  private def scaledIvf(s: SparkSession): graft.storage.Collection =
    new graft.storage.Collection(s, scaledIvfPath, scaledIvfCfg)

  /** Round-11 probes: datetime-histogram sidecar at scale + typed facet
    * serve. One collection, four declared payload fields (string / long /
    * long / timestamp) — `_build` creates the collection AND answers the
    * first `exact:false` datetime count (triggers the fixed-shape sidecar
    * jobs, datetime field riding the same hist pass); `_warm` re-opens the
    * collection from disk and answers again (sidecar file read, zero
    * Spark jobs); `facet_typed_scaled_warm` serves an integer facet from
    * the same sidecar. */
  private val tsScaledPath = "/tmp/graft_runtime/scale_tscoll"
  private def tsScaledCfg = {
    import graft.sources.CollectionConfig
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    CollectionConfig(idCol = "id", payloadTypes = Map(
      "lang" -> StringType, "n_chars" -> LongType,
      "label" -> LongType, "ts" -> TimestampType))
  }
  private val tsEstJson =
    """{"filter": {"must": [
      |  {"key": "ts", "range": {"gte": "2024-01-10T00:00:00Z",
      |                          "lt": "2024-01-20T00:00:00Z"}}
      |]}, "exact": false}""".stripMargin
  private def tsScaledCreate(s: SparkSession, dir: String): graft.storage.Collection = {
    val d = Tables.load(s, dir, "documents")
    // deterministic uniform timestamps over January 2024 (epoch seconds)
    val secs = lit(1704067200L) +
      pmod(xxhash64(col("doc_id"), lit("ts")), lit(30L * 86400L))
    graft.storage.Collection.create(s, tsScaledPath, tsScaledCfg,
      d.select(col("doc_id").as("id"),
        to_json(struct(col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(10)).as("label"),
          date_format(to_timestamp(secs), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts")))
          .as("payload")))
  }

  /** Round-12 probes: the shard-key WRITE + ESTIMATE path at scale. A
    * custom-sharded collection over every generated document (16 tenants
    * by id hash → 16 partition directories): `_build` creates it and
    * answers the first shard-scoped `exact:false` count (triggers the
    * sidecar build — the shard-agg pass scans ONLY the partition column);
    * `_warm` re-opens from disk and estimates again (sidecar read, zero
    * Spark jobs); `wire_upsert_scaled` pushes a 1k-point wire batch with
    * point-level shard keys through the JSON bridge and reads it back
    * shard-scoped — the r12 write-surface fix exercised at scale. */
  private val shardScaledPath = "/tmp/graft_runtime/scale_shardcoll"
  private def shardScaledCfg = {
    import graft.sources.CollectionConfig
    import org.apache.spark.sql.types.{LongType, StringType}
    CollectionConfig(idCol = "id", payloadTypes = Map(
      "lang" -> StringType, "n_chars" -> LongType),
      shardKeyCol = Some("shard_key"))
  }
  private val shardEstJson = """{"shard_key": "t03", "exact": false}"""
  private def shardScaledCreate(s: SparkSession, dir: String): graft.storage.Collection = {
    val d = Tables.load(s, dir, "documents")
    graft.storage.Collection.create(s, shardScaledPath, shardScaledCfg,
      d.select(col("doc_id").as("id"),
        to_json(struct(col("lang"), col("n_chars"))).as("payload"),
        format_string("t%02d",
          pmod(xxhash64(col("doc_id"), lit("tenant")), lit(16)).cast("int"))
          .as("shard_key")))
  }
  /** r13 existence-ledger probe: a shard-scoped `set_payload` naming 200
    * LIVE tenant ids against the 2.5 M-row shard-scaled collection — the
    * 404 gate is ONE isin-pruned probe job ahead of the rewrite — then an
    * op naming an unknown id, which must 404 BEFORE any table rewrite
    * happens (rewriteCount pins it). Warm latency of the failing arm is
    * the ledger's standalone cost at scale. */
  private def update404Scaled(s: SparkSession): Unit = {
    val coll = new graft.storage.Collection(s, shardScaledPath, shardScaledCfg)
    // ids written by wireUpsertScaled into tenant t03 (dispatch order
    // guarantees it ran first)
    val tenantIds = (0 until 1000).filter(_ % 16 == 3).map(900000000L + _)
      .take(200)
    graft.api.UpdateBridge.applyJson(coll,
      s"""{"operations": [{"set_payload": {"payload": {"probe": 1},
         |  "points": [${tenantIds.mkString(",")}],
         |  "shard_key": "t03"}}]}""".stripMargin)
    val before = coll.rewriteCount
    val failed =
      try { graft.api.UpdateBridge.applyJson(coll,
        """{"operations": [{"set_payload": {"payload": {"probe": 2},
          |  "points": [424242424242], "shard_key": "t03"}}]}""".stripMargin)
        false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("No point with id 424242424242 found") }
    require(failed, "unknown-id set_payload must 404 at scale")
    require(coll.rewriteCount == before,
      "a failing single-op request must not rewrite the table")
  }

  /** r16 optimization probe: a CHAINED mode-gated upsert batch at scale —
    * 4 ops (plain, insert_only, update_only, update_only+filter) in one
    * wire request against the shard-scaled collection, all scoped to one
    * tenant. Pins the r16 fold linearization: each gate costs one
    * id-IN-pruned probe (row-group-skipped on the id-clustered layout) +
    * one bounded localCheckpoint of the ≤300 admitted rows, and the commit
    * rewrites ONE tenant directory — before the fix the fold plan grew
    * 3^n-fold in chained gated ops. Flat-ish across multipliers = pass. */
  private def modeUpsertChainScaled(s: SparkSession): Unit = {
    val coll = new graft.storage.Collection(s, shardScaledPath, shardScaledCfg)
    def pts(tag: String, lo: Int, hi: Int) = (lo until hi).map(i =>
      s"""{"id": ${910000000L + i}, "payload": {"lang": "$tag", """ +
        s""""n_chars": $i}, "shard_key": "t03"}""").mkString(", ")
    graft.api.UpdateBridge.applyJson(coll,
      s"""{"operations": [
         |  {"upsert": {"points": [${pts("aa", 0, 200)}]}},
         |  {"upsert": {"update_mode": "insert_only",
         |    "points": [${pts("bb", 100, 300)}]}},
         |  {"upsert": {"update_mode": "update_only",
         |    "points": [${pts("cc", 200, 400)}]}},
         |  {"upsert": {"update_mode": "update_only",
         |    "update_filter": {"must": [{"key": "lang", "match": {"value": "aa"}}]},
         |    "points": [${pts("dd", 0, 300)}]}}
         |]}""".stripMargin)
    // composition check: 0-199 seeded aa; insert_only adds 200-299 as bb;
    // update_only flips 200-299 to cc; the conditional flips exactly the
    // still-aa rows (0-199) to dd — every rep re-seeds, so this is stable
    val got = coll.scroll(
      """{"shard_key": "t03", "limit": 500, "with_payload": false,
        |  "filter": {"must": [{"key": "lang", "match": {"value": "dd"}}]}}"""
        .stripMargin).count()
    require(got == 200L,
      s"mode-chain composition at scale: dd count $got, want 200")
  }

  private def wireUpsertScaled(s: SparkSession): Unit = {
    val coll = new graft.storage.Collection(s, shardScaledPath, shardScaledCfg)
    val pts = (0 until 1000).map { i =>
      val id = 900000000L + i
      s"""{"id": $id, "payload": {"lang": "xx", "n_chars": $i}, """ +
        s""""shard_key": "t${"%02d".format(i % 16)}"}"""
    }.mkString(", ")
    graft.api.UpdateBridge.applyJson(coll,
      s"""{"operations": [{"upsert": {"points": [$pts]}}]}""")
    // shard-scoped read back: has_id + shard selector — the page limit
    // stays independent of the tenant's base size
    val tenantIds = (0 until 1000).filter(_ % 16 == 3).map(900000000L + _)
    val seen = coll.scroll(
      s"""{"shard_key": "t03", "limit": ${tenantIds.length + 10},
         |  "with_payload": false,
         |  "filter": {"must": [{"has_id": [${tenantIds.mkString(",")}]}]}}"""
        .stripMargin).count()
    require(seen == tenantIds.length,
      s"shard-scoped read must see the wire-upserted tenant rows: " +
        s"got $seen, want ${tenantIds.length}")
  }

  /** Round-13 probes: the referenced-id exclusion at scale + the filtered
    * facet estimator. A plain dense collection over every generated
    * embedding: `byid_query_scaled` runs `{"query": 7}` through the wire
    * handler (one-row resolve + the injected pushed `must_not HasId`
    * filter + the scan) and asserts the example is absent;
    * `rawvec_query_scaled` runs the identical literal-vector query — the
    * by-id / raw-vector delta IS the exclusion machinery's total cost.
    * `facet_filtered_estimate_scaled_warm` serves a FILTERED `exact:false`
    * facet from the stats sidecar on the r11 typed collection — flat
    * driver-side latency however many rows sit below. */
  private val denseScaledPath = "/tmp/graft_runtime/scale_densecoll"
  private def denseScaledCfg = {
    import graft.sources.{CollectionConfig, VectorConfig}
    CollectionConfig(idCol = "vec_id",
      vectors = Seq(VectorConfig("", 64, graft.model.Dot)))
  }
  private def byIdQueryScaled(s: SparkSession): Unit = {
    val coll = new graft.storage.Collection(s, denseScaledPath, denseScaledCfg)
    val ids = coll.query("""{"query": 7, "limit": 10}""")
      .collect().map(_.getLong(0))
    require(!ids.contains(7L),
      "by-id query returned the referenced point at scale")
    require(ids.length == 10, s"by-id page under-filled: ${ids.length}")
  }

  /** Round-15 probes: the DECLARED geo payload index at scale. Two
    * collections over the generated documents with a synthesized
    * single-point `location` (lon/lat derived from doc_id on a 1° grid):
    * one with the geo index built (`idx_location` struct +
    * `geocell_location` prune column), one plain.
    * `geo_radius_indexed_scaled` counts a 50 km radius through the pruned
    * path — the pushed `In(geocell_location, …)` conjunct short-circuits
    * the per-row JSON parse + haversine, so its cost tracks the cells
    * touched, not the table; `geo_radius_unindexed_scaled` is the same
    * count over the plain twin (full per-row exact evaluation) — the
    * indexed/unindexed delta is the prune's win and must GROW with the
    * multiplier. */
  private val geoScaledPath = "/tmp/graft_runtime/scale_geocoll"
  private val geoScaledPlainPath = "/tmp/graft_runtime/scale_geocoll_plain"
  private def geoScaledCfg = {
    import org.apache.spark.sql.types._
    graft.sources.CollectionConfig(payloadTypes = Map("location" ->
      StructType(Seq(StructField("lon", DoubleType),
        StructField("lat", DoubleType)))))
  }
  private def geoScaledPoints(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(col("doc_id").as("id"),
      concat(lit("""{"location": {"lon": """),
        col("doc_id") * 7 % 360 - 180 + lit(0.25),
        lit(""", "lat": """), col("doc_id") * 11 % 180 - 90 + lit(0.25),
        lit("}}")).as("payload"))
  private val geoRadiusJson =
    """{"filter": {"must": [{"key": "location", "geo_radius":
      |  {"center": {"lon": 10.25, "lat": 45.25}, "radius": 50000.0}}]},
      |  "exact": true}""".stripMargin

  /** Continent-sized radius (3000 km): the bounded cover backs off to a
    * COARSE precision, so the prune compiles to StartsWith prefixes under
    * the balanced OR — pinning that the backoff path also skips row
    * groups and never stack-overflows at scale (the r15 bench caught a
    * 500-cell left-fold chain doing exactly that). */
  private val geoRadiusCoarseJson =
    """{"filter": {"must": [{"key": "location", "geo_radius":
      |  {"center": {"lon": 10.25, "lat": 45.25}, "radius": 3000000.0}}]},
      |  "exact": true}""".stripMargin

  /** ALL-multi-point twin (directive: the reference posts EVERY point of
    * an array value): each row's value is an array of two nearby points
    * (0.002° apart — most rows share one precision-5 cell and prune via
    * the pushed scalar membership; boundary-straddling rows carry the
    * sentinel and prune via the `geocells_` exists conjunct). The plain
    * twin runs the same count unindexed. */
  private val geoMultiScaledPath = "/tmp/graft_runtime/scale_geomulti"
  private val geoMultiScaledPlainPath = "/tmp/graft_runtime/scale_geomulti_plain"
  private def geoMultiScaledPoints(s: SparkSession, dir: String): DataFrame = {
    val lonC = col("doc_id") * 7 % 360 - 180 + lit(0.25)
    val latC = col("doc_id") * 11 % 180 - 90 + lit(0.25)
    Tables.load(s, dir, "documents").select(col("doc_id").as("id"),
      concat(lit("""{"location": [{"lon": """), lonC,
        lit(""", "lat": """), latC,
        lit("""}, {"lon": """), lonC + lit(0.002),
        lit(""", "lat": """), latC + lit(0.002),
        lit("}]}")).as("payload"))
  }

  /** Scaled mutation workload: seed = every generated document, then
    * upsert 10% with a new source, delete one language, merge a payload
    * flag — one end-to-end number for the write path at scale. */
  private def mutationScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.model._
    import graft.sources.CollectionConfig
    import graft.storage.Collection
    import org.apache.spark.sql.types.{LongType, StringType}
    val cfg = CollectionConfig(idCol = "id", payloadCol = "payload",
      payloadTypes = Map("lang" -> StringType, "source" -> StringType,
        "n_chars" -> LongType))
    def pts(pred: org.apache.spark.sql.Column, src: Option[String]) = {
      val d = Tables.load(s, dir, "documents").filter(pred)
      val sc = src.map(lit).getOrElse(col("source"))
      d.select(col("doc_id").as("id"),
        to_json(struct(col("lang"), sc.as("source"), col("n_chars"))).as("payload"))
    }
    val path = "/tmp/graft_runtime/scale_mut"
    val coll = Collection.create(s, path, cfg, pts(lit(true), None))
    coll.upsert(pts(pmod(col("doc_id"), lit(10)) === 0, Some("upserted")))
    coll.deleteByFilter(Filter.mustAll(MatchValue("lang", "de")))
    coll.setPayload("""{"flag":"hot"}""",
      get_json_object(col(cfg.payloadCol), "$.n_chars").cast("long") >= 150)
    coll.read()
  }

  def main(args: Array[String]): Unit = {
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "100").toInt
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"target/scaledata_m$mult")
    val warmReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    // the driver heap is fixed at launch (java -Xmx16g ... graft.ScaleProbe,
    // as SCALEPROBE_r05.md's run instructions do)
    val spark = GraftSession.local()

    val docsOut = new java.io.File(s"$outDir/documents.parquet")
    if (!docsOut.exists()) {
      graft.storage.ParquetMeta.write(
        genDocuments(spark, Tables.load(spark, baseDir, "documents"), mult)
          .repartition(32),
        s"$outDir/documents.parquet", "overwrite")
      graft.storage.ParquetMeta.write(
        genEmbeddings(spark, Tables.load(spark, baseDir, "embeddings"), mult)
          .repartition(32),
        s"$outDir/embeddings.parquet", "overwrite")
    }
    val nd = Tables.load(spark, outDir, "documents").count()
    val ne = Tables.load(spark, outDir, "embeddings").count()

    def run(n: String): Unit = n match {
      case "mutation_scaled" => mutationScaled(spark, outDir).count(): Unit
      case "ivf_collection_scaled_build" =>
        graft.storage.Collection.create(spark, scaledIvfPath, scaledIvfCfg,
          Tables.load(spark, outDir, "embeddings")
            .select(col("vec_id"), col("embedding").as("vector")))
          .read().select("vec_id").count(): Unit
      case "ivf_collection_scaled_probe" =>
        scaledIvf(spark)
          .knn("", Tables.embeddingOf(spark, outDir, 7L), k = 10).count(): Unit
      case "ivf_collection_scaled_exact" =>
        scaledIvf(spark)
          .knn("", Tables.embeddingOf(spark, outDir, 7L), k = 10, exact = true)
          .count(): Unit
      case "ivf_files_per_cell" =>
        // r11 salted-write audit: files per cell directory must be
        // bounded by the salt width (printed, not timed — listing only)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(scaledIvfPath))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("ivfcell_"))
        val counts = dirs.map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet")))
        System.err.println(s"[probe] ivf cells=${dirs.length} " +
          s"files/cell min=${counts.min} max=${counts.max} " +
          s"salt=${graft.storage.Collection.writeSalt(scaledIvf(spark).read())}")
      case "shard_sidecar_scaled_build" =>
        shardScaledCreate(spark, outDir).count(shardEstJson).count(): Unit
      case "shard_estimate_scaled_warm" =>
        new graft.storage.Collection(spark, shardScaledPath, shardScaledCfg)
          .count(shardEstJson).count(): Unit
      case "wire_upsert_scaled" => wireUpsertScaled(spark)
      case "update_404_scaled" => update404Scaled(spark)
      case "mode_upsert_chain_scaled" => modeUpsertChainScaled(spark)
      case "ts_sidecar_scaled_build" =>
        tsScaledCreate(spark, outDir).count(tsEstJson).count(): Unit
      case "ts_estimate_scaled_warm" =>
        new graft.storage.Collection(spark, tsScaledPath, tsScaledCfg)
          .count(tsEstJson).count(): Unit
      case "facet_typed_scaled_warm" =>
        new graft.storage.Collection(spark, tsScaledPath, tsScaledCfg)
          .facet("""{"key": "label", "limit": 5}""").count(): Unit
      case "dense_scaled_build" =>
        graft.storage.Collection.create(spark, denseScaledPath, denseScaledCfg,
          Tables.load(spark, outDir, "embeddings")
            .select(col("vec_id"), col("embedding").as("vector")))
          .read().select("vec_id").count(): Unit
      case "byid_query_scaled" => byIdQueryScaled(spark)
      case "rawvec_query_scaled" =>
        val v = Tables.embeddingOf(spark, outDir, 7L)
        new graft.storage.Collection(spark, denseScaledPath, denseScaledCfg)
          .query(s"""{"query": [${v.mkString(",")}], "limit": 10}""")
          .count(): Unit
      case "facet_filtered_estimate_scaled_warm" =>
        new graft.storage.Collection(spark, tsScaledPath, tsScaledCfg)
          .facet("""{"key": "lang", "limit": 5,
            |  "filter": {"must": [{"key": "n_chars",
            |    "range": {"gte": 100}}]}}""".stripMargin).count(): Unit
      case "geo_scaled_build" =>
        val base = graft.storage.Collection.create(spark, geoScaledPath,
          geoScaledCfg, geoScaledPoints(spark, outDir))
        base.buildPayloadIndex("location")
        base.read().select("id").count(): Unit
      case "geo_plain_scaled_build" =>
        graft.storage.Collection.create(spark, geoScaledPlainPath,
          geoScaledCfg, geoScaledPoints(spark, outDir))
          .read().select("id").count(): Unit
      case "geo_radius_indexed_scaled" =>
        new graft.storage.Collection(spark, geoScaledPath, geoScaledCfg)
          .count(geoRadiusJson).count(): Unit
      case "geo_radius_unindexed_scaled" =>
        new graft.storage.Collection(spark, geoScaledPlainPath, geoScaledCfg)
          .count(geoRadiusJson).count(): Unit
      case "geo_radius_coarse_scaled" =>
        new graft.storage.Collection(spark, geoScaledPath, geoScaledCfg)
          .count(geoRadiusCoarseJson).count(): Unit
      case "geo_multi_scaled_build" =>
        val base = graft.storage.Collection.create(spark, geoMultiScaledPath,
          geoScaledCfg, geoMultiScaledPoints(spark, outDir))
        base.buildPayloadIndex("location")
        base.read().select("id").count(): Unit
      case "geo_multi_plain_scaled_build" =>
        graft.storage.Collection.create(spark, geoMultiScaledPlainPath,
          geoScaledCfg, geoMultiScaledPoints(spark, outDir))
          .read().select("id").count(): Unit
      case "geo_multi_radius_scaled" =>
        new graft.storage.Collection(spark, geoMultiScaledPath, geoScaledCfg)
          .count(geoRadiusJson).count(): Unit
      case "geo_multi_radius_unindexed_scaled" =>
        new graft.storage.Collection(spark, geoMultiScaledPlainPath,
          geoScaledCfg).count(geoRadiusJson).count(): Unit
      case q => operatorOnly.getOrElse(q, SparkEntry.queries(q))(spark, outDir).count(): Unit
    }
    def time(n: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { run(n); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e.getClass.getSimpleName) }
    }

    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(',').toSet)
    val names = (subset ++ Seq("simhash_pairs_h16", "mutation_scaled", "cc_chain_1m",
      "ivf_collection_scaled_build", "ivf_collection_scaled_probe",
      "ivf_collection_scaled_exact", "ivf_files_per_cell",
      "ts_sidecar_scaled_build", "ts_estimate_scaled_warm",
      "facet_typed_scaled_warm",
      "shard_sidecar_scaled_build", "shard_estimate_scaled_warm",
      "wire_upsert_scaled", "update_404_scaled", "mode_upsert_chain_scaled",
      "dense_scaled_build", "byid_query_scaled", "rawvec_query_scaled",
      "facet_filtered_estimate_scaled_warm",
      "geo_scaled_build", "geo_plain_scaled_build",
      "geo_radius_indexed_scaled", "geo_radius_unindexed_scaled",
      "geo_radius_coarse_scaled",
      "geo_multi_scaled_build", "geo_multi_plain_scaled_build",
      "geo_multi_radius_scaled", "geo_multi_radius_unindexed_scaled"))
      .filter(n => only.forall(_.contains(n)))
    val cold = names.map(n => n -> time(n)).toMap
    val warm = (1 to warmReps).map(_ => names.map(n => n -> time(n)).toMap)
    val errs = (cold ++ warm.flatten).collect { case (n, Left(e)) => n -> e }.toMap
    val warmBest = names.filterNot(errs.contains).map { n =>
      n -> warm.map(_(n)).collect { case Right(v) => v }.min
    }.toMap

    def fmt(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val coldOk = cold.collect { case (n, Right(v)) => n -> v }
    val json =
      s"""{"mult":$mult,"docs":$nd,"embeddings":$ne,"reps":$warmReps,""" +
        s""""cold":${fmt(coldOk.toSeq.sortBy(_._1))},""" +
        s""""warm":${fmt(warmBest.toSeq.sortBy(_._1))}""" +
        (if (errs.isEmpty) "}" else
          s""","errs":${errs.toSeq.sortBy(_._1).map { case (k, v) =>
            "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")}}""")
    val p = java.nio.file.Paths.get(s"target/scaleprobe_m$mult.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
