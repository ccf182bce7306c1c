package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.filters.{FieldResolver, FilterCompiler, JsonResolver}
import graft.index.VectorCodec
import graft.model.{Filter, Float32}
import graft.sources.CollectionConfig

/** A collection: Parquet-backed points table — id + named vector columns +
  * JSON payload column (SURVEY.md §1.1 mapping). Mutations are batch jobs
  * rewriting the table (the WAL/segment machinery of the reference collapses
  * into job atomicity, SURVEY.md §2.1/§2.7).
  *
  * Scale notes: upsert/delete are id-hash co-partitioned anti/union jobs —
  * one shuffle on the id; payload edits are narrow column rewrites. On a
  * transactional lakehouse these become MERGE INTO / DELETE WHERE; plain
  * Parquet (this environment) rewrites the table directory atomically via
  * overwrite.
  */
final class Collection(
    val spark: SparkSession,
    val path: String,
    val config: CollectionConfig) {

  /** Listed-relation memoized read ([[ParquetMeta]]) — a fresh DataFrame
    * per call, but without the driver-side footer inference and file
    * listing (a Spark job once the table has more than 32 partition
    * directories, as IVF collections do) the bare `spark.read.parquet` pays
    * on every open of an unchanged table. Every mutation site bumps the
    * path's version; a directory replaced without a bump is caught by its
    * modification time. */
  def read(): DataFrame = ParquetMeta.read(spark, path)

  /** Read with every declared vector decoded back to the user-visible
    * `array<float>` — what retrieval APIs return regardless of the storage
    * element type (the reference decodes at the API boundary too;
    * `VectorDataConfig.datatype` is storage-only, `types.rs:2153`). */
  def readDecoded(): DataFrame =
    config.vectors.filter(_.datatype != Float32).foldLeft(read()) { (df, vc) =>
      val c = config.vectorCol(vc.name)
      if (!df.columns.contains(c)) df
      else if (vc.multivector)
        df.withColumn(c, transform(col(c), v => VectorCodec.decode(vc.datatype, v)))
      else df.withColumn(c, VectorCodec.decode(vc.datatype, col(c)))
    }

  /** Encode incoming user vectors (`array<float|double>`) to each declared
    * storage element type, then (re)attach the quantized columns from the
    * persisted params. Type-gated, so already-encoded columns (reads of
    * the stored table) pass through untouched — encoding is idempotent. */
  private def encodeVectors(df: DataFrame): DataFrame =
    attachIvf(attachQuant(Collection.encodeVectors(config, df)))

  /** Physical vector columns a request's `with_vector` selects
    * ([[graft.api.RequestCodec.parseWithVector]]): `true` = every declared
    * dense AND sparse vector; names resolve against the declared sparse
    * set first so a named sparse vector selects its actual column. */
  private def withVectorCols(json: String): Seq[String] =
    withVectorColsOf(
      org.json4s.jackson.JsonMethods.parse(json) \ "with_vector")

  /** [[withVectorCols]] over an already-parsed `with_vector` node. Unknown
    * names reject loudly at parse time (the reference answers 400 `Wrong
    * input: Not existing vector name error` — `types.rs` named-vector
    * resolution), never reach plan analysis. */
  private def withVectorColsOf(wvJ: org.json4s.JValue): Seq[String] =
    graft.api.RequestCodec.parseWithVector(wvJ) match {
      case None =>
        config.vectors.map(vc => config.vectorCol(vc.name)) ++
          config.sparse.map(sc => config.sparseCol(sc.name))
      case Some(names) =>
        val declared = (config.vectors.map(_.name) ++
          config.sparse.map(_.name)).toSet
        val unknown = names.filterNot(declared)
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"Wrong input: not existing vector name error: " +
            unknown.mkString(", "))
        names.map { n =>
          if (config.sparse.exists(_.name == n)) config.sparseCol(n)
          else config.vectorCol(n)
        }
    }

  def resolver(df: DataFrame): FieldResolver = {
    val r0 = resolver0(df)
    val cols = df.columns.toSeq
    // id type rides every resolver so HasId (incl. the referenced-id
    // exclusion) coerces wire ids to the column's representation
    val idt = df.schema.fields.find(_.name == config.idCol).map(_.dataType)
    new graft.filters.ForwardingResolver(r0) {
      override def idDataType: Option[org.apache.spark.sql.types.DataType] = idt
      override def scanPrune(f: Filter) =
        if (config.tenantKeys.isEmpty) r0.scanPrune(f)
        else Collection.tenantPrune(config, cols, f)
      // a declared geo index routes its geocell prune column into the
      // filter compiler's geo conditions (FilterCompiler.geoPrune)
      override def geoIndexCell(key: String): Option[(Column, Int)] =
        config.payloadTypes.get(key) match {
          case Some(_: org.apache.spark.sql.types.StructType)
              if cols.contains(config.geoCellCol(key)) =>
            Some((col(config.geoCellCol(key)),
              graft.index.GeoIndex.ColumnPrecision))
          case _ => None
        }
      // per-point cells of array-valued rows — the exists-overlap half
      // of the prune (spanning multi-point rows carry the sentinel in
      // the scalar column; this conjunct prunes them at execution)
      override def geoIndexCells(key: String): Option[Column] =
        config.payloadTypes.get(key) match {
          case Some(_: org.apache.spark.sql.types.StructType)
              if cols.contains(config.geoCellsCol(key)) =>
            Some(col(config.geoCellsCol(key)))
          case _ => None
        }
    }
  }

  private def resolver0(df: DataFrame): FieldResolver = {
    val base = new JsonResolver(col(config.payloadCol), config.payloadTypes,
      col(config.idCol),
      config.vectorNames.map(n => n -> col(config.vectorCol(n))).toMap)
    config.shardKeyCol match {
      case None => base
      case Some(sk) =>
        // the shard key is a point attribute, not a payload field (qdrant
        // filters it via ShardKeySelector, not payload conditions) — it
        // resolves to the PARTITION column directly so shard conditions
        // prune directories at the scan. `ShardKey` is keyword OR number
        // (`segment::types::ShardKey`), so the declared type follows the
        // actual partition column, not an assumed string.
        val skType = df.schema.fields.find(_.name == sk)
          .map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.StringType)
        new FieldResolver {
          def values(key: String): Column =
            if (key == sk)
              when(col(sk).isNotNull, array(col(sk)))
                .otherwise(array().cast(
                  org.apache.spark.sql.types.ArrayType(skType)))
            else base.values(key)
          def fieldExists(key: String): Column =
            if (key == sk) col(sk).isNotNull else base.fieldExists(key)
          def isJsonNull(key: String): Column =
            if (key == sk) lit(false) else base.isJsonNull(key)
          def id: Column = base.id
          def vector(name: String): Column = base.vector(name)
          override def elementType(key: String) =
            if (key == sk) None else base.elementType(key)
          override def scalarValue(key: String): Option[Column] =
            if (key == sk) Some(col(sk)) else base.scalarValue(key)
          override def dataTypeOf(key: String) =
            if (key == sk) Some(skType)
            else base.dataTypeOf(key)
          override def geoValues(key: String): Column =
            if (key == sk) values(key) else base.geoValues(key)
        }
    }
  }

  private def pred(df: DataFrame, filter: Filter): Column =
    new FilterCompiler(resolver(df)).compile(filter)

  /** Table rewrites performed by this instance — the IO-count contract:
    * `applyBatch(Seq(op1..opN))` must bump this by exactly 1, not N
    * (asserted in StoreSpec). */
  private[graft] var rewriteCount: Long = 0L

  /** Spark type of the stored id column, memoized — callers were paying a
    * parquet file-listing + schema read per lookup. Invalidated on every
    * rewrite: an upsert can WIDEN the column to string (mixed NumId+Uuid
    * collections). */
  private var idTypeCache: Option[org.apache.spark.sql.types.DataType] = None
  private[graft] def idDataType: Option[org.apache.spark.sql.types.DataType] = {
    if (idTypeCache.isEmpty)
      idTypeCache = read().schema.fields
        .find(_.name == config.idCol).map(_.dataType)
    idTypeCache
  }

  /** Tmp-dir + rename swap: Spark cannot overwrite a path still lazily read
    * in the same plan; on a lakehouse table this is simply MERGE/DELETE. */
  /** `sparseDfChange`: whether the batch can have changed any sparse
    * vector's document frequencies — payload-only mutations, dense-vector
    * ops, compaction and index/layout rewrites cannot, so they keep the
    * IDF sidecar intact (zero invalidation, zero recompute). Defaults to
    * the safe answer. */
  private def write(df0: DataFrame, targetFiles: Option[Int] = None,
      sparseDfChange: Boolean = true): Unit = {
    rewriteCount += 1
    idTypeCache = None
    val tmp = path + "__tmp"
    // tenant buckets AND payload-index projections recompute from the
    // CURRENT payload on every write — a payload mutation moves the row to
    // its new bucket directory / refreshes its idx_/geocell_ values, and
    // upserted rows get theirs computed instead of union-NULL-filled
    val df = Collection.withIndexProjections(config,
      Collection.withTenantBuckets(config, df0))
    val pc = Collection.partitionCols(config, df.columns)
    // hash-repartition on the partition columns first: one task owns each
    // key, so every partition directory gets O(1) files instead of one per
    // write task (64 cells × 32 tasks = 2048 tiny files otherwise — the
    // file-listing overhead was measured to swamp the probe pruning win).
    // Either way the rows land id-CLUSTERED (range partition / sort within
    // the directory task), so parquet min/max row-group stats make
    // retrieve-by-id and scroll-offset scans prune to O(k) row groups
    // instead of the full table — the batch analog of the reference's O(1)
    // id tracker. Costs one extra shuffle (+ range-sampling pass) per
    // rewrite; a write path is batch, the id lookup path is interactive.
    val laid = Collection.layout(config, df, targetFiles)
    val w = laid.write.mode(SaveMode.Overwrite)
    (if (pc.isEmpty) w else w.partitionBy(pc: _*)).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    // bump BEFORE the destructive swap as well as after: a reader racing
    // the delete→rename window must not apply the memoized OLD schema to
    // the NEW files (a spurious extra inference is harmless; a stale schema
    // is not). Single-writer is still the assumed discipline — see
    // ParquetMeta's doc — this just removes the one observable race.
    ParquetMeta.bump(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
    ParquetMeta.bump(path)
    // ingest-time statistics go STALE, not eagerly rebuilt: drop the
    // sidecars and let the first read that needs them recompute lazily
    // (the reference documents approximate stats as unreliable
    // mid-indexing, `lib/shard/src/count.rs:14-17`; the former eager IDF
    // refresh here made every write cost a full-table scan on
    // idf-modified collections — the r13 scale probe's residual slope)
    if (sparseDfChange) invalidateSparseIdfStats()
    fieldStatsCache = None
    fs.delete(fieldStatsPath, false)
    ()
  }

  /** Insert-or-replace whole points: last write wins per id (qdrant upsert,
    * `lib/shard/src/operations/point_ops.rs:111-126`).
    *
    * Plan shape (the 100 TB consideration): the existing table is anti-joined
    * against just the incoming ids and unioned with the batch — the big side
    * shuffles only if the join does, and with a broadcastable batch (the
    * common case: micro-batch ≪ table) it does not shuffle at all. The
    * full-table `Window.partitionBy(id)` alternative is correct but pays a
    * whole-table shuffle per batch. On a lakehouse table this is MERGE INTO. */
  def upsert(points: DataFrame): Unit = applyBatch(Seq(UpdateOp.Upsert(points)))

  /** Upsert with an admission mode (`update_mode`, `point_ops.rs:34-42`):
    * `insert_only` skips ids that already exist, `update_only` skips ids
    * that don't. */
  def upsert(points: DataFrame, mode: UpdateMode): Unit =
    applyBatch(Seq(UpdateOp.Upsert(points, mode)))

  /** The merged-table plan `upsert` writes (exposed for plan-shape tests). */
  private[graft] def upsertPlan(points: DataFrame): DataFrame =
    applyOp(read(), UpdateOp.Upsert(points))

  /** Conditional upsert: replace only points matching `filter`; new ids
    * insert unconditionally (`point_ops.rs:114-115`). */
  def upsertConditional(points: DataFrame, filter: Filter,
      mode: UpdateMode = UpdateMode.Upsert): Unit =
    applyBatch(Seq(UpdateOp.UpsertConditional(points, filter, mode)))

  def deleteByIds(ids: Seq[Any]): Unit =
    applyBatch(Seq(UpdateOp.DeleteIds(ids)))

  def deleteByFilter(filter: Filter): Unit =
    applyBatch(Seq(UpdateOp.DeleteByFilter(filter)))

  /** Merge JSON keys into payload for points selected by ids or filter
    * (qdrant set_payload, `lib/shard/src/operations/payload_ops.rs:16-27`).
    * Top-level keys of `patch` overwrite (type-preserving; a null patch
    * value deletes the key — `merge_map`); with `key` the patch applies AT
    * that JsonPath (`SetPayloadOp.key`, `JsonPath::value_set`). */
  def setPayload(patch: String, target: Column, key: Option[String] = None): Unit =
    applyBatch(Seq(UpdateOp.SetPayload(patch, target, key)))

  /** Replace the whole payload (`payload_ops.rs` overwrite). */
  def overwritePayload(payload: String, target: Column): Unit =
    applyBatch(Seq(UpdateOp.OverwritePayload(payload, target)))

  /** Drop the given top-level keys. */
  def deletePayloadKeys(keys: Seq[String], target: Column): Unit =
    applyBatch(Seq(UpdateOp.DeletePayloadKeys(keys, target)))

  /** Clear payload entirely. */
  def clearPayload(target: Column): Unit =
    applyBatch(Seq(UpdateOp.ClearPayload(target)))

  /** Set a named vector on selected points (vector_ops.rs:12-19). */
  def updateVector(name: String, newVec: Column, target: Column): Unit =
    applyBatch(Seq(UpdateOp.UpdateVector(name, newVec, target)))

  /** Null out a named vector on selected points. */
  def deleteVector(name: String, target: Column): Unit =
    applyBatch(Seq(UpdateOp.DeleteVector(name, target)))

  /** Ordered heterogeneous batch update (`POST /points/batch`,
    * `src/actix/api/update_api.rs:324`): fold every op into one evolving
    * table plan, commit with a single atomic write. Each op observes the
    * effects of the ones before it, exactly like the reference's sequential
    * application — but as one Spark job, not N. */
  def applyBatch(ops: Seq[UpdateOp]): Unit =
    try write(ops.foldLeft(read())(applyOp),
      sparseDfChange = Collection.opsChangeSparseDfs(config, ops))
    finally releaseFoldPins()

  /** Whether a batch can change any sparse vector's per-dim document
    * frequencies: point writes/deletes can; payload mutations and
    * dense-vector ops cannot (they never touch a sparse cell), so the IDF
    * sidecar survives them untouched. */
  private[storage] def sparseDfsChange(ops: Seq[UpdateOp]): Boolean =
    Collection.opsChangeSparseDfs(config, ops)

  /** Batch apply RESTRICTED to a set of shard keys: when the caller can
    * prove every op only touches rows under `keys` (the wire bridge can —
    * a custom-sharded collection rejects keyless updates, and upsert
    * targets + the moved-away homes of upserted ids come from its
    * existence probe), the fold reads ONLY those partition directories
    * (partition-pruned scan) and the commit swaps ONLY them. A per-tenant
    * update on a 100 TB table then costs one tenant's rewrite, not the
    * table's — the batch analog of the reference routing updates to the
    * selected key's shards (`toc/point_ops.rs:489-521`). Falls back to
    * the whole-table path when the collection isn't custom-sharded. */
  def applyBatchScoped(ops: Seq[UpdateOp], keys: Seq[Any]): Unit =
    config.shardKeyCol match {
      case Some(sk) if keys.nonEmpty =>
        val scoped = read().filter(col(sk).isin(keys: _*))
        try writeShardScoped(ops.foldLeft(scoped)(applyOp), sk, keys,
          sparseDfChange = Collection.opsChangeSparseDfs(config, ops))
        finally releaseFoldPins()
      case _ => applyBatch(ops)
    }

  /** Scoped twin of [[write]]: same tenant-bucket + layout pipeline, but
    * the tmp→dst swap replaces only the selected keys' partition
    * directories (a key whose rows were all deleted simply loses its
    * directory). Sidecar caches invalidate exactly like a full write. */
  private def writeShardScoped(df0: DataFrame, sk: String,
      keys: Seq[Any], sparseDfChange: Boolean = true): Unit = {
    rewriteCount += 1
    idTypeCache = None
    val tmp = path + "__tmp"
    val df = Collection.withIndexProjections(config,
      Collection.withTenantBuckets(config, df0))
    val pc = Collection.partitionCols(config, df.columns)
    require(pc.headOption.contains(sk),
      "scoped write needs the shard key as the leading partition column")
    Collection.layout(config, df, None)
      .write.mode(SaveMode.Overwrite).partitionBy(pc: _*).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dstBase = new org.apache.hadoop.fs.Path(path)
    val wanted = keys.map(_.toString).toSet
    def keyDirs(base: org.apache.hadoop.fs.Path) =
      fs.listStatus(base).filter { st =>
        st.isDirectory && {
          val n = st.getPath.getName
          n.startsWith(s"$sk=") && wanted.contains(
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(n.stripPrefix(s"$sk=")))
        }
      }
    // bump before AND after the directory swap — same race note as write()
    ParquetMeta.bump(path)
    keyDirs(dstBase).foreach(st => fs.delete(st.getPath, true))
    keyDirs(new org.apache.hadoop.fs.Path(tmp)).foreach(st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dstBase, st.getPath.getName)))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ParquetMeta.bump(path)
    // IDF sidecar: refresh ONLY the touched keys' partials when warm
    // (partition-pruned jobs, bounded by the batch's tenants), stay lazy
    // when cold, untouched when the batch can't change dfs
    if (sparseDfChange) refreshSparseIdfScoped(sk, keys)
    fieldStatsCache = None
    fs.delete(fieldStatsPath, false)
  }

  /** Deterministic last-write-wins per id within one batch: the reference
    * applies batch points sequentially so the last occurrence of an id wins
    * (`point_ops.rs:111-126`); a bare dropDuplicates keeps an arbitrary one.
    * max_by over an input-order ordinal is partial-aggregable (map-side
    * combine), so the batch shuffles at most one surviving row per id.
    *
    * Guard (r3 bench: the unconditional aggregation roughly doubled
    * `mutation_pipeline`): one cheap count/count-distinct agg over the batch
    * first — when ids are already unique (the common case) the batch is used
    * as-is and the ordinal+max_by shuffle never enters the write plan.
    *
    * Determinism assumption: the guard's head() action and the subsequent
    * write evaluate the batch plan twice, so `points` must be a
    * deterministic DataFrame (local batch, parquet-backed, or otherwise
    * re-evaluation-stable — true for every UpdateOp source in this API).
    * A non-deterministic source (e.g. an unseeded rand() column) could pass
    * the duplicate-free check yet materialize duplicates in the write;
    * callers with such a source must persist/localCheckpoint first. */
  private def lastWins(points: DataFrame): DataFrame = {
    val idc = col(config.idCol)
    // wire batches are LOCAL relations — their id-uniqueness check needs no
    // Spark job (the guard agg was one job per upsert op; a chained
    // points/batch body paid it N times)
    val dupFree: Boolean = points.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val idx = lr.output.indexWhere(_.name == config.idCol)
        val dt = lr.output(idx).dataType
        val ids = lr.data.map(_.get(idx, dt))
        ids.distinct.length == ids.length
      case _ =>
        val row = points.agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n"),
          count_distinct(idc).as("nd")).head()
        row.getLong(0) == row.getLong(1)
    }
    if (dupFree) points
    else {
      val others = points.columns.filter(_ != config.idCol)
      points.withColumn("_ord", monotonically_increasing_id())
        .groupBy(idc)
        .agg(max_by(struct(others.map(col): _*), col("_ord")).as("_row"))
        .select(points.columns.map(c =>
          if (c == config.idCol) col(c) else col(s"_row.$c").as(c)): _*)
    }
  }

  /** Admission per [[UpdateMode]] (`update/points/upsert.rs:60-95`): filter
    * the batch down to the rows the mode admits, judged against current
    * table state (+ the conditional-upsert filter when present).
    *
    * Plan shape (the 100 TB consideration): ONE membership probe emitting
    * both flags (`_exists`, and `_m` = matches the condition) in a single
    * pass, its at-most-batch-sized result broadcast back into the batch.
    * When the batch is a LOCAL relation (every wire upsert) the probe is an
    * `id IN (...)` scan predicate — parquet-pushable, so the id-clustered
    * layout answers it from O(batch) row groups; otherwise the big table
    * streams once against the broadcast batch ids (left_semi, build side =
    * batch). Joining the batch directly against the full table id column
    * would force a whole-table shuffle (a left/semi join can only build on
    * the right, and the right would be the 100 TB side); separate
    * exists/match probes would stream the table twice. */
  private def admit(cur: DataFrame, incoming: DataFrame,
      mode: UpdateMode, filter: Option[Filter]): DataFrame = {
    if (mode == UpdateMode.Upsert && filter.isEmpty) return incoming
    val batchIds = incoming.select(col(config.idCol))
    // wire batches are LOCAL relations: their ids are known driver-side, so
    // the membership probe compiles to an `id IN (...)` scan predicate —
    // parquet-pushable, so the id-CLUSTERED layout serves it from O(batch)
    // row groups instead of streaming the whole table through a semi-join
    // (r16 optimization round; the semi-join stays as the fallback for
    // DataFrame-API batches whose ids only exist at execution)
    val localIds: Option[Seq[Any]] =
      batchIds.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val dt = lr.output.head.dataType
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(dt)
          Some(lr.data.map(r => conv(r.get(0, dt))).distinct)
        case _ => None
      }
    val matchCol = filter.map(f => coalesce(pred(cur, f), lit(false)))
      .getOrElse(lit(false))
    val probed = localIds match {
      // literal-count cap (`Collection.InProbeMaxIds` = 10k): past it the
      // IN expression's own planning cost dominates and the broadcast
      // semi-join is the better shape anyway (the build side is still
      // just the batch ids)
      case Some(ids) if ids.nonEmpty && ids.length <= Collection.InProbeMaxIds =>
        cur.filter(col(config.idCol).isin(ids: _*))
      case _ =>
        cur.join(broadcast(batchIds), Seq(config.idCol), "left_semi")
    }
    val flags = broadcast(probed
      .select(col(config.idCol), matchCol.as("_mraw"))
      .groupBy(col(config.idCol))
      .agg(first(lit(true)).as("_exists"), max(col("_mraw")).as("_m")))
    val joined = incoming.join(flags, Seq(config.idCol), "left")
    val keep = (mode, filter) match {
      case (UpdateMode.InsertOnly, _) =>
        // condition irrelevant: skip all existing points entirely
        col("_exists").isNull
      case (UpdateMode.Upsert, Some(_)) =>
        col("_exists").isNull || col("_m") === true
      case (UpdateMode.Upsert, None) => lit(true)
      case (UpdateMode.UpdateOnly, Some(_)) => col("_m") === true
      case (UpdateMode.UpdateOnly, None) => col("_exists").isNotNull
    }
    joined.filter(keep).drop("_exists", "_m", "_mraw")
  }

  private def mergeUpsert(cur: DataFrame, points: DataFrame,
      mode: UpdateMode, filter: Option[Filter]): DataFrame = {
    // custom sharding: a batch without the shard-key column would
    // unionByName-NULL-fill the partition column, making the points
    // invisible to every shard-scoped read — reject loudly instead
    // (`shard_holder/mod.rs:436` "Shard key not specified")
    config.shardKeyCol.foreach(sk => require(points.columns.contains(sk),
      s"Shard key not specified: upsert into a custom-sharded collection " +
        s"must carry the '$sk' column"))
    // id-type widening is SYMMETRIC: the first UUID point into a
    // numeric-id collection widens the TABLE's id column to string in
    // this rewrite (numeric ids keep their decimal rendering —
    // `ExtendedPointId` lets NumId and Uuid coexist, `types.rs:174-179`),
    // and numeric-id points landing on an already-string table widen the
    // BATCH instead. Leaving the types mixed would make the anti-join
    // compare long-vs-string through a DOUBLE coercion — silently
    // deleting the wrong row for ids ≥ 2^53 (or crashing under ANSI).
    val strT = org.apache.spark.sql.types.StringType
    val curIdT = cur.schema.fields.find(_.name == config.idCol).map(_.dataType)
    val inIdT = points.schema.fields.find(_.name == config.idCol).map(_.dataType)
    val curW =
      if (inIdT.contains(strT) && !curIdT.contains(strT))
        cur.withColumn(config.idCol, col(config.idCol).cast(strT))
      else cur
    val pointsW =
      if (curIdT.contains(strT) && !inIdT.contains(strT))
        points.withColumn(config.idCol, col(config.idCol).cast(strT))
      else points
    val incoming0 = admit(curW, lastWins(encodeVectors(pointsW)), mode, filter)
    // An admission gate references `cur` a THIRD time (the flags probe, on
    // top of the anti-join and the union below), so a points/batch chain of
    // mode-gated upserts grew the fold's plan 3^n-fold in chained ops —
    // measured as multi-second PLANNING time on a 4-op wire batch over a
    // 4-row table (r16 optimization round; guide §3.3: materialize an
    // intermediate to truncate an enormous plan). The admitted rows are
    // AT MOST batch-sized at any table scale, so localCheckpoint pins them
    // in one bounded job and the next op's plan references `cur` once —
    // linear growth. Plain upserts (no gate) never referenced `cur` from
    // the incoming side and skip the materialization.
    // Lineage/lifecycle tradeoff of the localCheckpoint (r16 advice): the
    // pinned blocks are EXECUTOR-local — on a real cluster, losing an
    // executor mid-batch fails the write unrecoverably (acceptable: the
    // data is ≤ batch-sized and the batch simply retries) — and the
    // returned DataFrame has no scope-ended hook, so the fold tracks every
    // checkpointed op in `foldPins` and applyBatch frees the blocks right
    // after the single commit instead of waiting for GC.
    val incoming =
      if (mode == UpdateMode.Upsert && filter.isEmpty) incoming0
      else {
        val pinned = incoming0.localCheckpoint()
        foldPins += pinned
        pinned
      }
    curW.join(incoming.select(col(config.idCol)), Seq(config.idCol), "left_anti")
      .unionByName(incoming, allowMissingColumns = true)
  }

  /** Checkpointed per-op batches of the CURRENT applyBatch fold — freed
    * right after the commit (single-writer discipline, like the write
    * path itself). */
  private val foldPins =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Free the blocks `mergeUpsert` pinned for the batch that just
    * committed. Dataset.unpersist does not reach a localCheckpoint's RDD,
    * so unpersist the LogicalRDD's backing RDD directly. Safe: after the
    * commit nothing re-executes the fold's intermediate plans. */
  private def releaseFoldPins(): Unit = {
    foldPins.foreach { df =>
      try df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
      catch { case scala.util.control.NonFatal(_) => () }
    }
    foldPins.clear()
  }

  private def applyOp(cur: DataFrame, op: UpdateOp): DataFrame = op match {
    case UpdateOp.Upsert(points, mode) =>
      mergeUpsert(cur, points, mode, None)
    case UpdateOp.UpsertConditional(points, filter, mode) =>
      mergeUpsert(cur, points, mode, Some(filter))
    case UpdateOp.DeleteIds(ids) =>
      val cids = graft.filters.FilterCompiler.coerceWireIds(ids,
        cur.schema.fields.find(_.name == config.idCol).map(_.dataType))
      cur.filter(!col(config.idCol).isin(cids: _*))
    case UpdateOp.DeleteByFilter(filter) =>
      cur.filter(!coalesce(pred(cur, filter), lit(false)))
    case UpdateOp.SetPayload(patch, target, key) =>
      // type-preserving jackson merge (PayloadMutate) — the earlier
      // map<string,string> round-trip stringified nested/array/number
      // values on every touched row
      mapPayload(cur, target, p => graft.filters.PayloadMutate.setCol(p, patch, key))
    case UpdateOp.OverwritePayload(payload, target) =>
      mapPayload(cur, target, _ => lit(payload))
    case UpdateOp.DeletePayloadKeys(keys, target) =>
      mapPayload(cur, target, p => graft.filters.PayloadMutate.deleteCol(p, keys))
    case UpdateOp.ClearPayload(target) =>
      mapPayload(cur, target, _ => lit(null))
    case UpdateOp.UpdateVector(name, newVec, target) =>
      // sparse named vectors update through the same op surface
      // (`tests/openapi/test_sparse_update.py`); dense names route through
      // the declared storage codec
      val isSparse = config.sparse.exists(_.name == name)
      val c = if (isSparse) config.sparseCol(name) else config.vectorCol(name)
      val enc =
        if (isSparse) newVec
        else config.vectors.find(_.name == name)
          .map(vc => VectorCodec.encode(vc.datatype, newVec)).getOrElse(newVec)
      val withVec = cur.withColumn(c, when(target, enc).otherwise(col(c)))
      // keep the quantized column in lockstep with the vector it encodes
      val withQuantCol = config.vectors
        .find(v => v.name == name && v.quantization.isDefined) match {
        case Some(vc) if withVec.columns.contains(config.quantCol(name)) =>
          val qc = config.quantCol(name)
          withVec.withColumn(qc,
            when(target, Collection.quantEncodeExpr(vc, quantParams(name), newVec))
              .otherwise(col(qc)))
        case _ => withVec
      }
      // ...and the IVF cell column (the row may move to another partition)
      config.vectors.find(v => v.name == name && v.ann.isDefined)
        .flatMap(_ => ivfModel(name)) match {
        case Some(m) if withQuantCol.columns.contains(config.cellCol(name)) =>
          val cc = config.cellCol(name)
          withQuantCol.withColumn(cc,
            when(target, graft.index.IvfIndex.assignExpr(newVec, m))
              .otherwise(col(cc)))
        case _ => withQuantCol
      }
    case UpdateOp.DeleteVector(name, target) =>
      val c = if (config.sparse.exists(_.name == name)) config.sparseCol(name)
        else config.vectorCol(name)
      val withVec = cur.withColumn(c,
        when(target, lit(null).cast(cur.schema(c).dataType)).otherwise(col(c)))
      val qc = config.quantCol(name)
      val afterQuant =
        if (!withVec.columns.contains(qc)) withVec
        else withVec.withColumn(qc,
          when(target, lit(null).cast(withVec.schema(qc).dataType)).otherwise(col(qc)))
      val cc = config.cellCol(name)
      if (!afterQuant.columns.contains(cc)) afterQuant
      else afterQuant.withColumn(cc,
        when(target, lit(null).cast("int")).otherwise(col(cc)))
  }

  /** Config-routed nearest-k over a declared named vector: metric AND
    * storage element type come from [[VectorConfig]], so a caller never
    * touches the codec — Float16/Uint8 collections score through the fused
    * decode kernels ([[VectorCodec.scoreExpr]]) directly on the narrow
    * stored column, exactly like the reference picks a
    * `VectorStorageDatatype`-specific scorer from config
    * (`lib/segment/src/types.rs:2039,2153`).
    *
    * When the vector declares [[graft.sources.QuantizationSpec]] and
    * `quantized = true` (the reference uses a configured quantization by
    * default; `QuantizationSearchParams.ignore` opts out,
    * `types.rs:573-618`), search is TWO-PHASE: approx top
    * k·oversampling on the ingest-materialized quantized column →
    * exact rescore of those candidates on the original vectors. */
  def knn(
      vectorName: String,
      query: Seq[Double],
      filter: Option[Filter] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None,
      quantized: Boolean = true,
      oversampling: Double = 3.0,
      /** `QuantizationSearchParams.rescore = false` (`types.rs:573-618`):
        * skip the exact second phase — the approx ranking and its scores
        * ARE the result (the reference serves quantized scores then). */
      rescore: Boolean = true,
      /** `SearchParams.exact = true`: bypass the declared ANN index (and
        * quantization, which the caller controls via `quantized`) — full
        * exact scan. */
      exact: Boolean = false,
      /** Per-request nprobe override for a declared [[graft.sources.IvfSpec]]
        * (`SearchParams.hnsw_ef` — the recall knob). */
      nprobe: Option[Int] = None): DataFrame = {
    val vc = config.vectorConfig(vectorName)
    val df = read()
    val score = VectorCodec.scoreExpr(
      vc.datatype, vc.metric, col(config.vectorCol(vectorName)), query)
    val guard = col(config.vectorCol(vectorName)).isNotNull
    // declared IVF + not-exact: the probe prune is a filter on the table's
    // PARTITION column, so it lands in PartitionFilters — unprobed cells
    // are pruned at the directory listing, never scanned. It ANDs with the
    // payload filter on the same scan, and composes with the quantized
    // two-phase below (probe-pruned ADC + exact rescore = IVFADC).
    val annPred: Option[Column] =
      (if (exact) None else vc.ann).flatMap { spec =>
        ivfModel(vectorName).map { m =>
          val cells = m.probe(query, math.min(nprobe.getOrElse(spec.nprobe), m.k))
          col(config.cellCol(vectorName)).isin(cells: _*)
        }
      }
    val pred = Some(annPred.foldLeft(
      filter.map(f => new FilterCompiler(resolver(df)).compile(f))
        .fold(guard)(_ && guard))(_ && _))
    val qc = config.quantCol(vectorName)
    (if (quantized) vc.quantization else None) match {
      case Some(spec) if df.columns.contains(qc) =>
        val qp = quantParams.getOrElse(vectorName,
          throw new IllegalStateException(
            s"quantization declared for '$vectorName' but no fitted params at $quantParamsPath"))
        val (approxScore, approxLargerBetter) =
          Collection.quantApproxScore(spec, qp, col(qc), query, vc.metric)
        if (!rescore) {
          // Served approx scores must be METRIC-oriented (the reference
          // converts quantized scores via `calculate_metric` before
          // serving): a raw hamming distance is smaller-better, so a
          // metric-space scoreThreshold would apply inverted. The one_bit
          // ±1 mapping gives dot ≈ dim − 2·h, ‖a−b‖₂ ≈ 2√h, ‖a−b‖₁ ≈ 2h —
          // order-preserving per metric, so the ranking is unchanged;
          // only the served value and the threshold space change.
          val (served, servedLb) =
            if (spec.kind == "binary") {
              import graft.model._
              vc.metric match {
                case Dot | Cosine =>
                  ((lit(vc.dim.toDouble) - lit(2.0) * approxScore), true)
                case Euclid => (lit(2.0) * sqrt(approxScore), false)
                case Manhattan => (lit(2.0) * approxScore, false)
              }
            } else if (spec.kind == "product" && !vc.metric.largerBetter)
              // ADC partials for Euclid/Manhattan are NEGATED distances —
              // serve the (approximate) distance, smaller-better
              (-approxScore, false)
            else (approxScore, approxLargerBetter)
          graft.ops.Search.scoredTopK(df, config.idCol, served,
            servedLb, pred, k, offset, scoreThreshold)
        }
        else {
          val approxK = math.max(k + offset, ((k + offset) * oversampling).toInt)
          val approx = graft.ops.Search.scoredTopK(df, config.idCol,
            approxScore, approxLargerBetter, pred, k = approxK)
          // rescore candidates live inside the probed cells by construction
          // — prune the second scan to the same partitions (without this
          // the rescore semi-join re-lists and re-reads EVERY cell)
          val rescanBase = annPred.fold(df)(df.filter)
          val cands = rescanBase.join(
            approx.select(config.idCol), Seq(config.idCol), "left_semi")
          graft.ops.Search.scoredTopK(cands, config.idCol, score,
            vc.metric.largerBetter, None, k, offset, scoreThreshold)
        }
      case _ =>
        graft.ops.Search.scoredTopK(df, config.idCol, score, vc.metric.largerBetter,
          pred, k, offset, scoreThreshold)
    }
  }

  /** Config-routed sparse nearest-k over a named sparse vector column
    * (struct<indices: array<int>, values: array<float>>, sorted unique
    * indices — `SparseVector` `sparse_vector.rs:17-22`). Scoring is dot
    * over intersecting indices, larger-better; only points sharing ≥ 1
    * query dim are candidates (the posting-join semantics of
    * `search_context.rs`). With `modifier = Some("idf")`
    * (`SparseVectorDataConfig`, `types.rs:2275`) the QUERY weights are
    * multiplied by `ln((N − df + 0.5)/(df + 0.5) + 1)` with N and df over
    * this collection (`query_context.rs:278-300`); stored weights stay
    * raw. N and per-dim df are ingest-time statistics persisted beside the
    * table (`_sparse_idf.json`, refreshed on every write — the reference
    * precomputes them in `IdfScopeStats`, `query_context.rs:278-300`); the
    * warm path loads the artifact with NO Spark jobs, and N counts only
    * points that HAVE the sparse vector (`indexed_vectors`, not the row
    * count). */
  def knnSparse(
      name: String,
      qIndices: Seq[Long],
      qValues: Seq[Double],
      filter: Option[Filter] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None): DataFrame = {
    val sc = config.sparse.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown sparse vector '$name'"))
    // index order is the caller's choice (the reference sorts internally,
    // `sort_by_indices`, `data_types/vectors.rs:76`); the merge-intersect
    // kernel requires ascending — canonicalize here so direct API callers
    // can't silently mis-score. Uniqueness is a hard invariant
    // (`validate_sparse_vector_impl`).
    require(qIndices.length == qValues.length,
      "sparse values must be the same length as indices")
    require(qIndices.distinct.length == qIndices.length,
      "sparse indices must be unique")
    val (qIdx, qVal0) = {
      val sorted = qIndices.zip(qValues).sortBy(_._1)
      (sorted.map(_._1), sorted.map(_._2))
    }
    val df = read()
    val c = config.sparseCol(name)
    val qv =
      if (sc.modifier.contains("idf")) idfWeights(name, qIdx, qVal0) else qVal0
    val score = graft.functions.VectorFunctions.sparseDot(
      col(s"$c.indices"), col(s"$c.values"), qIdx, qv)
    val pred = filter.map(f => new FilterCompiler(resolver(df)).compile(f))
    val overlap = arrays_overlap(col(s"$c.indices"), typedLit(qIdx))
    graft.ops.Search.scoredTopK(df, config.idCol, score, largerBetter = true,
      Some(pred.fold(overlap)(_ && overlap)), k, offset,
      scoreThreshold = scoreThreshold)
  }

  /** IDF-weighted query values for a sparse vector:
    * `w · ln((N − df + 0.5)/(df + 0.5) + 1)` with N = points that HAVE the
    * sparse vector and df = per-dim point counts, both from the persisted
    * ingest-time statistics ([[sparseIdfStats]]). */
  private[graft] def idfWeights(
      name: String, qIdx: Seq[Long], qVal: Seq[Double]): Seq[Double] = {
    val (n, dfs) = sparseIdfStats(name)
    qIdx.zip(qVal).map { case (i, w) =>
      val d = dfs.getOrElse(i, 0L).toDouble
      w * math.log((n - d + 0.5) / (d + 0.5) + 1.0)
    }
  }

  /** Corpus-scoped IDF weighting (`params.idf.corpus`, `IdfParams`
    * `types.rs:689-745`; `test_sparse_idf_corpus.py`): N and per-dim
    * document frequencies come from the points matching the CORPUS filter
    * — independent of the retrieval filter, never falling back to the
    * global statistics (an empty corpus scores every term at ln 2 =
    * idf(0, 0)). One aggregation job: the per-dim df is a sum of
    * `array_contains` over the QUERY dims only — no explode, no shuffle
    * beyond the map-side partial agg, and the scan reads just the sparse
    * indices column plus the filter's fields. */
  private[graft] def corpusIdfWeights(
      name: String, corpus: graft.model.Filter,
      qIdx: Seq[Long], qVal: Seq[Double]): Seq[Double] = {
    val scol = config.sparseCol(name)
    val df = read()
    val pred = new graft.filters.FilterCompiler(resolver(df))
      .compile(corpus)
    // N counts points that HAVE the sparse vector among the corpus matches
    // (the same `indexed_vectors` scoping as the global stats)
    val base = df.filter(pred && col(scol).isNotNull)
    val aggs: Seq[org.apache.spark.sql.Column] =
      org.apache.spark.sql.functions.count(lit(1L)).as("n") +:
        qIdx.map(i => sum(array_contains(col(s"$scol.indices"), lit(i))
          .cast("long")).as(s"df_$i"))
    val row = base.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(0).toDouble
    qIdx.zipWithIndex.zip(qVal).map { case ((_, pos), w) =>
      val d = if (row.isNullAt(pos + 1)) 0.0 else row.getLong(pos + 1).toDouble
      w * math.log((n - d + 0.5) / (d + 0.5) + 1.0)
    }
  }

  /** Reject `params.idf` anywhere it cannot apply — only an idf-modified
    * sparse space qualifies; silently ignoring a scoring-changing knob
    * would be misleading (`query_context.rs:31-39`). Walks the node tree
    * (prefetches carry their own params). */
  private def verifyIdfParams(q: graft.ops.PointQuery.Query): Unit = {
    import graft.ops.PointQuery._
    def sparseName(c: String): Option[String] =
      config.sparse.find(sc => config.sparseCol(sc.name) == c).map(_.name)
    def denseName(c: String): Option[String] =
      config.vectors.find(vc => config.vectorCol(vc.name) == c).map(_.name)
    def vectorNameOf(s: Scoring): Option[String] = s match {
      case SparseStructQ(c, _, _) => sparseName(c)
      case RecommendSparse(c, _, _, _) => sparseName(c)
      case DiscoverSparse(c, _, _) => sparseName(c)
      case ContextSparse(c, _) => sparseName(c)
      case MmrSparseQ(c, _, _, _) => sparseName(c)
      case Nearest(c, _, _) => denseName(c)
      case MaxSimQ(c, _, _) => denseName(c)
      case RecommendAvg(c, _, _, _) => denseName(c)
      case RecommendBest(c, _, _, _) => denseName(c)
      case RecommendSum(c, _, _, _) => denseName(c)
      case DiscoverQ(c, _, _, _) => denseName(c)
      case ContextQ(c, _, _) => denseName(c)
      case FeedbackQ(c, _, _, _, _, _, _) => denseName(c)
      case MmrQ(c, _, _, _) => denseName(c)
      case _ => None
    }
    def isIdfSparse(s: Scoring): Boolean = s match {
      case SparseStructQ(c, _, _) => sparseModifierIdf(c)
      case RecommendSparse(c, _, _, _) => sparseModifierIdf(c)
      case DiscoverSparse(c, _, _) => sparseModifierIdf(c)
      case ContextSparse(c, _) => sparseModifierIdf(c)
      case MmrSparseQ(c, _, _, _) => sparseModifierIdf(c)
      case _ => false
    }
    def walk(node: Query): Unit = {
      if (node.params.exists(_.idf.isDefined) && !isIdfSparse(node.scoring))
        throw new IllegalArgumentException(
          "search param `idf` requires a sparse vector with the `idf` " +
            "modifier, which vector \"" +
            vectorNameOf(node.scoring).getOrElse("") + "\" is not")
      node.prefetches.foreach(walk)
    }
    walk(q)
  }

  private def sparseModifierIdf(scol: String): Boolean =
    config.sparse.exists(sc =>
      config.sparseCol(sc.name) == scol && sc.modifier.contains("idf"))

  /** Config-routed multivector nearest-k: MaxSim (the reference's only
    * multivector comparator, `types.rs:2080-2082`) over a stored ragged
    * token list, with the declared element type decoded inside the fused
    * per-token kernels ([[VectorCodec.maxSimExpr]]). */
  def knnMultivec(
      vectorName: String,
      queryVecs: Seq[Seq[Double]],
      filter: Option[Filter] = None,
      k: Int = 10): DataFrame = {
    val vc = config.vectorConfig(vectorName)
    require(vc.multivector, s"vector '$vectorName' is not declared multivector")
    val df = read()
    val score = VectorCodec.maxSimExpr(
      vc.datatype, vc.metric, col(config.vectorCol(vectorName)), queryVecs)
    val guard = col(config.vectorCol(vectorName)).isNotNull
    val pred = Some(filter.map(f => new FilterCompiler(resolver(df)).compile(f))
      .fold(guard)(_ && guard))
    graft.ops.Search.scoredTopK(df, config.idCol, score, vc.metric.largerBetter,
      pred, k)
  }

  /** Config-routed batch nearest-k: one top-k per row of `queries`
    * (queryIdCol + queryVecCol as `array<float|double>`). The query side is
    * broadcast and — for a Uint8 collection — cast through the same u8
    * element conversion IN the plan, so the big side streams the narrow stored column
    * once; the reduction is map-side bounded ([[graft.ops.Search.batchRank]]
    * — ≤ k rows per mapper per query cross the wire). Float16/Uint8
    * currently support the Dot metric in batch form (the reference's
    * dominant batch-scoring path). */
  def knnBatch(
      vectorName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10): DataFrame = {
    val vc = config.vectorConfig(vectorName)
    val stored = col(config.vectorCol(vectorName))
    val qv = col(queryVecCol)
    val score = (vc.datatype, vc.metric) match {
      case (graft.model.Float32, m) =>
        graft.functions.VectorFunctions.score(m, stored, qv)
      case (graft.model.Float16, graft.model.Dot) =>
        graft.functions.VecKernels.f16Dot(stored, qv)
      case (graft.model.Uint8, graft.model.Dot) =>
        graft.functions.VecKernels.u8Dot(stored, VectorCodec.toU8(qv))
      case (dt, m) =>
        throw new IllegalArgumentException(
          s"batch knn: unsupported datatype/metric combination $dt/$m")
    }
    val scored = read().filter(stored.isNotNull).crossJoin(broadcast(queries))
      .withColumn("score", round(score, 6))
    graft.ops.Search.batchRank(scored, queryIdCol, config.idCol, k,
      vc.metric.largerBetter)
  }

  /** The server-handler analog of `POST /collections/{c}/points/query`
    * (`src/actix/api/query_api.rs:31`): parse a REST body against THIS
    * collection's declared schema and execute it. Spaces come from the
    * config (dense named/unnamed + sparse + shard-key column), by-id
    * vector inputs resolve against the table's default dense vector, and
    * wire `SearchParams` route a plain Nearest root through the
    * quantization-aware two-phase search; every other shape runs through
    * the generic DAG executor over the decoded table. */
  /** Wire-codec context for this collection's declared schema — shared by
    * every one-call handler ([[query]], [[queryBatch]], [[queryGroups]]). */
  private def wireCtx: graft.api.RequestCodec.Ctx = {
    import graft.api.RequestCodec
    val spaces =
      config.vectors.map(vc =>
        vc.name -> RequestCodec.VectorSpace(config.vectorCol(vc.name), vc.metric,
          dim = Some(vc.dim), multivector = vc.multivector)).toMap ++
        config.sparse.map(sc =>
          sc.name -> RequestCodec.VectorSpace(config.sparseCol(sc.name),
            graft.model.Dot, sparse = true)).toMap
    RequestCodec.Ctx(spaces,
      resolveId = (name, id) => {
        // by-id examples resolve FROM THE `using` SPACE — the reference
        // keys `resolve_referenced_vectors` by the request's vector name
        // (`recommendations.rs`); resolving the default vector for a named
        // space would silently score the wrong embedding
        val vc = denseSpaceOf(name, id)
        denseFromRow(vc, resolveRow(id, config.vectorCol(vc.name), name))
      },
      resolveSparseId = (name, id) => {
        val sc = sparseSpaceOf(name, id)
        sparseFromRow(resolveRow(id, config.sparseCol(sc.name), name))
      },
      shardKeyField = config.shardKeyCol,
      // this collection's catalog name (the Catalog lays data out as
      // `collections/<name>/points`; a standalone collection's name is its
      // directory) — a `lookup_from` naming the SAME collection still
      // excludes its referenced ids from the results, exactly like the
      // reference's `lookup_collection != collection_name` comparison
      // (`collection_query.rs:552-556`)
      collectionName = {
        val segs = path.stripSuffix("/").split('/').filter(_.nonEmpty)
        segs.lastOption.map(last =>
          if (last == "points" && segs.length >= 2) segs(segs.length - 2)
          else last)
      })
  }

  /** Space validation shared by the per-id and bulk by-id resolvers, with
    * the reference's unknown-name error shapes. */
  private def denseSpaceOf(name: String, id: Any): graft.sources.VectorConfig =
    config.vectors.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"vector-input id $id: no dense vector named '$name' to resolve it against"))

  private def sparseSpaceOf(name: String, id: Any): graft.sources.SparseVectorConfig =
    config.sparse.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"vector-input id $id: no sparse vector named '$name' to resolve it against"))

  /** Stored-row → wire-value conversions shared by the per-id and bulk
    * resolvers (the single-field row carries the example's vector column). */
  private def denseFromRow(vc: graft.sources.VectorConfig,
      row: org.apache.spark.sql.Row): Either[Seq[Double], Seq[Seq[Double]]] =
    if (vc.multivector)
      Right(row.getSeq[scala.collection.Seq[Float]](0)
        .map(_.toSeq.map(_.toDouble)).toSeq)
    else
      Left(row.getSeq[Float](0).toSeq.map(_.toDouble))

  private def sparseFromRow(
      row: org.apache.spark.sql.Row): (Seq[Long], Seq[Double]) = {
    val s = row.getStruct(0)
    (s.getSeq[Any](0).map {
      case i: Int => i.toLong
      case l: Long => l
    }.toSeq, s.getSeq[Float](1).toSeq.map(_.toDouble))
  }

  /** Two-pass bulk by-id example resolution (guide §2.4 — remove repeated
    * per-id Spark jobs): recommend/discover/context/feedback/MMR requests
    * naming N points used to pay one bounded probe job PER referenced id
    * (the reference instead bulk-fetches referenced vectors per request,
    * `fetch_vectors.rs`). A dry parse records every same-collection
    * (vector column, id) pair while answering with shape-correct dummies
    * (exact declared dims, so the parser's dim checks behave identically),
    * then ONE id-IN-pruned probe fetches every referenced row, and the
    * request re-parses with resolvers answering from the probed map.
    *
    * Error semantics are EXACTLY the single-pass path's: the second parse
    * runs the same parser in the same order, so the FIRST missing id in
    * parse order still raises the reference's "No point with id .. found"
    * (pinned by api_query_by_id_errors / catalog_lookup_from_errors, plus
    * the multi-missing-id ordering test in StoreSpec). If the DRY parse
    * itself throws anything (a validation error — or, defensively, a
    * dummy-induced failure), the request falls back to the original
    * per-id parse, reproducing the original behavior bit-for-bit.
    * Foreign `lookup_from` resolves stay per-id (their collection is
    * opaque here) but memoize across passes and duplicate ids — results
    * AND failures — so no request pays more lookup jobs than before. */
  private def bulkResolve[A](ctx: graft.api.RequestCodec.Ctx)
      (parse: graft.api.RequestCodec.Ctx => A): A = {
    import graft.api.RequestCodec.LookupFrom
    val lkMemo = scala.collection.mutable.Map.empty[
      (LookupFrom, Any), scala.util.Try[Either[Seq[Double], Seq[Seq[Double]]]]]
    val slkMemo = scala.collection.mutable.Map.empty[
      (LookupFrom, Any), scala.util.Try[(Seq[Long], Seq[Double])]]
    val memoCtx = ctx.copy(
      resolveLookup = (lf, id) => lkMemo.getOrElseUpdate((lf, id),
        scala.util.Try(ctx.resolveLookup(lf, id))).get,
      resolveSparseLookup = (lf, id) => slkMemo.getOrElseUpdate((lf, id),
        scala.util.Try(ctx.resolveSparseLookup(lf, id))).get)
    val wanted = scala.collection.mutable.LinkedHashSet.empty[(String, Any)]
    val dryCtx = memoCtx.copy(
      resolveId = (name, id) => {
        val vc = denseSpaceOf(name, id)
        wanted += ((config.vectorCol(vc.name), id))
        if (vc.multivector) Right(Seq(Seq.fill(vc.dim)(0.0)))
        else Left(Seq.fill(vc.dim)(0.0))
      },
      resolveSparseId = (name, id) => {
        val sc = sparseSpaceOf(name, id)
        wanted += ((config.sparseCol(sc.name), id))
        (Seq(0L), Seq(1.0))
      })
    val dry =
      try Right(parse(dryCtx))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    dry match {
      // no same-collection by-id inputs were resolved: the dry result IS
      // the real result (lookup memo entries are real resolves)
      case Right(r) if wanted.isEmpty => r
      // dry parse failed — re-run the untouched per-id path so the error
      // (and any resolution that precedes it in parse order) is original
      case Left(_) => parse(memoCtx)
      case Right(_) =>
        // a LongType id column collects Long but wire ids can arrive Int;
        // strings (UUID / u64-tail / string-id tables) compare raw
        def key(x: Any): Any = x match {
          case i: Int => i.toLong
          case x => x
        }
        val cols = wanted.toSeq.map(_._1).distinct
        val ids = graft.filters.FilterCompiler.coerceWireIds(
          wanted.toSeq.map(_._2).distinct, idDataType)
        val probed =
          scala.collection.mutable.Map.empty[Any, org.apache.spark.sql.Row]
        if (ids.nonEmpty) {
          val df = readDecoded()
          df.filter(col(config.idCol).isin(ids: _*))
            .select((config.idCol +: cols).map(col): _*)
            .collect().foreach(r => probed.update(key(r.get(0)), r))
        }
        val colIdx: Map[String, Int] =
          cols.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
        // same error shapes as resolveRow, answered from the probed map
        def rowFor(id: Any, vecCol: String,
            vectorName: String): org.apache.spark.sql.Row = {
          val hit = graft.filters.FilterCompiler
            .coerceWireIds(Seq(id), idDataType)
            .headOption.flatMap(k => probed.get(key(k)))
          val r = hit.getOrElse(throw new IllegalArgumentException(
            s"Not found: No point with id $id found"))
          val i = colIdx(vecCol)
          if (r.isNullAt(i)) throw new IllegalArgumentException(
            s"""Not found: Vector with name "$vectorName" for point $id""")
          org.apache.spark.sql.Row(r.get(i))
        }
        parse(memoCtx.copy(
          resolveId = (name, id) => {
            val vc = denseSpaceOf(name, id)
            denseFromRow(vc, rowFor(id, config.vectorCol(vc.name), name))
          },
          resolveSparseId = (name, id) => {
            val sc = sparseSpaceOf(name, id)
            sparseFromRow(rowFor(id, config.sparseCol(sc.name), name))
          }))
    }
  }

  /** By-id example resolve with the reference's error shapes
    * (`test_query_full.py:1428-1444`, issue #5208 regression): a missing
    * point raises "No point with id .. found" (`CollectionError::
    * PointNotFound`, `types.rs:913`), a present point lacking the `using`
    * vector raises the `vector_not_found_error` message
    * (`collection_query.rs:395-397`) — never a bare NoSuchElement/NPE. */
  private def resolveRow(id: Any, vecCol: String,
      vectorName: String): org.apache.spark.sql.Row = {
    val df = readDecoded()
    // None = UUID id against a numeric id column: the kinds can never match
    val rows = graft.filters.FilterCompiler.idMatch(
        col(config.idCol), id, idDataType)
      .map(p => df.filter(p).select(col(vecCol)).take(1))
      .getOrElse(Array.empty[org.apache.spark.sql.Row])
    if (rows.isEmpty) throw new IllegalArgumentException(
      s"Not found: No point with id $id found")
    if (rows(0).isNullAt(0)) throw new IllegalArgumentException(
      s"""Not found: Vector with name "$vectorName" for point $id""")
    rows(0)
  }

  def query(json: String): DataFrame = query(json, None)

  /** [[query]] with `lookup_from` resolvers (dense + sparse foreign-id
    * resolution, `fetch_vectors.rs:301`) — wired by a host that owns a
    * table catalog ([[Catalog.query]] installs sibling-collection
    * resolution). */
  def query(json: String,
      lookupResolve: Option[(graft.api.RequestCodec.LookupFrom, Any)
        => Either[Seq[Double], Seq[Seq[Double]]]],
      sparseLookupResolve: Option[
        (graft.api.RequestCodec.LookupFrom, Any) => (Seq[Long], Seq[Double])] = None)
      : DataFrame = {
    import graft.api.RequestCodec
    val ctx0 = wireCtx
    val ctx1 = lookupResolve.fold(ctx0)(f => ctx0.copy(resolveLookup = f))
    val ctx = sparseLookupResolve.fold(ctx1)(f =>
      ctx1.copy(resolveSparseLookup = f))
    val q = bulkResolve(ctx)(c => RequestCodec.parseQueryRequest(json, c))
    val hits = executeParsed(q)
    enrich(hits, org.json4s.jackson.JsonMethods.parse(json))
  }

  /** `with_payload` / `with_vector` response enrichment (`ScoredPoint`
    * fields, `types.rs:396-440`; selectors `types.rs:4175-4183`): hits are
    * ≤ limit rows, so the table streams once against the BROADCAST hit
    * set — the enrichment join never shuffles the big side. Defaults match
    * the reference's query API: payload and vector both OFF unless asked. */
  private def enrich(hits: DataFrame, o: org.json4s.JValue): DataFrame = {
    import org.json4s._
    val wpJ = o \ "with_payload"
    val wvJ = o \ "with_vector"
    val wantPayload = wpJ != JNothing && wpJ != JNull && wpJ != JBool(false) &&
      hits.columns.contains(config.idCol) &&
      !hits.columns.contains(config.payloadCol)
    // `true` returns EVERY declared vector, dense AND sparse (the
    // reference's `ScoredPoint.vector` carries the full named map); a
    // name resolves sparse-first so a named sparse vector selects its
    // real column — same contract as retrieve/scroll
    val vecCols = withVectorColsOf(wvJ).filterNot(hits.columns.contains)
    if (!wantPayload && vecCols.isEmpty) return hits
    val table = readDecoded()
    val side = table.select((config.idCol +:
      ((if (wantPayload) Seq(config.payloadCol) else Nil) ++ vecCols))
      .map(col): _*)
    // rank ordinal BEFORE the join: a limit'd result is one partition, so
    // monotonically_increasing_id follows its row order; the final orderBy
    // restores the ranking the join does not preserve
    val ordered = hits.withColumn("_ord", monotonically_increasing_id())
    val joined = side.join(broadcast(ordered), Seq(config.idCol))
      .select((hits.columns :+ "_ord").map(col) ++
        (if (wantPayload) Seq(col(config.payloadCol)) else Nil) ++
        vecCols.map(col): _*)
    val sel = joined.orderBy(col("_ord")).drop("_ord")
    if (!wantPayload) sel
    else graft.api.RequestCodec.parseWithPayload(wpJ) match {
      case Some(f) => sel.withColumn(config.payloadCol,
        f(col(config.payloadCol)))
      case None => sel.drop(config.payloadCol)
    }
  }

  private def executeParsed(q0: graft.ops.PointQuery.Query): DataFrame = {
    import graft.ops.PointQuery
    // strict-mode gate BEFORE execution (`query_api.rs:31-110`,
    // `operations/verification/`): the declared collection limits reject
    // over-limit requests with the reference's 403 semantics. Runs on the
    // PRE-exclusion query — the injected referenced-id `must_not HasId`
    // does not count against the user's filter_max_conditions (the
    // reference injects after verification, `collection_query.rs:701-705`).
    config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyQuery(q0, sm, config.payloadTypes.keySet))
    val q = PointQuery.resolveExclusion(q0)
    // `params.idf` gate: the knob changes scoring, so it REJECTS anywhere
    // it cannot apply — only an idf-modified sparse space qualifies
    // (`query_context.rs:31-39`; `test_sparse_idf_corpus.py::
    // test_idf_params_require_idf_modifier`). Checked per node, root and
    // prefetches alike.
    verifyIdfParams(q)
    (q.scoring, q.prefetches) match {
      case (PointQuery.Nearest(vcol, _, qv), Nil)
          if config.vectors.exists(vc =>
            config.vectorCol(vc.name) == vcol &&
              (vc.quantization.isDefined || vc.ann.isDefined)) =>
        val name = config.vectors
          .find(vc => config.vectorCol(vc.name) == vcol).get.name
        val sp = q.params.getOrElse(PointQuery.SearchParams())
        knn(name, qv, q.filter, q.limit, q.offset, q.scoreThreshold,
          quantized = !(sp.exact || sp.quantIgnore),
          oversampling = sp.oversampling.getOrElse(3.0),
          rescore = sp.rescore,
          exact = sp.exact,
          nprobe = sp.hnswEf)
      case (PointQuery.SparseStructQ(scol, qi, qv), Nil)
          if !q.params.exists(_.idf.exists(_.isDefined)) =>
        val name = config.sparse
          .find(sc => config.sparseCol(sc.name) == scol).get.name
        knnSparse(name, qi, qv, q.filter, q.limit, q.offset, q.scoreThreshold)
      case _ =>
        // The IDF modifier applies in EVERY sparse scoring context — root,
        // prefetch leaves, rescore parents (`query_context.rs` remaps idf
        // weights for the whole request) — so the declared modifier folds
        // into the query weights BEFORE the DAG executes; stored weights
        // stay raw. (The bare-sparse fast path above weights inside
        // knnSparse instead.)
        val idfCols = config.sparse.filter(_.modifier.contains("idf"))
          .map(sc => config.sparseCol(sc.name) -> sc.name).toMap
        def applyIdf(node: PointQuery.Query): PointQuery.Query = {
          // a node-level `params.idf.corpus` re-scopes the statistics to
          // the corpus filter's matches; "global"/absent uses the
          // collection-wide sidecar stats
          val corpus: Option[graft.model.Filter] =
            node.params.flatMap(_.idf).flatten
          def weigh(name: String, qi2: Seq[Long], qv2: Seq[Double]): Seq[Double] =
            corpus match {
              case Some(f) => corpusIdfWeights(name, f, qi2, qv2)
              case None => idfWeights(name, qi2, qv2)
            }
          val scoring = node.scoring match {
            case PointQuery.SparseStructQ(sc2, qi2, qv2) if idfCols.contains(sc2) =>
              PointQuery.SparseStructQ(sc2, qi2, weigh(idfCols(sc2), qi2, qv2))
            case PointQuery.RecommendSparse(sc2, strat, pos, neg)
                if idfCols.contains(sc2) =>
              // recommend examples ARE query vectors — the modifier weights
              // each before the strategy combine (`query_context.rs` remaps
              // every query-side sparse vector of the request)
              def w(q: (Seq[Long], Seq[Double])) =
                (q._1, weigh(idfCols(sc2), q._1, q._2))
              PointQuery.RecommendSparse(sc2, strat, pos.map(w), neg.map(w))
            case PointQuery.DiscoverSparse(sc2, target, pairs)
                if idfCols.contains(sc2) =>
              def w(q: (Seq[Long], Seq[Double])) =
                (q._1, weigh(idfCols(sc2), q._1, q._2))
              PointQuery.DiscoverSparse(sc2, w(target),
                pairs.map { case (p, n) => (w(p), w(n)) })
            case PointQuery.ContextSparse(sc2, pairs)
                if idfCols.contains(sc2) =>
              def w(q: (Seq[Long], Seq[Double])) =
                (q._1, weigh(idfCols(sc2), q._1, q._2))
              PointQuery.ContextSparse(sc2,
                pairs.map { case (p, n) => (w(p), w(n)) })
            case PointQuery.MmrSparseQ(sc2, qi2, qv2, lam)
                if idfCols.contains(sc2) =>
              // the MMR relevance sims use the same weighted query as its
              // candidate prefetch — stored pairwise sims stay raw (the
              // modifier weights QUERY vectors only, `query_context.rs`)
              PointQuery.MmrSparseQ(sc2, qi2,
                weigh(idfCols(sc2), qi2, qv2), lam)
            case other => other
          }
          node.copy(scoring = scoring, prefetches = node.prefetches.map(applyIdf))
        }
        val qw = if (idfCols.isEmpty) q else applyIdf(q)
        val df = readDecoded()
        graft.ops.PointQuery.execute(spark, df, config.idCol, resolver(df), qw)
    }
  }

  /** Legacy `POST /collections/{c}/points/search` (`SearchRequest`,
    * deprecated-but-served in the reference): the body rewrites to the
    * universal query form and routes through [[query]] — old clients keep
    * their request shapes. */
  def search(json: String): DataFrame =
    query(graft.api.RequestCodec.legacyToQuery(json, "search"))

  /** Legacy `POST /points/recommend` (`RecommendRequest`). */
  def recommend(json: String): DataFrame =
    query(graft.api.RequestCodec.legacyToQuery(json, "recommend"))

  /** Legacy `POST /points/discover` (`DiscoverRequest`). */
  def discover(json: String): DataFrame =
    query(graft.api.RequestCodec.legacyToQuery(json, "discover"))

  /** Legacy `POST /points/search/groups` (`SearchGroupsRequest`,
    * `types.rs:666-680`): the base search fields plus
    * `group_by`/`group_size`/`with_lookup`; rewrites to the universal
    * grouped-query body and routes through [[queryGroups]]. */
  def searchGroups(json: String,
      lookupTable: String => DataFrame = n =>
        throw new IllegalArgumentException(
          s"with_lookup collection '$n' needs a lookupTable resolver")): DataFrame =
    queryGroups(graft.api.RequestCodec.legacyToQuery(json, "search"), lookupTable)

  /** Legacy `POST /points/recommend/groups` (`RecommendGroupsRequest`) —
    * `lookup_from` resolves through the same optional hooks as
    * [[queryGroups]]. */
  def recommendGroups(json: String,
      lookupTable: String => DataFrame = n =>
        throw new IllegalArgumentException(
          s"with_lookup collection '$n' needs a lookupTable resolver"),
      lookupResolve: Option[(graft.api.RequestCodec.LookupFrom, Any)
        => Either[Seq[Double], Seq[Seq[Double]]]] = None,
      sparseLookupResolve: Option[
        (graft.api.RequestCodec.LookupFrom, Any) => (Seq[Long], Seq[Double])] = None)
      : DataFrame =
    queryGroups(graft.api.RequestCodec.legacyToQuery(json, "recommend"),
      lookupTable, lookupResolve, sparseLookupResolve)

  /** Legacy `/batch` forms (`SearchRequestBatch.searches`,
    * `RecommendRequestBatch.searches`, `DiscoverRequestBatch.searches`) —
    * results tagged by request position like [[queryBatch]]. */
  def searchBatch(json: String, kind: String = "search"): DataFrame = {
    val searches = graft.api.RequestCodec.arr(
      org.json4s.jackson.JsonMethods.parse(json) \ "searches")
    require(searches.nonEmpty, s"legacy $kind batch must carry at least one search")
    searches.zipWithIndex.map { case (node, i) =>
      query(graft.api.RequestCodec.legacyToQuery(
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(node)), kind))
        .withColumn("req", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `POST /collections/{c}/points/query/batch` (`QueryRequestBatch`):
    * independent requests answered in one call, each through the same
    * routing as [[query]] (fast paths included); results union tagged by
    * request position in `req`. */
  def queryBatch(json: String,
      lookupResolve: Option[(graft.api.RequestCodec.LookupFrom, Any)
        => Either[Seq[Double], Seq[Seq[Double]]]] = None,
      sparseLookupResolve: Option[
        (graft.api.RequestCodec.LookupFrom, Any) => (Seq[Long], Seq[Double])] = None)
      : DataFrame = {
    import graft.api.RequestCodec
    val searches = RequestCodec.arr(
      org.json4s.jackson.JsonMethods.parse(json) \ "searches")
    require(searches.nonEmpty, "query batch must carry at least one search")
    searches.zipWithIndex.map { case (node, i) =>
      query(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(node)), lookupResolve,
        sparseLookupResolve)
        .withColumn("req", lit(i))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** `POST /collections/{c}/points/count` (`count_api.rs:17`).
    * `exact: true` (the default) scans; `exact: false` serves the
    * cardinality estimate's `exp` from the driver-side statistics
    * snapshot with NO distributed job — the reference's
    * `estimate_point_count` path
    * (`lib/collection/src/shards/local_shard/mod.rs:1070-1085`,
    * [[graft.filters.Cardinality]]). */
  def count(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseCountRequest(json, config.shardKeyCol)
    spec.filter.foreach(fl => config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)))
    if (spec.exact) {
      val df = read()
      graft.ops.Reads.count(df, spec.filter, resolver(df))
    } else {
      val est = graft.filters.Cardinality.estimate(spec.filter, fieldStats)
      import spark.implicits._
      Seq(est.exp).toDF("cnt")
    }
  }

  /** Full `{min, exp, max}` estimation triple for a filter — the
    * `estimate_point_count` surface itself (tests pin all three arms). */
  def estimateCount(f: Option[graft.model.Filter]): graft.filters.Cardinality.CardEst =
    graft.filters.Cardinality.estimate(f, fieldStats)

  /** [[estimateCount]] over a count-request body, as a one-row frame — the
    * internal band surface (the reference's `CardinalityEstimation`
    * carries all three arms, `cardinality_estimation.rs`; the public
    * count endpoint serves only `exp`, `local_shard/mod.rs:1070-1085`).
    * Zero Spark jobs warm, like the `exact:false` count itself. */
  def countEstimate(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseCountRequest(json, config.shardKeyCol)
    spec.filter.foreach(fl => config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)))
    val est = graft.filters.Cardinality.estimate(spec.filter, fieldStats)
    import spark.implicits._
    Seq((est.min, est.exp, est.max)).toDF("est_min", "est_exp", "est_max")
  }

  /** `POST /collections/{c}/facet` (`FacetRequestInternal`). */
  def facet(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseFacetRequest(json, config.shardKeyCol)
    spec.filter.foreach(fl => config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)))
    // `exact: false` (the DEFAULT, `facets.rs:23-24`) on an unfiltered
    // key of ANY facetable type — keyword, integer, bool, uuid (uuid
    // payload values are canonical strings, so they ride the string path;
    // the reference serves every `FacetValue` variant from the map index,
    // `facets.rs:87`, `entry_point.rs:171-190`) — serves from the
    // field-statistics snapshot with no distributed job: the per-value
    // maps ARE per-point facet counts, and the head is the global
    // top-[[Collection.StatsTopK]] by count, so any limit within it is
    // not merely approximate but exact. The head ranks count-ties in
    // STRING order; integer/bool render re-sorts ties in TYPED order, so
    // a truncated head (tail present) only serves when every selected row
    // outranks the head boundary count — a tail value could otherwise
    // displace a boundary tie under the typed order. Filtered, untyped,
    // over-limit, or boundary-unsafe requests take the scan (still
    // correct — the reference only promises `exact=false` MAY be cheaper).
    val snapServed: Option[DataFrame] =
      if (spec.exact || spec.filter.nonEmpty ||
          spec.limit > Collection.StatsTopK) None
      else {
        import org.apache.spark.sql.types._
        val snap = fieldStats
        def elemType(t: DataType): DataType = t match {
          case ArrayType(e, _) => e
          case other => other
        }
        val render: Option[DataType] =
          if (snap.stringTyped.contains(spec.key)) Some(StringType)
          else if (snap.boolTyped.contains(spec.key)) Some(BooleanType)
          else if (snap.intTyped.contains(spec.key))
            // cast back to the CURRENTLY declared integer width (the exact
            // scan's value type); a since-retyped field falls to the scan
            config.payloadTypes.get(spec.key).map(elemType)
              .filter(t => t == LongType || t == IntegerType)
          else None
        render.flatMap { t =>
          snap.values.get(spec.key).flatMap { vs =>
            import spark.implicits._
            val sorted: Seq[(String, Long)] = t match {
              case BooleanType =>
                vs.counts.toSeq.sortBy { case (v, c) => (-c, v.toBoolean) }
              case LongType | IntegerType =>
                vs.counts.toSeq.sortBy { case (v, c) => (-c, v.toLong) }
              case _ => vs.counts.toSeq.sortBy { case (v, c) => (-c, v) }
            }
            val sel = sorted.take(spec.limit)
            val headMin = if (vs.counts.isEmpty) 0L else vs.counts.values.min
            val typedReorder = t != StringType
            val boundarySafe = vs.tailUnique == 0L || !typedReorder ||
              (sel.length == spec.limit && sel.last._2 > headMin)
            if (!boundarySafe) None
            else Some(t match {
              case BooleanType =>
                sel.map { case (v, c) => (v.toBoolean, c) }.toDF("value", "cnt")
              case LongType =>
                sel.map { case (v, c) => (v.toLong, c) }.toDF("value", "cnt")
              case IntegerType =>
                sel.map { case (v, c) => (v.toInt, c) }.toDF("value", "cnt")
              case _ => sel.toDF("value", "cnt")
            })
          }
        }
      }
    // `exact: false` WITH a filter: per-value ESTIMATES from the same
    // statistics snapshot instead of the exact scan — the estimator analog
    // of the reference's approximate facet (`local_shard/facet.rs:23-95`
    // serves per-segment index counts without a collection scan; the exact
    // path counts `filter ∧ Match(value)` per head value, `:120-127` —
    // here that per-value count is `estimate(filter ∧ key=v).exp`). Zero
    // Spark jobs warm: both the value set and every estimate come from the
    // driver-side sidecar. Served only when the key's value set is
    // COMPLETE in the sidecar (`tailUnique == 0` — an unseen tail value
    // could out-rank the head under the filter) and the key is typed;
    // anything else falls to the exact scan (the reference only promises
    // `exact: false` MAY be cheaper, never that it must be).
    val filteredEstimate: Option[DataFrame] =
      if (spec.exact || spec.filter.isEmpty) None
      else {
        import org.apache.spark.sql.types._
        val snap = fieldStats
        def elemType(t: DataType): DataType = t match {
          case ArrayType(e, _) => e
          case other => other
        }
        val render: Option[DataType] =
          if (snap.stringTyped.contains(spec.key)) Some(StringType)
          else if (snap.boolTyped.contains(spec.key)) Some(BooleanType)
          else if (snap.intTyped.contains(spec.key))
            config.payloadTypes.get(spec.key).map(elemType)
              .filter(t => t == LongType || t == IntegerType)
          else None
        render.flatMap { t =>
          snap.values.get(spec.key).filter(_.tailUnique == 0L).map { vs =>
            import spark.implicits._
            def typed(v: String): Any = t match {
              case BooleanType => v.toBoolean
              case LongType | IntegerType => v.toLong
              case _ => v
            }
            val est = vs.counts.keys.toSeq.map { v =>
              val merged = graft.model.Filter.mergeOpts(spec.filter,
                Some(graft.model.Filter(must =
                  Seq(graft.model.MatchValue(spec.key, typed(v)))))).get
              v -> graft.filters.Cardinality.estimateFilter(merged, snap).exp
            }.filter(_._2 > 0L)
            val sorted = t match {
              case BooleanType => est.sortBy { case (v, c) => (-c, v.toBoolean) }
              case LongType | IntegerType =>
                est.sortBy { case (v, c) => (-c, v.toLong) }
              case _ => est.sortBy { case (v, c) => (-c, v) }
            }
            val sel = sorted.take(spec.limit)
            t match {
              case BooleanType =>
                sel.map { case (v, c) => (v.toBoolean, c) }.toDF("value", "cnt")
              case LongType =>
                sel.map { case (v, c) => (v.toLong, c) }.toDF("value", "cnt")
              case IntegerType =>
                sel.map { case (v, c) => (v.toInt, c) }.toDF("value", "cnt")
              case _ => sel.toDF("value", "cnt")
            }
          }
        }
      }
    snapServed.orElse(filteredEstimate).getOrElse {
      val df = read()
      graft.ops.Reads.facet(df, config.idCol, spec.key, spec.filter,
        resolver(df), spec.limit)
    }
  }

  /** `POST /collections/{c}/points/scroll` (`ScrollRequest`): by-id keyset
    * page, or order-by-payload-field with `start_from` cursor. An order_by
    * key orders by the `idx_` projection column when the field index
    * exists, else by the declared-type payload extraction (same scan
    * either way — no extra pass). Returns id + payload. */
  def scroll(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseScrollRequest(json, config.shardKeyCol)
    val df = readDecoded()
    spec.filter.foreach(fl => config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)))
    // with_vector (default FALSE, `ScrollRequest`,
    // `lib/collection/src/operations/types.rs:490-537`): true = every
    // named vector (sparse included), a name/list selects; the page scan
    // carries the columns — no second pass
    val vecNames = withVectorCols(json)
    val proj = Seq(config.idCol) ++
      (if (df.columns.contains(config.payloadCol)) Seq(config.payloadCol) else Nil) ++
      vecNames.filter(df.columns.contains)
    // scroll's with_payload DEFAULT is true (unlike query); false/selector
    // forms apply the usual payload transform
    val wpSel = graft.api.RequestCodec.parseWithPayload(
      org.json4s.jackson.JsonMethods.parse(json) \ "with_payload")
    def shaped(page: DataFrame): DataFrame =
      if (!page.columns.contains(config.payloadCol)) page
      else wpSel match {
        case Some(sel) => page.withColumn(config.payloadCol,
          sel(col(config.payloadCol)))
        case None => page.drop(config.payloadCol)
      }
    // id-offset pagination and order_by are mutually exclusive
    // (`shard_ops.rs:273-276` — order-by pages via `start_from`)
    if (spec.offset.isDefined && spec.orderBy.isDefined)
      throw new IllegalArgumentException(
        "Cannot use an `offset` when using `order_by`. The alternative " +
          "for paging is to use `order_by.start_from` and a filter to " +
          "exclude the IDs that you've already seen for the " +
          "`order_by.start_from` value")
    shaped(spec.orderBy match {
      case None =>
        graft.ops.Reads.scrollById(df, config.idCol, spec.filter, resolver(df),
          spec.offset, spec.limit, proj)
      case Some(ob) =>
        val r = resolver(df)
        // JSON payload keys rank once PER VALUE — the reference iterates
        // the numeric index, which holds one posting per (value, point),
        // so a multi-valued field emits the point once per value
        // (`test_order_by.py::test_multi_values_appear_multiple_times`);
        // single-valued fields explode a 1-element list (same ranking as
        // before). Projection/index columns are single-valued by
        // construction and keep the plain-column fast path.
        val (obBase, obCol) =
          if (df.columns.contains(config.idxCol(ob.field)))
            (df, col(config.idxCol(ob.field)))
          else if (df.columns.contains(ob.field)) (df, col(ob.field))
          else if (r.dataTypeOf(ob.field).isDefined) {
            // JSON fallback: parse the payload ONCE per row in a dedicated
            // projection and explode over the pre-parsed variant — inlining
            // `values(key)` into the Generate re-evaluated the full payload
            // parse ~5× per row (the same alias-substitution trap the
            // aggregate-shaped VARIANT queries document; measured on the
            // r16 plan capture of scroll_orderby_datetime). CollapseProject
            // keeps the parse in its own ProjectExec because the parsed
            // column is multi-referenced and try_parse_json is not "cheap".
            val pdf = df.withColumn("_obpv",
              try_parse_json(col(config.payloadCol)))
            val pr = new JsonResolver(col("_obpv"), config.payloadTypes,
              col(config.idCol), preParsed = true)
            (pdf, explode(pr.values(ob.field)))
          } else throw new IllegalArgumentException(
            s"order_by key '${ob.field}' needs a declared payload type, " +
              "a field index, or a physical column")
        val wdf = obBase.withColumn("_ob", obCol)
        graft.ops.Reads.scrollByField(wdf, config.idCol, "_ob", ob.asc,
          spec.filter, resolver(wdf), ob.startFrom, spec.limit, proj)
    })
  }

  /** `POST /collections/{c}/points` retrieve-by-ids with the
    * `with_payload` selector surface (`retrieve_api.rs:132`) and
    * `with_vector` (default FALSE, like the reference's
    * `PointRequestInternal`). Requested vectors come back decoded (API
    * boundary contract). */
  def retrievePoints(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseRetrieveRequest(json, config.shardKeyCol)
    val df0 = readDecoded()
    val df = spec.shardFilter.map(f => df0.filter(pred(df0, f))).getOrElse(df0)
    val vecNames = withVectorCols(json)
    val cols = Seq(config.idCol) ++
      (if (df.columns.contains(config.payloadCol)) Seq(config.payloadCol) else Nil) ++
      vecNames.filter(df.columns.contains)
    val ids = graft.filters.FilterCompiler.coerceWireIds(spec.ids,
      df.schema.fields.find(_.name == config.idCol).map(_.dataType))
    val base = graft.ops.Reads.retrieve(df, config.idCol, ids, cols)
    spec.withPayload match {
      case Some(sel) if df.columns.contains(config.payloadCol) =>
        base.withColumn(config.payloadCol, sel(col(config.payloadCol)))
      case None if df.columns.contains(config.payloadCol) =>
        base.drop(config.payloadCol)
      case _ => base
    }
  }

  /** `GET /collections/{c}/points/{id}` — the single-point read
    * (`retrieve_api.rs:75-130`). The PATH-param id parses via `FromStr`:
    * u64 FIRST, so a digit STRING is a numeric id here (unlike JSON-body
    * ids, where `"5"` rejects), then UUID in any accepted syntax. Payload
    * AND all vectors are included (the endpoint's defaults). A missing id
    * raises the reference's exact (typo'd) message
    * ("Point with id {id} does not exists!", `retrieve_api.rs:124`). */
  def getPoint(rawId: String): DataFrame = {
    val id: Any =
      if (rawId.nonEmpty && rawId.forall(_.isDigit))
        // u64 arm of FromStr: ANY digit string is numeric here — the full
        // u64 domain parses (the [2^63, 2^64) tail as its decimal-string
        // rendering), and a 21+-digit value gets the numeric-RANGE reject,
        // not the UUID reject
        graft.api.PointId.parseNum(BigInt(rawId))
      else graft.api.PointId.canonicalUuid(rawId).getOrElse(
        graft.api.PointId.invalid(rawId))
    val df = readDecoded()
    val out = graft.filters.FilterCompiler.idMatch(
        col(config.idCol), id, idDataType)
      .map(df.filter).getOrElse(df.filter(lit(false)))
    if (out.isEmpty) throw new IllegalArgumentException(
      s"Not found: Point with id $id does not exists!")
    out
  }

  /** `POST /collections/{c}/points/query/groups`
    * (`QueryGroupsRequestInternal`): per-group top `group_size` hits over
    * the scoring root, `limit` groups. Supported roots are the scorable
    * leaves (nearest / sparse / multivector MaxSim); DAG-shaped roots
    * (fusion/formula) reject loudly like the reference's validation.
    * `with_lookup` resolves through `lookupTable` (a catalog hook — tests
    * pass a sibling-collection loader); `lookup_from` (by-id example
    * resolution against a SIBLING collection — `QueryGroupsRequestInternal`
    * carries it like the flat query) resolves through the optional
    * dense/sparse hooks [[Catalog.queryGroups]] installs. */
  def queryGroups(json: String,
      lookupTable: String => DataFrame = n =>
        throw new IllegalArgumentException(
          s"with_lookup collection '$n' needs a lookupTable resolver"),
      lookupResolve: Option[(graft.api.RequestCodec.LookupFrom, Any)
        => Either[Seq[Double], Seq[Seq[Double]]]] = None,
      sparseLookupResolve: Option[
        (graft.api.RequestCodec.LookupFrom, Any) => (Seq[Long], Seq[Double])] = None)
      : DataFrame = {
    import graft.ops.PointQuery
    val ctx0 = wireCtx
    val ctx1 = lookupResolve.fold(ctx0)(f => ctx0.copy(resolveLookup = f))
    val gctx = sparseLookupResolve.fold(ctx1)(f =>
      ctx1.copy(resolveSparseLookup = f))
    val spec = bulkResolve(gctx)(c =>
      graft.api.RequestCodec.parseGroupRequest(json, c))
    config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyQuery(spec.query, sm, config.payloadTypes.keySet))
    // referenced-id exclusion applies to grouped queries like any other —
    // a recommend-by-id groups request whose examples cover every point
    // must yield ZERO groups (`test_query_full.py:993-1010`)
    val gq = PointQuery.resolveExclusion(spec.query)
    val df = readDecoded()
    // any scorable leaf can group (reference `query/groups` accepts the
    // full query surface: nearest / recommend / discover / context /
    // order_by — `test_query_full.py` test_{recommend,discover,order_by}
    // _group); order_by roots rank by the payload field itself
    val (scoreExpr, largerBetter) = gq.scoring match {
      case PointQuery.OrderByField(field, asc, _) =>
        val obCol =
          if (df.columns.contains(config.idxCol(field))) col(config.idxCol(field))
          else if (df.columns.contains(field)) col(field)
          else resolver(df).scalarValue(field)
            .orElse(resolver(df).dataTypeOf(field).map(t =>
              get_json_object(col(config.payloadCol), "$." + field).cast(t)))
            .getOrElse(throw new IllegalArgumentException(
              s"order_by key '$field' needs a declared payload type, " +
                "a field index, or a physical column"))
        (obCol.cast("double"), !asc)
      case s => graft.ops.PointQuery.scoringExpr(s)
    }
    val grouped = graft.ops.GroupBy.groupBySearch(df, config.idCol, scoreExpr,
      largerBetter, spec.groupBy, resolver(df), gq.filter,
      spec.groupSize, spec.groups, keepGroupRank = true)
    val looked = spec.lookupCollection match {
      case None => grouped
      case Some(name) =>
        // `with_lookup` selector surface (`WithLookup`, `lookup/mod.rs:
        // 22-60`): the looked-up row attaches payload per `with_payload`
        // (default TRUE) and vectors per `with_vectors` (default FALSE).
        // The lookup frame follows the standard collection layout — id
        // first, `payload` JSON, `vector*`/`sparse_*` columns; internal
        // columns (quant_/ivfcell_/idx_ projections) never attach.
        val lk0 = lookupTable(name)
        def isVec(c: String) = c == "vector" ||
          c.startsWith("vector_") || c.startsWith("sparse_")
        def isInternal(c: String) = c.startsWith("quant_") ||
          c.startsWith("ivfcell_") || c.startsWith("idx_") ||
          c.startsWith("tenantb_") || c.startsWith("geocell_")
        val p1 = spec.lookupWithPayload match {
          case Some(f) if lk0.columns.contains("payload") =>
            lk0.withColumn("payload", f(col("payload")))
          case None if lk0.columns.contains("payload") => lk0.drop("payload")
          case _ => lk0
        }
        val keepVec: Set[String] = spec.lookupWithVectors match {
          case None => p1.columns.filter(isVec).toSet
          case Some(names) => names.flatMap(n =>
            if (n.isEmpty) Seq("vector") else Seq(s"vector_$n", s"sparse_$n")).toSet
        }
        val dropped = p1.drop(p1.columns.filter(c =>
          isInternal(c) || (isVec(c) && !keepVec(c))): _*)
        // the looked-up point's payload/vectors land under `lookup_*`
        // names (the reference returns them as a separate `lookup`
        // sub-object per group) — no collision with the group hits' own
        // with_payload / with_vector enrichment
        val lk = dropped.columns.foldLeft(dropped) { (df, c) =>
          if (c == "payload" || isVec(c)) df.withColumnRenamed(c, s"lookup_$c")
          else df
        }
        graft.ops.GroupBy.withLookup(grouped,
          lk.withColumnRenamed(lk.columns.head, "_lk"), "_lk",
          lk.columns.tail.toSeq)
    }
    // group hits carry payload/vector when requested, like any ScoredPoint
    enrich(looked, org.json4s.jackson.JsonMethods.parse(json))
  }

  /** `POST /collections/{c}/points/search/matrix/pairs` (+`offsets` via
    * the flag) — `SearchMatrixRequestInternal`: a deterministic `sample`
    * of matching points (seeded hash order, the engine's sampling
    * contract), `limit` nearest neighbors per sampled point. */
  def searchMatrix(json: String, offsets: Boolean = false): DataFrame = {
    val spec = graft.api.RequestCodec.parseMatrixRequest(json, config.shardKeyCol)
    val name = spec.using.getOrElse("")
    val vc = config.vectorConfig(name)
    val df = readDecoded()
    spec.filter.foreach(fl => config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)))
    val base = spec.filter
      .map(f => df.filter(pred(df, f))).getOrElse(df)
      .filter(col(config.vectorCol(name)).isNotNull)
    // deterministic bounded sample (the reference samples `sample` random
    // points, `distance_matrix.rs:42-44`); ids collect driver-side,
    // bounded by the request parameter
    val ids = base.select(col(config.idCol))
      .orderBy(xxhash64(col(config.idCol)), col(config.idCol))
      .limit(spec.sample).collect().map(_.get(0)).toSeq
    val pairs = graft.ops.DistanceMatrix.pairs(df, config.idCol,
      config.vectorCol(name), vc.metric,
      samplePred = col(config.idCol).isin(ids: _*),
      limitPerSample = spec.limit)
    if (offsets) graft.ops.DistanceMatrix.offsets(pairs, vc.metric.largerBetter)
    else pairs
  }

  /** PATCH `/collections/{c}` config update (`UpdateCollection`,
    * `lib/storage/src/content_manager/collection_meta_ops.rs:119-135`;
    * `tests/openapi/test_collection_update.py`,
    * `test_sparse_vector_config_update.py`). The in-scope mutable surface
    * is per-vector `quantization_config` and the sparse `modifier`; the
    * reference applies such changes by re-optimizing segments in the
    * background — here they land as ONE explicit rewrite. A quantization
    * change re-fits params on the CURRENT corpus and re-materializes the
    * quantized column(s); removing quantization drops them. A sparse
    * modifier change is config-only (scoring reads it per query). Id and
    * shard-key columns are immutable (a PATCH cannot re-shard). Returns
    * the Collection bound to the new config. */
  def updateConfig(nc: graft.sources.CollectionConfig): Collection = {
    require(nc.idCol == config.idCol && nc.shardKeyCol == config.shardKeyCol,
      "id/shard-key columns are immutable under a config PATCH")
    require(nc.vectors.map(v => (v.name, v.dim, v.metric, v.datatype)) ==
      config.vectors.map(v => (v.name, v.dim, v.metric, v.datatype)),
      "vector size/distance/datatype are immutable under a config PATCH " +
        "(reference: VectorParamsDiff carries only index/quantization knobs)")
    val next = new Collection(spark, path, nc)
    val quantChanged = nc.vectors.map(v => v.name -> v.quantization).toMap !=
      config.vectors.map(v => v.name -> v.quantization).toMap
    val annChanged = nc.vectors.map(v => v.name -> v.ann).toMap !=
      config.vectors.map(v => v.name -> v.ann).toMap
    // tenant/principal declarations are PHYSICAL layout: a diff re-lays
    // the table out in one rewrite (the reference re-optimizes segments
    // with the new defragment keys in the background,
    // `lib/shard/src/optimize.rs:253-268`)
    val layoutChanged = nc.tenantKeys != config.tenantKeys ||
      nc.principalKeys != config.principalKeys
    if (quantChanged || annChanged) {
      val cur = read()
      val stripped = cur.columns
        .filter(c => c.startsWith("quant_") || c.startsWith("ivfcell_") ||
          c.startsWith("tenantb_"))
        .foldLeft(cur)(_ drop _)
      // quantization columns: refit when the quant spec changed, else
      // re-materialize from the EXISTING persisted params (an ann-only
      // PATCH must not silently re-fit the quantization space)
      val params =
        if (quantChanged) Collection.fitQuantParams(nc, stripped)
        else quantParams
      val withQuant = nc.vectors.filter(_.quantization.isDefined)
        .foldLeft(stripped) { (acc, vc) =>
          val vcol = nc.vectorCol(vc.name)
          if (!acc.columns.contains(vcol)) acc
          else acc.withColumn(nc.quantCol(vc.name),
            when(col(vcol).isNotNull,
              Collection.quantEncodeExpr(vc, params(vc.name), col(vcol)))
              .otherwise(lit(null)))
        }
      // IVF: retrain on the CURRENT corpus when the spec changed (the
      // reference re-optimizes segments in the background after an index
      // PATCH); unchanged specs keep their persisted centroids so cell
      // ids stay stable across the rewrite
      val withCells = nc.vectors.filter(_.ann.isDefined)
        .foldLeft(withQuant) { (acc, vc) =>
          val vcol = nc.vectorCol(vc.name)
          if (!acc.columns.contains(vcol)) acc
          else {
            val specChanged = config.vectors.find(_.name == vc.name)
              .forall(_.ann != vc.ann)
            val m =
              if (specChanged)
                graft.index.IvfIndex.buildAndPersist(
                  stripped, vcol, vc.ann.get.cells, next.ivfPath(vc.name))
              else next.ivfModel(vc.name).getOrElse(
                graft.index.IvfIndex.buildAndPersist(
                  stripped, vcol, vc.ann.get.cells, next.ivfPath(vc.name)))
            acc.withColumn(nc.cellCol(vc.name),
              when(col(vcol).isNotNull,
                graft.index.IvfIndex.assignExpr(col(vcol), m))
                .otherwise(lit(null).cast("int")))
          }
        }
      next.write(withCells, sparseDfChange = false)
      if (quantChanged) next.writeQuantParams(params)
    } else if (layoutChanged) {
      // layout-only PATCH: one rewrite under the new partition/sort rule
      // (write() recomputes declared buckets; stale ones drop here)
      val cur = read()
      next.write(cur.columns.filter(_.startsWith("tenantb_"))
        .foldLeft(cur)(_ drop _), sparseDfChange = false)
    }
    next
  }

  /** Collection-level metadata (`CollectionConfig.metadata`, PATCH
    * `/collections/{c}` — `tests/openapi/test_collection_metadata.py`):
    * arbitrary key-values persisted with the collection config. Patch
    * semantics mirror the reference: present keys merge/overwrite, an
    * explicit null DELETES the key. Stored as `_metadata.json` beside the
    * parquet data (driver-side catalog state, like the reference persists
    * config with the collection). */
  def updateMetadata(patch: Map[String, Option[String]]): Unit = {
    val merged = patch.foldLeft(metadata()) {
      case (m, (k, Some(v))) => m + (k -> v)
      case (m, (k, None)) => m - k
    }
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.JObject(merged.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> (org.json4s.JString(v): org.json4s.JValue) }.toList)))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metadataPath, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def metadata(): Map[String, String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metadataPath)) Map.empty
    else {
      val in = fs.open(metadataPath)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      org.json4s.jackson.JsonMethods.parse(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)) match {
        case org.json4s.JObject(fields) =>
          fields.collect { case (k, org.json4s.JString(v)) => k -> v }.toMap
        case _ => Map.empty
      }
    }
  }

  private def metadataPath =
    new org.apache.hadoop.fs.Path(path + "_metadata.json")

  // ----------------------------------------------------- shard-key registry

  private[graft] def shardKeysPath =
    new org.apache.hadoop.fs.Path(path + "_shardkeys.json")

  /** Declared shard keys of a custom-sharded collection — the
    * `PUT/GET /collections/{c}/shards` + `POST /shards/delete` surface
    * (`sharding_keys.rs`, routes `src/actix/api/shards_api.rs`).
    * Persisted as a `_shardkeys.json` sidecar; `None` = no registry (a
    * collection created directly from data with implicit keys — the
    * batch-native analog; writes then accept any key). Once a registry
    * exists, writes naming an undeclared key REJECT with the reference's
    * "Shard key .. not found" (`shard_holder/mod.rs:432`). */
  def listShardKeys(): Option[Seq[Any]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(shardKeysPath)) None
    else {
      val in = fs.open(shardKeysPath)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      org.json4s.jackson.JsonMethods.parse(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)) \ "keys" match {
        case org.json4s.JArray(xs) => Some(xs.map {
          case org.json4s.JString(s) => s
          case org.json4s.JInt(i) => i.toLong
          case org.json4s.JLong(l) => l
          case other => throw new IllegalArgumentException(s"bad shard key $other")
        })
        case _ => Some(Nil)
      }
    }
  }

  private def writeShardKeys(keys: Seq[Any]): Unit = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(JObject("keys" -> JArray(
        keys.map {
          case s: String => JString(s): JValue
          case l: Long => JInt(BigInt(l)): JValue
          case i: Int => JInt(BigInt(i.toLong)): JValue
          case other => throw new IllegalArgumentException(s"bad shard key $other")
        }.toList))))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(shardKeysPath, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `PUT /collections/{c}/shards` (`CreateShardingKey`): declare a shard
    * key. The first call initializes the registry from the keys already
    * present in the data (so legacy implicit-key collections upgrade
    * in place); duplicates are rejected like the reference
    * (`sharding_keys.rs` "already exists"). */
  def createShardKey(key: Any): Unit = {
    val sk = config.shardKeyCol.getOrElse(throw new IllegalArgumentException(
      "cannot create a shard key: the collection has no shard-key column " +
        "(auto sharding cannot have shard key)"))
    val existing = listShardKeys().getOrElse(
      read().select(col(sk)).filter(col(sk).isNotNull).distinct()
        .collect().map(_.get(0)).toSeq)
    if (existing.contains(key)) throw new IllegalArgumentException(
      s"Wrong input: Sharding key $key already exists for collection")
    writeShardKeys(existing :+ key)
  }

  /** `POST /collections/{c}/shards/delete` (`DropShardingKey`): drop the
    * key AND its points. The shard key is a partition column, so the data
    * drop is a partition-DIRECTORY delete — O(1) filesystem metadata at
    * any scale, no table rewrite (the batch analog of the reference
    * dropping the key's shards wholesale). Sidecars derived from the data
    * (fieldstats, sparse IDF) recompute. */
  def deleteShardKey(key: Any): Boolean = {
    val sk = config.shardKeyCol.getOrElse(throw new IllegalArgumentException(
      "cannot delete a shard key: the collection has no shard-key column"))
    val keys = listShardKeys().getOrElse(
      read().select(col(sk)).filter(col(sk).isNotNull).distinct()
        .collect().map(_.get(0)).toSeq)
    if (!keys.contains(key)) throw new IllegalArgumentException(
      s"Not found: Shard key $key not found")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    // Retire the key from the registry FIRST: a failure mid-drop then
    // leaves an undeclared key with orphan data (re-creatable, and its
    // directories are re-droppable) rather than a declared key whose data
    // is gone — the safer inconsistency.
    writeShardKeys(keys.filterNot(_ == key))
    // partition directories are named <col>=<escaped value>; match on the
    // unescaped tail so simple and escaped names both resolve
    val base = new org.apache.hadoop.fs.Path(path)
    val victims = fs.listStatus(base).filter { st =>
      st.isDirectory && {
        val n = st.getPath.getName
        n.startsWith(s"$sk=") &&
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(n.stripPrefix(s"$sk=")) == key.toString
      }
    }
    victims.foreach(st => fs.delete(st.getPath, true))
    ParquetMeta.bump(path)
    fieldStatsCache = None
    fs.delete(fieldStatsPath, false)
    // IDF sidecar: a sharded-format sidecar just loses the dropped key's
    // partials — ZERO jobs, matching the O(1) directory drop; anything
    // else invalidates lazily
    loadSparseIdf() match {
      case Some(m) if m.valuesIterator.forall(_.isInstanceOf[Collection.IdfSharded]) =>
        writeSparseIdfStats(m.map {
          case (n, Collection.IdfSharded(parts)) =>
            n -> (Collection.IdfSharded(parts - key.toString): Collection.IdfEntry)
          case other => other
        })
      case Some(_) => invalidateSparseIdfStats()
      case None => ()
    }
    // the key WAS declared (the not-found guard above) — report the drop
    // as applied even when no data had landed under it yet
    true
  }

  /** Wire handlers for the shards routes: PUT body `{"shard_key": k}`,
    * delete body the same shape. */
  def shardsPut(json: String): Unit =
    createShardKey(graft.api.RequestCodec.parseShardKeyBody(json))
  def shardsDelete(json: String): Boolean =
    deleteShardKey(graft.api.RequestCodec.parseShardKeyBody(json))

  // ------------------------------------------------------- sparse IDF stats

  private[graft] def sparseIdfPath =
    new org.apache.hadoop.fs.Path(path + "_sparse_idf.json")

  /** Cached per-name entries; invalidated by df-changing writes. */
  @transient private var sparseIdfCache: Option[Map[String, Collection.IdfEntry]] = None

  private def loadSparseIdf(): Option[Map[String, Collection.IdfEntry]] =
    sparseIdfCache.orElse {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(sparseIdfPath)) None
      else {
        val in = fs.open(sparseIdfPath)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        val m = Collection.parseSparseIdfJson(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        sparseIdfCache = Some(m)
        Some(m)
      }
    }

  /** Ingest-time IDF statistics for a sparse vector: (N = count of points
    * with a non-null sparse cell — the reference's `indexed_vectors`,
    * `query_context.rs:283-289` — and per-dim document frequencies).
    * Loaded from the `_sparse_idf.json` artifact (NO Spark job on the warm
    * path); computed once and persisted when the artifact is missing —
    * writes INVALIDATE rather than eagerly recompute, the same lazy
    * contract as the fieldstats sidecar, so a write's cost never scales
    * with table size for the sidecar's sake. On a custom-sharded
    * collection the artifact holds PER-SHARD-KEY partial (N, df) maps —
    * merged driver-side here — so a scoped write refreshes only its
    * touched tenants ([[writeShardScoped]]). Scale note: the df map is
    * vocabulary-sized — bounded by the token space (BM25 vocabularies are
    * 10⁴–10⁵ dims), not the row count, so the sidecar stays small however
    * large the table. */
  private[graft] def sparseIdfStats(name: String): (Long, Map[Long, Long]) = {
    val cached = loadSparseIdf()
    cached.flatMap(_.get(name)).map(Collection.mergeIdfEntry).getOrElse {
      val m = computeSparseIdfStats(read(), Seq(name))
      writeSparseIdfStats(cached.getOrElse(Map.empty) ++ m)
      Collection.mergeIdfEntry(m(name))
    }
  }

  /** One aggregation pass per sparse column: non-null count + exploded
    * per-dim counts (map-side combine on the dim key). On a custom-sharded
    * collection both group by the shard key too, yielding per-key partials
    * (one extra grouping column, same two jobs) so later scoped writes can
    * refresh incrementally. */
  private def computeSparseIdfStats(
      df: DataFrame, names: Seq[String]): Map[String, Collection.IdfEntry] =
    names.filter(n => df.columns.contains(config.sparseCol(n))).map { n =>
      val c = config.sparseCol(n)
      val nonNull = df.filter(col(c).isNotNull)
      def dimKey(v: Any): Long = v match {
        case i: Int => i.toLong
        case l: Long => l
        case other => other.toString.toLong
      }
      val entry: Collection.IdfEntry = config.shardKeyCol match {
        case Some(sk) if df.columns.contains(sk) =>
          val ns = nonNull.groupBy(col(sk))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
            .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
          val dfs = nonNull.select(col(sk), explode(col(s"$c.indices")).as("dim"))
            .groupBy(col(sk), col("dim"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("df"))
            .collect()
            .groupBy(_.get(0).toString)
            .map { case (k, rows) =>
              k -> rows.map(r => dimKey(r.get(1)) -> r.getLong(2)).toMap
            }
          Collection.IdfSharded(ns.map { case (k, n) =>
            k -> ((n, dfs.getOrElse(k, Map.empty[Long, Long])))
          })
        case _ =>
          val total = nonNull.count()
          val dfs = nonNull.select(explode(col(s"$c.indices")).as("dim"))
            .groupBy(col("dim"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("df"))
            .collect().map(r => dimKey(r.get(0)) -> r.getLong(1)).toMap
          Collection.IdfFlat(total, dfs)
      }
      n -> entry
    }.toMap

  private[storage] def writeSparseIdfStats(
      m: Map[String, Collection.IdfEntry]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(sparseIdfPath, true)
    try out.write(Collection.sparseIdfJson(m)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    sparseIdfCache = Some(m)
  }

  /** Drop the IDF sidecar — the LAZY invalidation a df-changing write
    * performs instead of the former eager full-table recompute (which made
    * every write on an idf-modified collection cost a whole-table scan —
    * the r13 scale probe's residual slope). The next read that needs IDF
    * rebuilds and persists it, exactly like the fieldstats sidecar. */
  private[storage] def invalidateSparseIdfStats(): Unit = {
    sparseIdfCache = None
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(sparseIdfPath, false)
    ()
  }

  /** Eager sidecar build — used at CREATE (the data was just scanned
    * anyway; one more pass while it is hot keeps first reads zero-job). */
  private[storage] def refreshSparseIdfStats(): Unit = {
    val idfNames = config.sparse.filter(_.modifier.contains("idf")).map(_.name)
    if (idfNames.nonEmpty) writeSparseIdfStats(computeSparseIdfStats(read(), idfNames))
  }

  /** Scoped refresh after [[writeShardScoped]]: when the sidecar is WARM
    * and sharded-format, recompute partials for ONLY the touched keys —
    * the aggregation's scan partition-prunes to those directories — and
    * splice them in; jobs are bounded by the touched partitions, never the
    * table. Cold or flat-format sidecars just invalidate (lazy rebuild). */
  private def refreshSparseIdfScoped(sk: String, keys: Seq[Any]): Unit = {
    val idfNames = config.sparse.filter(_.modifier.contains("idf")).map(_.name)
    if (idfNames.isEmpty) { invalidateSparseIdfStats(); return }
    loadSparseIdf() match {
      case Some(m) if idfNames.forall(n =>
          m.get(n).forall(_.isInstanceOf[Collection.IdfSharded])) =>
        // splice ONLY the names already present (and sharded) in the warm
        // sidecar. A name ABSENT from the map was never built — the lazy
        // rebuild ([[sparseIdfStats]]) persists one entry per read — and
        // MUST stay absent: fabricating it from the touched keys' rows
        // alone would record one tenant's (N, df) as the whole
        // collection's and silently mis-weight every later IDF query on
        // that space (the entry would be warm, so never corrected).
        val present = idfNames.filter(m.contains)
        if (present.isEmpty) return // nothing spliced — skip the no-op rewrite
        val touched = keys.map(_.toString).toSet
        val merged = {
            val scoped = read().filter(col(sk).isin(keys: _*))
            val fresh = computeSparseIdfStats(scoped, present)
            m ++ present.flatMap { n =>
              val freshParts = fresh.get(n) match {
                case Some(Collection.IdfSharded(p)) => p
                case _ => Map.empty[String, (Long, Map[Long, Long])]
              }
              m.get(n) match {
                case Some(Collection.IdfSharded(old)) =>
                  Some(n -> Collection.IdfSharded(
                    old.view.filterKeys(k => !touched.contains(k)).toMap ++
                      freshParts))
                case _ => None // unreachable under the guard
              }
            }.toMap
          }
        writeSparseIdfStats(merged)
      case Some(_) => invalidateSparseIdfStats()
      case None => () // cold: stays cold, first IDF read rebuilds
    }
  }

  // ------------------------------------------------------- field statistics

  private[graft] def fieldStatsPath =
    new org.apache.hadoop.fs.Path(path + "_fieldstats.json")

  @transient private var fieldStatsCache:
      Option[graft.filters.Cardinality.FieldStatsSnapshot] = None

  /** Driver-side per-field statistics snapshot for `count` with
    * `exact: false` ([[graft.filters.Cardinality]]) — the analog of the
    * payload field indexes' count structures the reference estimates from.
    * Loaded from `_fieldstats.json` (zero jobs warm); computed once and
    * persisted when missing. A mutation deletes the sidecar rather than
    * eagerly recomputing — estimation is a read-path nicety and the
    * reference itself documents approximate counts as "unreliable during
    * the indexing process" (`lib/shard/src/count.rs:14-17`). */
  private[graft] def fieldStats: graft.filters.Cardinality.FieldStatsSnapshot = {
    fieldStatsCache.getOrElse {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val loaded =
        if (!fs.exists(fieldStatsPath)) None
        else {
          val in = fs.open(fieldStatsPath)
          val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
          Some(Collection.parseFieldStatsJson(
            new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
        }
      val snap = loaded.getOrElse {
        val computed = computeFieldStats()
        val out = fs.create(fieldStatsPath, true)
        try out.write(Collection.fieldStatsJson(computed)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        computed
      }
      fieldStatsCache = Some(snap)
      snap
    }
  }

  /** Build the statistics snapshot — the batch analog of the reference's
    * field-index build collecting per-value postings. Bounded output: the
    * per-value map caps at [[Collection.StatsTopK]] heaviest values (tail
    * folds into aggregates), numeric histograms are fixed
    * [[Collection.StatsBuckets]]-wide, null/empty counts are single
    * numbers — the sidecar stays KB-scale at any table size. All counts
    * come from the SAME resolver/compiler expressions the filters execute,
    * so every "exact" arm of the estimator equals the true predicate
    * count by construction.
    *
    * Job shape is FIXED at five Spark jobs regardless of how many fields
    * the collection declares: (1) one combined whole-row aggregation
    * (total + null/empty per field + HasVector counts); (2+3) all
    * keyword/int/bool fields stacked into ONE long-form
    * `(id, field, value)` distinct — aggregated per field, then per
    * (field, value) with a per-field top-K window; (4+5) all numeric
    * fields stacked into ONE `(id, field, double)` long-form — a single
    * two-level aggregation for bounds/counts/max-values-per-point, then a
    * single bucket-count pass with per-field lo/width looked up from a map
    * literal. The payload JSON parses once per long-form (the stacked
    * fields share one Project, which subexpression-eliminates the parse),
    * and each long-form persists across its two jobs. The naive
    * per-field shape was measured at 131 s cold on 500k docs × 3 fields
    * (~11 sequential explode-shuffle jobs, each re-parsing the payload);
    * this shape holds the build at O(2 table scans) at any field count. */
  private def computeFieldStats(): graft.filters.Cardinality.FieldStatsSnapshot = {
    import graft.filters.Cardinality._
    import org.apache.spark.sql.types._
    val df = read()
    def cnt(c: Column): Column = org.apache.spark.sql.functions.count(c)

    def elemType(t: DataType): DataType = t match {
      case ArrayType(e, _) => e
      case other => other
    }
    val declared =
      if (df.columns.contains(config.payloadCol))
        config.payloadTypes.toSeq.sortBy(_._1)
      else Seq.empty

    // env-gated per-job timing (diagnostics for the probe; zero cost off)
    def timed[A](label: String)(body: => A): A =
      if (!sys.env.contains("GRAFT_STATS_TIMING")) body
      else {
        val t0 = System.nanoTime()
        val a = body
        System.err.println(f"[fieldstats] $label%-12s ${(System.nanoTime() - t0) / 1e9}%.2f s")
        a
      }

    // JOB 1 — total row count + non-null counts per vector column, over
    // the raw scan (parquet prunes to just these columns; null counting
    // never touches the payload)
    val vecCols: Seq[(String, String)] =
      (config.vectors.map(vc => vc.name -> config.vectorCol(vc.name)) ++
        config.sparse.map(sc => sc.name -> config.sparseCol(sc.name)))
        .filter { case (_, c) => df.columns.contains(c) }
    val vecAggs = vecCols.map { case (n, c) => cnt(col(c)).as(s"vec_$n") }
    val baseAggs = Seq(cnt(lit(1)).as("_total")) ++ vecAggs
    val baseRow = timed("base-agg")(
      df.agg(baseAggs.head, baseAggs.tail: _*).collect()(0))
    def rowLong(row: org.apache.spark.sql.Row, name: String): Long =
      Option(row.getAs[Any](name)).fold(0L)(_.toString.toLong)
    val total = rowLong(baseRow, "_total")
    val vectorCounts =
      vecCols.map { case (n, _) => n -> rowLong(baseRow, s"vec_$n") }.toMap

    // Shared payload frame for every remaining pass: the JSON parses ONCE
    // per row into a persisted variant column (the per-reference re-parse
    // is the dominant per-row cost — JsonResolver.preParsed scaladoc), and
    // an under-partitioned scan (small/compacted tables arrive as one
    // parquet split) fans out to the session's full parallelism first —
    // at real scale the scan already has more splits than cores and the
    // repartition short-circuits away. Measured on 200k docs × 4 fields:
    // 29 s + 35 s for the two payload passes before, 6 s total after.
    val narrow = df.select(col(config.idCol).as("_id"),
      col(config.payloadCol).as("_p"))
    val par = spark.sparkContext.defaultParallelism
    val fanned =
      if (declared.isEmpty || narrow.rdd.getNumPartitions >= par) narrow
      else narrow.repartition(par)
    val pp = fanned
      .select(col("_id"), try_parse_json(col("_p")).as("_pv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r: graft.filters.FieldResolver = new graft.filters.JsonResolver(
      col("_pv"), config.payloadTypes, col("_id"), Map.empty,
      preParsed = true)
    val fc = new graft.filters.FilterCompiler(r)

    // JOB 2 — one combined aggregation: null/empty counts per field
    val nulls: Map[String, NullStats] =
      if (declared.isEmpty) Map.empty
      else {
        val nullAggs = declared.flatMap { case (k, _) =>
          Seq(
            sum(when(fc.condition(graft.model.IsNullCond(k)), 1L).otherwise(0L))
              .as(s"null_$k"),
            sum(when(fc.condition(graft.model.IsEmpty(k)), 1L).otherwise(0L))
              .as(s"empty_$k"))
        }
        val row = timed("null-agg")(
          pp.agg(nullAggs.head, nullAggs.tail: _*).collect()(0))
        declared.map { case (k, _) =>
          k -> NullStats(rowLong(row, s"null_$k"), rowLong(row, s"empty_$k"))
        }.toMap
      }

    /** All of `fields` as one exploded long-form `(_id, _k, _v)`, values
      * mapped per field by `conv` (for the value pass a string cast —
      * string identity is injective within a field, its element type is
      * fixed, so distinct/grouping over the cast matches the typed
      * semantics; for the hist pass a numeric-axis projection). */
    def longForm(fields: Seq[String], conv: (String, Column) => Column): DataFrame = {
      val kvs = array(fields.map { k =>
        struct(lit(k).as("_k"),
          transform(r.values(k), v => conv(k, v)).as("_vs"))
      }: _*)
      pp.select(col("_id"), explode(kvs).as("_kv"))
        .select(col("_id"), col("_kv._k").as("_k"), explode(col("_kv._vs")).as("_v"))
        .filter(col("_v").isNotNull)
    }

    // JOBS 2+3 — per-value point counts for keyword/bool/integer fields
    val valueFields = declared.collect {
      case (k, t) if (elemType(t) match {
        case StringType | BooleanType | LongType | IntegerType => true
        case _ => false
      }) => k
    }
    val values: Map[String, ValueStats] =
      if (valueFields.isEmpty) Map.empty
      else {
        val pairs = longForm(valueFields, (_, v) => v.cast("string")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val perField = timed("val-agg")(pairs.groupBy(col("_k"))
            .agg(cnt(lit(1)).as("vals"), countDistinct(col("_v")).as("uniq"),
              countDistinct(col("_id")).as("pts"))
            .collect())
            .map(rw => rw.getString(0) ->
              ((rw.getLong(1), rw.getLong(2), rw.getLong(3)))).toMap
          val topW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_k")).orderBy(desc("c"), asc("_v"))
          val heads = timed("val-topk")(pairs.groupBy(col("_k"), col("_v"))
            .agg(cnt(lit(1)).as("c"))
            .withColumn("_rn", row_number().over(topW))
            .filter(col("_rn") <= Collection.StatsTopK)
            .collect())
            .groupBy(_.getString(0))
            .map { case (k, rows) =>
              k -> rows.map(rw => rw.getString(1) -> rw.getLong(2)).toSeq }
          valueFields.map { k =>
            val (valuesCount, uniqueValues, indexedPoints) =
              perField.getOrElse(k, (0L, 0L, 0L))
            val head = heads.getOrElse(k, Seq.empty)
            val headSum = head.map(_._2).sum
            k -> ValueStats(indexedPoints, valuesCount, uniqueValues,
              head.toMap, uniqueValues - head.length, valuesCount - headSum)
          }.toMap
        } finally { pairs.unpersist(); () }
      }

    // JOBS 4+5 — equal-width value histograms for numeric AND datetime
    // range fields. Datetime values project onto the epoch-μs axis (the
    // reference's numeric index stores DateTimePayloadType as i64 μs,
    // `numeric_index/mod.rs`), so RFC3339-bounded ranges estimate through
    // the same histogram machinery.
    val dateFields = declared.collect {
      case (k, t) if (elemType(t) match {
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }) => k
    }
    val histFields = declared.collect {
      case (k, t) if (elemType(t) match {
        case LongType | IntegerType | DoubleType | FloatType => true
        case _ => false
      }) => k
    } ++ dateFields
    val histConv: (String, Column) => Column = (k, v) =>
      declared.collectFirst { case (`k`, t) => elemType(t) } match {
        case Some(TimestampType) => unix_micros(v).cast("double")
        case Some(TimestampNTZType) => unix_micros(v.cast(TimestampType)).cast("double")
        case Some(DateType) => unix_date(v).cast("double") * lit(86400e6)
        case _ => v.cast("double")
      }
    val hist: Map[String, HistStats] =
      if (histFields.isEmpty) Map.empty
      else {
        val nums = longForm(histFields, histConv)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // two-level: per-(field, point) partials fold into per-field
          // bounds + value/point counts + max-values-per-point in ONE job
          val meta = timed("hist-meta")(nums.groupBy(col("_k"), col("_id"))
            .agg(cnt(lit(1)).as("n"), min(col("_v")).as("mn"), max(col("_v")).as("mx"))
            .groupBy(col("_k"))
            .agg(min(col("mn")).as("lo"), max(col("mx")).as("hi"),
              sum(col("n")).as("vals"), cnt(lit(1)).as("pts"),
              max(col("n")).as("maxVpp"))
            .collect())
            .map(rw => rw.getString(0) -> ((rw.getDouble(1), rw.getDouble(2),
              rw.getLong(3), rw.getLong(4), rw.getLong(5)))).toMap
          val b = Collection.StatsBuckets
          val spread = meta.filter { case (_, (lo, hi, _, _, _)) => hi > lo }
          val bucketCounts: Map[(String, Int), Long] =
            if (spread.isEmpty) Map.empty
            else {
              // per-field lo/width via map-literal lookup — one pass for
              // every field together
              val loM = map(spread.toSeq.flatMap { case (k, (lo, _, _, _, _)) =>
                Seq(lit(k), lit(lo)) }: _*)
              val wM = map(spread.toSeq.flatMap { case (k, (lo, hi, _, _, _)) =>
                Seq(lit(k), lit((hi - lo) / b.toDouble)) }: _*)
              timed("hist-bkts")(nums.filter(col("_k").isin(spread.keys.toSeq: _*))
                .groupBy(col("_k"), least(lit(b - 1),
                  floor((col("_v") - element_at(loM, col("_k"))) /
                    element_at(wM, col("_k"))).cast("int")).as("_b"))
                .agg(cnt(lit(1)).as("c"))
                .collect())
                .map(rw => (rw.getString(0), rw.getInt(1)) -> rw.getLong(2)).toMap
            }
          meta.map { case (k, (lo, hi, totalValues, pts, maxVpp)) =>
            val buckets =
              if (hi <= lo) Array.fill(b)(0L).updated(0, totalValues)
              else Array.tabulate(b)(i => bucketCounts.getOrElse((k, i), 0L))
            k -> HistStats(pts, totalValues, maxVpp, lo, hi, buckets.toSeq)
          }
        } finally { nums.unpersist(); () }
      }

    pp.unpersist()

    // JOB 6 (shard-keyed collections only) — the shard-key PARTITION
    // column's per-key counts. Low cardinality by construction (one value
    // per shard key), and the scan prunes to the partition column alone —
    // so shard-scoped `exact:false` counts estimate the selected shards'
    // size instead of degrading to unknown(N/2).
    val shardKeyIsString = config.shardKeyCol
      .filter(df.columns.contains)
      .map(sk => df.schema(sk).dataType == StringType)
    val shardStats: Map[String, ValueStats] = config.shardKeyCol
      .filter(df.columns.contains).map { sk =>
        val perKey = timed("shard-agg")(
          df.groupBy(col(sk)).agg(cnt(lit(1)).as("c")).collect())
          .filter(!_.isNullAt(0))
          .map(rw => rw.get(0).toString -> rw.getAs[Long]("c")).toSeq
        val totalVals = perKey.map(_._2).sum
        sk -> ValueStats(totalVals, totalVals, perKey.length.toLong,
          perKey.toMap, 0L, 0L)
      }.toMap

    // JOB 7 (declared geo indexes only) — coarse per-cell counts from the
    // materialized geocell column (the scan prunes to that one string
    // column; ≤ 32² + sentinel groups by construction). The reference
    // reads the same numbers from its geohash postings
    // (`geo_index/read_ops.rs` `points_of_hash`).
    val geoStats: Map[String, graft.filters.Cardinality.GeoStats] =
      declared.collect {
        case (k, _: StructType) if df.columns.contains(config.geoCellCol(k)) =>
          val cellC = col(config.geoCellCol(k))
          val rows = timed(s"geo-agg") {
            df.filter(cellC.isNotNull)
              .groupBy(substring(cellC, 1,
                graft.index.GeoIndex.StatsPrecision).as("_c"))
              .agg(cnt(lit(1)).as("c"))
              .collect()
          }
          val (multi, cells) = rows.partition(
            _.getString(0) == graft.index.GeoIndex.MultiCell)
          k -> graft.filters.Cardinality.GeoStats(
            multiPoints = multi.map(_.getAs[Long]("c")).sum,
            cellCounts = cells.map(rw =>
              rw.getString(0) -> rw.getAs[Long]("c")).toMap)
      }.toMap

    FieldStatsSnapshot(total, vectorCounts, values ++ shardStats, hist, nulls,
      stringTyped = declared.collect {
        case (k, t) if elemType(t) == StringType => k }.toSet ++
        shardKeyIsString.collect { case true => config.shardKeyCol.get },
      boolTyped = declared.collect {
        case (k, t) if elemType(t) == BooleanType => k }.toSet,
      intTyped = declared.collect {
        case (k, t) if elemType(t) == LongType || elemType(t) == IntegerType => k
      }.toSet ++
        shardKeyIsString.collect { case false => config.shardKeyCol.get },
      dateTyped = dateFields.toSet,
      geo = geoStats)
  }

  // ------------------------------------------------------- quantization

  private[storage] def quantParamsPath =
    new org.apache.hadoop.fs.Path(path + "_quant.json")

  /** Fitted quantization params, loaded from the driver-side catalog file
    * written at create (like the reference persists quantization alongside
    * the segment). Empty when no vector declares quantization. */
  private[graft] lazy val quantParams: Map[String, Collection.QuantParams] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(quantParamsPath)) Map.empty
    else {
      val in = fs.open(quantParamsPath)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      Collection.parseQuantJson(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private[storage] def writeQuantParams(m: Map[String, Collection.QuantParams]): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(quantParamsPath, true)
    try out.write(Collection.quantJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Recompute quantized columns for incoming rows from the PERSISTED
    * params (never refit — a micro-batch must quantize in the same space
    * as the existing storage). */
  private def attachQuant(df: DataFrame): DataFrame =
    config.vectors.filter(_.quantization.isDefined).foldLeft(df) { (acc, vc) =>
      val vcol = config.vectorCol(vc.name)
      val qc = config.quantCol(vc.name)
      (if (acc.columns.contains(vcol)) quantParams.get(vc.name) else None) match {
        case Some(qp) =>
          acc.withColumn(qc,
            when(col(vcol).isNotNull, Collection.quantEncodeExpr(vc, qp, col(vcol)))
              .otherwise(lit(null)))
        case None => acc
      }
    }

  // ------------------------------------------------------- IVF ANN

  /** Centroid-model artifact path for a declared [[graft.sources.IvfSpec]]
    * vector — trained at create/PATCH (the index-build job), persisted
    * beside the table like `_quant.json`. */
  private[graft] def ivfPath(name: String): String =
    path + s"_ivf_${config.vectorCol(name)}.txt"

  /** Persisted IVF cell model for a named vector (None when the artifact
    * is missing — e.g. a pre-existing table opened with a new ann spec
    * before any PATCH rewrite). */
  private[graft] def ivfModel(name: String): Option[graft.index.IvfIndex.Model] =
    graft.index.IvfIndex.loadCached(ivfPath(name))

  /** (Re)assign IVF cell columns for incoming rows from the PERSISTED
    * centroids (never retrain — a micro-batch must land in the same cell
    * space as the existing partitions). */
  private def attachIvf(df: DataFrame): DataFrame =
    config.vectors.filter(_.ann.isDefined).foldLeft(df) { (acc, vc) =>
      val vcol = config.vectorCol(vc.name)
      (if (acc.columns.contains(vcol)) ivfModel(vc.name) else None) match {
        case Some(m) =>
          acc.withColumn(config.cellCol(vc.name),
            when(col(vcol).isNotNull, graft.index.IvfIndex.assignExpr(col(vcol), m))
              .otherwise(lit(null).cast("int")))
        case None => acc
      }
    }

  /** Collection statistics + declared schema — the `GET /collections/{c}`
    * surface (`CollectionInfo`, `lib/collection/src/operations/types.rs:215`):
    * status, points_count, indexed_vectors_count (every stored vector is
    * "indexed" here — the exact index is the default, so this counts
    * non-null named-vector cells), the declared vector schema and the
    * payload index schema. One aggregation pass over the table; config
    * fields come from the driver-side catalog, like the reference.
    * `segments_count` maps to the parquet file count ([[dataFileCount]]) —
    * reported as a ≥1 sanity flag rather than a number, since physical
    * file layout is a write-time artifact, not query semantics. */
  def info(): DataFrame = {
    import spark.implicits._
    val df = read()
    val vecCols = config.vectors.map(vc => config.vectorCol(vc.name))
      .filter(df.columns.contains)
    val aggs = org.apache.spark.sql.functions.count(lit(1)).as("points_count") +:
      vecCols.zipWithIndex.map { case (c, i) =>
        sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"_v$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val points = row.getLong(0)
    val indexed = vecCols.indices.map(i => row.getLong(i + 1)).sum
    val vecSchema = config.vectors
      .map(v => s"${if (v.name.isEmpty) "<default>" else v.name}:${v.dim}:${v.metric}")
      .mkString(",")
    val payloadSchema = config.payloadTypes.toSeq.sortBy(_._1)
      .map { case (k, t) => s"$k:${t.simpleString}" }.mkString(",")
    Seq((
      "green", points, indexed, vecSchema, payloadSchema,
      dataFileCount() >= 1))
      .toDF("status", "points_count", "indexed_vectors_count",
        "vectors_schema", "payload_schema", "segments_ok")
  }

  /** Compaction — the background merge-optimizer analog
    * (`lib/shard/src/optimizers/merge_optimizer.rs`, SURVEY.md §4.3): a
    * mutation-heavy collection accumulates one file set per write; rewrite
    * to `targetFiles` well-sized files so scans stop paying per-file open
    * cost. On a lakehouse this is OPTIMIZE/compaction. */
  def compact(targetFiles: Int = 1): Unit =
    write(read(), targetFiles = Some(targetFiles), sparseDfChange = false)

  /** Number of parquet data files currently backing the collection. */
  def dataFileCount(): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /** Add a named vector column collection-wide (initially null unless
    * `values` given). Ref `src/actix/api/vector_name_api.rs:22`. */
  def addVectorColumn(name: String, dim: Int, values: Option[Column] = None): Unit = {
    // the 1..=65536 dimension cap applies at the API boundary here too
    // (`test_named_vector_crud.py:115-137`, same bound as collection
    // creation — PR #2544)
    if (dim < 1 || dim > 65536) throw new IllegalArgumentException(
      "Validation error in JSON body: " +
        s"[size: value $dim invalid, must be from 1 to 65536]")
    val cur = read()
    val c = config.vectorCol(name)
    require(!cur.columns.contains(c), s"vector column '$c' already exists")
    write(cur.withColumn(c,
      values.getOrElse(lit(null).cast(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))),
      sparseDfChange = false)
  }

  /** Drop a named vector column collection-wide (`vector_name_api.rs:57`). */
  def dropVectorColumn(name: String): Unit =
    write(read().drop(config.vectorCol(name)), sparseDfChange = false)

  /** Materialize the projection column(s) for a declared payload field —
    * the "create payload index" operation (`update_api.rs:371`,
    * SURVEY.md §2.5): filters on the field then compile against the typed
    * column (TypedResolver) and push down to the parquet scan instead of
    * parsing JSON. Column name: `idx_<key>`; a geo-schema key additionally
    * materializes its `geocell_<key>` prune column
    * ([[Collection.indexProjection]]). The actual values are (re)computed
    * inside [[write]]'s rematerialization pass — this call just
    * establishes the columns and pays the one rewrite. */
  def buildPayloadIndex(key: String): Unit = {
    val t = config.payloadTypes.getOrElse(key,
      throw new IllegalArgumentException(s"no declared type for payload key '$key'"))
    write(Collection.applyIndexProjection(config, key, t, read()),
      sparseDfChange = false)
  }

  /** Field-index creation with tenant/principal declarations
    * (`PUT /collections/{c}/index` with `is_tenant` / `is_principal`,
    * `data_types/index.rs:32,149`): materializes the typed projection AND
    * re-lays the table out under the new partition/sort rule in the SAME
    * single rewrite. Returns the Collection bound to the updated config
    * (the caller persists it, as with [[updateConfig]]). */
  def buildPayloadIndex(
      key: String, flags: graft.api.RequestCodec.FieldIndexFlags): Collection = {
    val t = config.payloadTypes.getOrElse(key,
      throw new IllegalArgumentException(s"no declared type for payload key '$key'"))
    buildPayloadIndex(key, t, flags)
  }

  /** Field-index creation carrying the WIRE-declared schema type
    * (`PUT /collections/{c}/index` body `field_schema`,
    * `RequestCodec.parseFieldIndexRequest`): the declared type joins
    * `payloadTypes` — the reference's payload index schema is declared by
    * exactly this request (`lib/shard/src/payload_index_schema.rs`), not
    * required up front at collection creation. */
  def buildPayloadIndex(key: String, t: org.apache.spark.sql.types.DataType,
      flags: graft.api.RequestCodec.FieldIndexFlags): Collection = {
    val nc = config.copy(
      payloadTypes = config.payloadTypes + (key -> t),
      tenantKeys =
        if (flags.isTenant) (config.tenantKeys :+ key).distinct
        else config.tenantKeys,
      principalKeys =
        if (flags.isPrincipal) (config.principalKeys :+ key).distinct
        else config.principalKeys)
    val next = new Collection(spark, path, nc)
    next.write(Collection.applyIndexProjection(nc, key, t, read()),
      sparseDfChange = false)
    next
  }

  /** Drop a payload index's column(s) (`update_api.rs:407`). */
  def dropPayloadIndex(key: String): Unit =
    write(read().drop(config.idxCol(key)).drop(config.geoCellCol(key))
      .drop(config.geoCellsCol(key)),
      sparseDfChange = false)

  private def mapPayload(cur: DataFrame, target: Column, f: Column => Column): DataFrame = {
    val p = col(config.payloadCol)
    cur.withColumn(config.payloadCol,
      when(coalesce(target, lit(false)), f(p)).otherwise(p))
  }
}

object Collection {
  /** Largest local-batch id list the admission probe compiles to an
    * `id IN (...)` scan predicate; beyond it the IN expression's own
    * planning cost dominates and the broadcast semi-join takes over. */
  val InProbeMaxIds = 10000

  /** Create/overwrite a collection from a points DataFrame; declared
    * reduced-width vectors are encoded on the way in. */
  def create(
      spark: SparkSession,
      path: String,
      config: CollectionConfig,
      points: DataFrame): Collection = {
    // declared quantization fits on the initial corpus (the index-build
    // job of SURVEY.md §2.6); params persist beside the table so every
    // later micro-batch quantizes in the SAME space
    val params = fitQuantParams(config, points)
    val enc = encodeVectors(config, points)
    val withQuant = config.vectors.filter(_.quantization.isDefined)
      .foldLeft(enc) { (acc, vc) =>
        val vcol = config.vectorCol(vc.name)
        if (!acc.columns.contains(vcol)) acc
        else acc.withColumn(config.quantCol(vc.name),
          when(col(vcol).isNotNull,
            quantEncodeExpr(vc, params(vc.name), col(vcol)))
            .otherwise(lit(null)))
      }
    // declared IVF: train centroids on the initial corpus (always a fresh
    // fit — create replaces the data, a stale model must not leak in),
    // persist beside the table, and materialize the cell column the write
    // below PARTITIONS by — the physical layout a probe query prunes.
    val coll0 = new Collection(spark, path, config)
    val withCells = config.vectors.filter(_.ann.isDefined)
      .foldLeft(withQuant) { (acc, vc) =>
        val vcol = config.vectorCol(vc.name)
        if (!acc.columns.contains(vcol)) acc
        else {
          require(vc.datatype == Float32,
            s"ann index on '${vc.name}' requires Float32 storage (got ${vc.datatype})")
          val m = graft.index.IvfIndex.buildAndPersist(
            points, vcol, vc.ann.get.cells, coll0.ivfPath(vc.name))
          acc.withColumn(config.cellCol(vc.name),
            when(col(vcol).isNotNull, graft.index.IvfIndex.assignExpr(col(vcol), m))
              .otherwise(lit(null).cast("int")))
        }
      }
    val withTb = withTenantBuckets(config, withCells)
    val pc = partitionCols(config, withTb.columns)
    // one task per partition key → O(1) files per partition directory,
    // rows id-clustered for row-group pruning (see Collection.write /
    // Collection.layout — same layout rule)
    val laid = layout(config, withTb, None)
    val w = laid.write.mode(SaveMode.Overwrite)
    (if (pc.isEmpty) w else w.partitionBy(pc: _*)).parquet(path)
    ParquetMeta.bump(path)
    val coll = new Collection(spark, path, config)
    // create REPLACES the collection at `path`: stale driver-side sidecars
    // from a previous collection there must not leak into the new one —
    // the fieldstats file in particular is rebuilt LAZILY, so without this
    // delete the first `exact:false` count/facet would serve the PREVIOUS
    // collection's statistics (caught by the r11 scale probe: the 500×
    // re-create answered estimates from the 100× sidecar). The mutation
    // path (`write`) already drops it on every rewrite.
    val cfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    cfs.delete(coll.fieldStatsPath, false)
    cfs.delete(coll.shardKeysPath, false)
    if (params.isEmpty) cfs.delete(coll.quantParamsPath, false)
    if (params.nonEmpty) coll.writeQuantParams(params)
    coll.refreshSparseIdfStats()
    coll
  }

  /** Physical row layout of a table write. Un-partitioned tables
    * range-partition by id and sort within; partitioned tables (shard key
    * / IVF cells) keep the one-task-per-directory hash layout and sort by
    * (partition cols, id) within the task — in both shapes every parquet
    * row group covers a narrow id span, so `id IN (...)` /
    * `id >= offset` scans skip row groups via min/max stats (PushedFilters
    * at the scan; `StoreSpec` pins the pruning). */
  private[storage] def layout(
      config: CollectionConfig, df: DataFrame,
      targetFiles: Option[Int]): DataFrame = {
    val pc = partitionCols(config, df.columns)
    val id = col(config.idCol)
    // declared principal fields order rows BEFORE the id tiebreak: range
    // scans on the field skip row groups via min/max stats — the declared
    // trade (`is_principal`: range-heavy workloads) is that id-lookup
    // spans widen accordingly. A materialized geo index adds its geocell
    // column to the same sort (after explicit principals): rows cluster
    // by geohash cell, so the pushed cell-membership conjunct skips row
    // groups via min/max stats instead of merely short-circuiting the
    // exact check — the storage-locality half of the reference's geohash
    // postings (`field_index/geo_index/`), bought with the same widened
    // id-lookup spans as `is_principal`.
    val psort = principalSortCols(config, df) ++ geoCellSortCols(config, df)
    if (pc.isEmpty)
      // Local id sort only — NO range shuffle. Row-group min/max stats
      // become narrow-span because row groups follow the sorted order
      // inside each file, so id lookups and scroll-offset scans still
      // skip almost every row group; file-level spans may overlap, which
      // costs only footer reads. The full range-cluster variant was
      // measured at sf0.1 and rejected: the per-write sampling+shuffle
      // inflated every mutation entry ~2× and (un-numbered) let AQE fold
      // small tables into ONE file, serializing every later scan.
      // `compact(targetFiles)` — an explicit maintenance rewrite — is
      // where the globally-disjoint range layout is applied deliberately.
      targetFiles.fold(df)(n => df.repartitionByRange(n, id))
        .sortWithinPartitions(psort :+ id: _*)
    else
      // (partition key, id-hash salt) shuffle instead of the bare key:
      // a HOT cell/shard splits across ≤ `writeSalt` write tasks, so one
      // skewed key cannot serialize its whole directory through a single
      // task at scale, while files-per-directory stays bounded by the
      // salt (each (key, salt) slice lands in exactly one task). The salt
      // scales with the session's parallelism — a big cluster engages its
      // cores, local test runs keep ~4 files/cell.
      df.repartition(
        pc.map(col) :+ pmod(xxhash64(id), lit(writeSalt(df))): _*)
        .sortWithinPartitions(pc.map(col) ++ psort :+ id: _*)
  }

  /** Sort keys contributed by materialized geo indexes (nulls last keeps
    * the single-point span contiguous; sentinel `*` sorts ahead of the
    * base32 cells and stays a narrow span of its own). */
  private[storage] def geoCellSortCols(
      config: CollectionConfig, df: DataFrame): Seq[Column] =
    config.payloadTypes.toSeq.sortBy(_._1).collect {
      case (k, _: org.apache.spark.sql.types.StructType)
          if df.columns.contains(config.geoCellCol(k)) =>
        col(config.geoCellCol(k)).asc_nulls_last
    }

  /** Id-hash salt width for partitioned writes: ≥1, ~cores/8. Also the
    * bound on files per partition directory. */
  private[graft] def writeSalt(df: DataFrame): Int =
    math.max(1, df.sparkSession.sparkContext.defaultParallelism / 8)

  /** Physical partition columns of the stored table: the shard key (when
    * custom sharding is declared) then every IVF cell column — so a
    * shard_key selector AND a probe filter both prune parquet directories
    * before any row is read. */
  private[storage] def partitionCols(
      config: CollectionConfig, columns: Seq[String]): Seq[String] =
    (config.shardKeyCol.toSeq ++
      config.vectors.filter(_.ann.isDefined).map(vc => config.cellCol(vc.name)) ++
      config.tenantKeys.map(config.tenantBucketCol))
      .filter(columns.contains)

  /** Bucket count for tenant partition columns. Fixed like the IVF cell
    * count: bounded directory fan-out (B dirs × writeSalt files) while a
    * tenant-filtered scan still skips (B−1)/B of the bytes. The reference
    * needs no such cap because its defragmentation only REORDERS points
    * inside segments (`segment_builder.rs:279-340`); a directory layout
    * needs one. */
  private[graft] val TenantBuckets = 64

  /** The tenant-bucket expression for one declared tenant field, from the
    * payload JSON. MUST mirror [[tenantPrune]]'s literal side exactly:
    * `xxhash64(<scalar string form>) % B` for a scalar value; bucket −1
    * for a missing field OR any non-scalar shape (array/object). A point
    * whose tenant field is a LIST still matches `match any-of-list` in a
    * filter, so it cannot be pinned to a single value's bucket — parking
    * it in −1 and always reading −1 keeps pruning sound (`tenantPrune`). */
  private[storage] def tenantBucketExpr(
      config: CollectionConfig, key: String): Column = {
    val raw = get_json_object(col(config.payloadCol), "$." + key)
    when(raw.isNull || substring(raw, 1, 1).isin("[", "{"), lit(-1))
      .otherwise(pmod(xxhash64(raw), lit(TenantBuckets)).cast("int"))
  }

  /** (Re)materialize every declared tenant-bucket column from the CURRENT
    * payload — applied on every write so a payload mutation can never
    * leave a row in a stale bucket directory. */
  private[storage] def withTenantBuckets(
      config: CollectionConfig, df: DataFrame): DataFrame =
    config.tenantKeys.foldLeft(df) { (acc, k) =>
      val c = config.tenantBucketCol(k)
      acc.drop(c).withColumn(c, tenantBucketExpr(config, k))
    }

  /** Materialize the projection column(s) for one declared payload field
    * index. Scalar kinds: one typed `idx_<key>` cast. Geo (the `"geo"`
    * schema → StructType): a STRING→STRUCT cast is illegal in Spark, so
    * the struct parses via `from_json` — null for any value that is not a
    * single well-formed point, mirroring the reference's index-time skip
    * of non-geo-shaped values (`geo_index/mod.rs` `GeoPoint` extraction) —
    * PLUS the `geocell_<key>` geohash prune column: the point's cell for
    * single-point rows, the shared cell when an array value's points all
    * land in ONE cell, [[GeoIndex.MultiCell]] for spanning arrays and
    * other present-but-irregular shapes (the exact check owns them), null
    * when the field is absent or an array holds no well-formed point
    * (such a row can never match a geo condition, so the prune may drop
    * it) — PLUS the `geocells_<key>` per-point cell array for array
    * values (the reference posts EVERY point of an array value into its
    * geohash postings, `field_index/geo_index/mod.rs`), which the
    * compiler tests with a non-pushed exists-overlap conjunct so spanning
    * multi-point rows prune at execution even though their sentinel
    * passes the pushed half.
    *
    * The raw JSON extraction and the parsed struct land in INTERMEDIATE
    * columns (dropped at the end): both are referenced from several
    * CASE WHEN branches, where codegen subexpression elimination cannot
    * reach — inline, `from_json`/`get_json_object` re-evaluated per
    * branch per row (measured ~5× on the 500k-row index build); as
    * non-cheap multi-referenced aliases they keep their own ProjectExec
    * (CollapseProject declines to inline) and evaluate once per row. */
  private[storage] def applyIndexProjection(config: CollectionConfig,
      key: String, t: org.apache.spark.sql.types.DataType,
      df0: DataFrame): DataFrame =
    // a bracketed index key (`country.cities[].population`,
    // `test_nested_payload_indexing.py`) addresses MULTIPLE values per
    // point — no scalar projection column can represent it, so none is
    // materialized: filters/order-by on the path compile through the
    // JsonResolver wildcard traversal, and the declaration still lands in
    // `payloadTypes` (typed bound coercion, strict-mode indexed set,
    // fieldstats). Dotted unbracketed keys project normally (the idxCol
    // name sanitizes the dots).
    if (key.indexOf('[') >= 0) df0
    else t match {
      case st: org.apache.spark.sql.types.StructType =>
        val rawC = "_georaw_" + config.idxCol(key)
        val parsedC = "_geoparsed_" + config.idxCol(key)
        val cellsC = "_geocellsarr_" + config.idxCol(key)
        val raw = col(rawC)
        val parsed = col(parsedC)
        val cellsArr = col(cellsC)
        // an ARRAY value must NOT parse as its first element (from_json
        // with a struct schema takes the head of a JSON array): a
        // first-point cell would prune away rows whose OTHER points match
        val ok = substring(raw, 1, 1) === "{" && parsed.isNotNull &&
          parsed.getField("lon").isNotNull && parsed.getField("lat").isNotNull
        val isArr = substring(raw, 1, 1) === "["
        df0
          .withColumn(rawC, get_json_object(col(config.payloadCol), "$." + key))
          .withColumn(parsedC, from_json(raw, st))
          // per-point cells of an ARRAY value — the reference posts EVERY
          // point of an array value into its geohash postings
          // (`field_index/geo_index/mod.rs`); malformed elements drop
          // (the exact check skips them identically: cast-to-null)
          .withColumn(cellsC, when(isArr, filter(
            transform(
              from_json(raw, org.apache.spark.sql.types.ArrayType(st)),
              p => when(
                p.getField("lon").isNotNull && p.getField("lat").isNotNull,
                graft.index.GeoIndex.cellCol(p.getField("lon"),
                  p.getField("lat"), graft.index.GeoIndex.ColumnPrecision))),
            c => c.isNotNull)))
          .withColumn(config.idxCol(key), when(ok, parsed))
          // scalar cell column stays TOTAL over present values (the
          // pushable prune half): single point → its cell; array whose
          // points share ONE cell → that cell (prunes like a scalar);
          // spanning array → sentinel (the per-point conjunct below owns
          // it); array with NO well-formed point → null (can never match
          // the exact check, prune may drop); other present shapes →
          // sentinel (exact check owns them)
          .withColumn(config.geoCellCol(key),
            when(ok, graft.index.GeoIndex.cellCol(parsed.getField("lon"),
              parsed.getField("lat"), graft.index.GeoIndex.ColumnPrecision))
              .otherwise(when(isArr && cellsArr.isNotNull,
                when(size(cellsArr) === 0, lit(null).cast("string"))
                  .when(size(array_distinct(cellsArr)) === 1,
                    element_at(cellsArr, 1))
                  .otherwise(lit(graft.index.GeoIndex.MultiCell)))
                .otherwise(when(raw.isNotNull,
                  lit(graft.index.GeoIndex.MultiCell)))))
          .withColumn(config.geoCellsCol(key), when(isArr, cellsArr))
          .drop(rawC, parsedC, cellsC)
      case _ =>
        df0.withColumn(config.idxCol(key),
          get_json_object(col(config.payloadCol), "$." + key).cast(t))
    }

  /** (Re)materialize every payload-index projection column PRESENT in the
    * frame from the CURRENT payload — applied on every write, exactly like
    * [[withTenantBuckets]]: an upsert union NULL-fills the projections for
    * incoming rows and a payload mutation would otherwise leave them stale,
    * and the order-by/facet fast paths and the geo-cell prune read these
    * columns, so staleness is a correctness bug. Presence of `idx_<key>`
    * is the "index declared" marker; dropped indexes stay dropped.
    *
    * ORPHANED projections — an `idx_`/`geocell_` column whose key has no
    * declared type (a wire-created index whose config update was never
    * persisted, then a catalog reopen) — are DROPPED, not skipped: a
    * column this pass cannot recompute would otherwise go stale on the
    * first upsert while order-by/scroll fast paths still select it by
    * presence. Dropping falls readers back to the JSON path — always
    * correct. The wire route ([[graft.storage.Catalog.createFieldIndex]])
    * persists the declaration exactly so this never fires (the reference
    * persists the schema the same way, `payload_index_schema.rs`). */
  private[storage] def withIndexProjections(
      config: CollectionConfig, df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    val declared = config.payloadTypes.keySet.flatMap(k =>
      Set(config.idxCol(k), config.geoCellCol(k), config.geoCellsCol(k)))
    val orphans = df.columns.filter(c =>
      (c.startsWith("idx_") || c.startsWith("geocell_") ||
        c.startsWith("geocells_")) && !declared.contains(c))
    val base = orphans.foldLeft(df)(_ drop _)
    config.payloadTypes.toSeq.sortBy(_._1).foldLeft(base) { case (acc, (k, t)) =>
      if (!cols.contains(config.idxCol(k))) acc
      else applyIndexProjection(config, k, t, acc.drop(config.idxCol(k))
        .drop(config.geoCellCol(k)).drop(config.geoCellsCol(k)))
    }
  }

  /** Sort keys a principal declaration adds to the write layout: the
    * typed `idx_` projection when the field index is materialized, else
    * the typed JSON projection. Nulls last so the well-formed span stays
    * contiguous for min/max row-group stats. */
  private[storage] def principalSortCols(
      config: CollectionConfig, df: DataFrame): Seq[Column] =
    config.principalKeys.map { k =>
      val c =
        if (df.columns.contains(config.idxCol(k))) col(config.idxCol(k))
        else config.payloadTypes.get(k) match {
          case Some(t) =>
            get_json_object(col(config.payloadCol), "$." + k).cast(t)
          case None => get_json_object(col(config.payloadCol), "$." + k)
        }
      c.asc_nulls_last
    }

  /** Partition-directory prune for a tenant-declared field: every
    * top-level `must` match on the field (including must-side sub-filter
    * chains — a row satisfying the whole filter satisfies each `must`
    * conjunct) restricts the scan to the value buckets plus the −1
    * irregular bucket. The bucket literal is computed with the SAME
    * `xxhash64 % B` Column expression the write side uses
    * ([[tenantBucketExpr]]) — Catalyst constant-folds it, so it lands in
    * `PartitionFilters` and prunes directories before any row is read. */
  private[storage] def tenantPrune(
      config: CollectionConfig, columns: Seq[String],
      filter: graft.model.Filter): Option[Column] = {
    import graft.model.{MatchValue, MatchAny, SubFilter}
    def mustConds(f: graft.model.Filter): Seq[graft.model.Condition] =
      f.must.flatMap {
        case SubFilter(inner) => mustConds(inner)
        case c => Seq(c)
      }
    val preds = mustConds(filter).flatMap {
      case MatchValue(k, v: String) if config.tenantKeys.contains(k) &&
          columns.contains(config.tenantBucketCol(k)) =>
        Some(bucketIn(config, k, Seq(v)))
      case MatchAny(k, vs) if config.tenantKeys.contains(k) &&
          columns.contains(config.tenantBucketCol(k)) &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        Some(bucketIn(config, k, vs.map(_.asInstanceOf[String])))
      case _ => None
    }
    preds.reduceOption(_ && _)
  }

  private def bucketIn(
      config: CollectionConfig, key: String, values: Seq[String]): Column = {
    val bc = col(config.tenantBucketCol(key))
    values.foldLeft(bc === lit(-1)) { (acc, v) =>
      acc || bc === pmod(xxhash64(lit(v)), lit(TenantBuckets)).cast("int")
    }
  }

  // ------------------------------------------------------- quantization

  /** Fitted params for a declared [[graft.sources.QuantizationSpec]]. */
  sealed trait QuantParams
  final case class ScalarQP(min: Double, max: Double) extends QuantParams
  /** mean/std empty for the stats-free one_bit encoding. */
  final case class BinaryQP(mean: Seq[Double], std: Seq[Double]) extends QuantParams
  /** PQ codebooks (m × 2^nbits × subDim), trained at create/PATCH. */
  final case class PqQP(subDim: Int, codebooks: Seq[Seq[Seq[Double]]]) extends QuantParams {
    def toParams: graft.index.Quantization.PqParams =
      graft.index.Quantization.PqParams(subDim,
        codebooks.map(_.map(_.toArray).toArray).toArray)
  }

  private[storage] def fitQuantParams(
      config: CollectionConfig, points: DataFrame): Map[String, QuantParams] =
    config.vectors.flatMap { vc =>
      vc.quantization.map { spec =>
        require(vc.datatype == Float32,
          s"quantization on '${vc.name}' requires Float32 storage (got ${vc.datatype})")
        val c = config.vectorCol(vc.name)
        spec.kind match {
          case "scalar" =>
            val p = graft.index.Quantization.fitScalar(points, c, spec.quantile)
            vc.name -> (ScalarQP(p.min, p.max): QuantParams)
          case "binary" =>
            if (spec.encoding == "one_bit")
              vc.name -> (BinaryQP(Nil, Nil): QuantParams)
            else {
              require(vc.dim > 0, "multi-bit binary quantization needs a declared dim")
              val st = graft.index.Quantization.fitBinaryStats(points, c, vc.dim)
              vc.name -> (BinaryQP(st.mean.toSeq, st.std.toSeq): QuantParams)
            }
          case "product" =>
            require(vc.dim > 0, "product quantization needs a declared dim")
            val p = graft.index.Quantization.fitPq(points, c,
              m = spec.pqSubspaces(vc.dim))
            vc.name -> (PqQP(p.subDim,
              p.codebooks.map(_.map(_.toSeq).toSeq).toSeq): QuantParams)
          case other =>
            throw new IllegalArgumentException(s"unsupported quantization kind '$other'")
        }
      }
    }.toMap

  private[storage] def quantEncodeExpr(
      vc: graft.sources.VectorConfig, qp: QuantParams, v: Column): Column = {
    import graft.index.Quantization
    (vc.quantization.get.kind, qp) match {
      case ("scalar", ScalarQP(mn, mx)) =>
        Quantization.encodeScalar(v, Quantization.ScalarParams(mn, mx))
      case ("binary", BinaryQP(mean, std)) => vc.quantization.get.encoding match {
        case "one_bit" => Quantization.encodeBinary(v, vc.dim)
        case "two_bits" =>
          Quantization.encodeBinary2(v, Quantization.BinaryStats(mean.toArray, std.toArray))
        case "one_and_half_bits" =>
          Quantization.encodeBinary15(v, Quantization.BinaryStats(mean.toArray, std.toArray))
        case other =>
          throw new IllegalArgumentException(s"unknown binary encoding '$other'")
      }
      case ("product", pq: PqQP) =>
        Quantization.encodePq(v, pq.toParams)
      case (k, p) =>
        throw new IllegalArgumentException(s"quantization kind/params mismatch: $k / $p")
    }
  }

  /** (approx score column, largerBetter) on the quantized column. */
  private[storage] def quantApproxScore(
      spec: graft.sources.QuantizationSpec, qp: QuantParams,
      qcol: Column, query: Seq[Double], metric: graft.model.Metric): (Column, Boolean) = {
    import graft.index.Quantization
    (spec.kind, qp) match {
      case ("scalar", ScalarQP(mn, mx)) =>
        (Quantization.scalarScore(metric, qcol, query,
          Quantization.ScalarParams(mn, mx)), metric.largerBetter)
      case ("binary", BinaryQP(mean, std)) =>
        val words = spec.encoding match {
          case "one_bit" => Quantization.binaryQueryLiteral(query)
          case "two_bits" => Quantization.binary2QueryLiteral(query,
            Quantization.BinaryStats(mean.toArray, std.toArray))
          case "one_and_half_bits" => Quantization.binary15QueryLiteral(query,
            Quantization.BinaryStats(mean.toArray, std.toArray))
          case other =>
            throw new IllegalArgumentException(s"unknown binary encoding '$other'")
        }
        (Quantization.hammingScore(qcol, words).cast("double"), false)
      case ("product", pq: PqQP) =>
        // ADC partials are dot (larger-better) or −distance for
        // Euclid/Manhattan (`PqParams.lut`) — larger-better either way
        (Quantization.pqAdcScore(qcol, query, metric, pq.toParams), true)
      case (k, p) =>
        throw new IllegalArgumentException(s"quantization kind/params mismatch: $k / $p")
    }
  }

  /** Whether a batch of update ops can change any sparse vector's document
    * frequencies (see [[Collection.applyBatch]]): upserts and point
    * deletes can; payload mutations never touch a sparse cell, and
    * vector set/delete ops only matter when they name a SPARSE space. */
  private[storage] def opsChangeSparseDfs(
      config: graft.sources.CollectionConfig, ops: Seq[UpdateOp]): Boolean =
    config.sparse.nonEmpty && ops.exists {
      case _: UpdateOp.Upsert | _: UpdateOp.UpsertConditional |
           _: UpdateOp.DeleteIds | _: UpdateOp.DeleteByFilter => true
      case UpdateOp.UpdateVector(name, _, _) => config.sparse.exists(_.name == name)
      case UpdateOp.DeleteVector(name, _) => config.sparse.exists(_.name == name)
      case _ => false
    }

  /** Sidecar entry for one sparse name: flat (N, per-dim df) on an
    * unsharded collection; per-shard-key partials on a custom-sharded one
    * so scoped writes refresh only their touched tenants. Dims are LONG —
    * the reference's dim space is the full u32 (`sparse_vector.rs:17-22`),
    * which Int cannot carry. */
  sealed trait IdfEntry
  final case class IdfFlat(n: Long, dfs: Map[Long, Long]) extends IdfEntry
  final case class IdfSharded(parts: Map[String, (Long, Map[Long, Long])])
      extends IdfEntry

  /** Collapse an entry to the collection-wide (N, df) view a query needs:
    * shard-key partials sum driver-side (each point lives in exactly one
    * shard, so the partial counts are disjoint). */
  private[storage] def mergeIdfEntry(e: IdfEntry): (Long, Map[Long, Long]) = e match {
    case IdfFlat(n, dfs) => (n, dfs)
    case IdfSharded(parts) =>
      val n = parts.valuesIterator.map(_._1).sum
      val dfs = parts.valuesIterator.map(_._2)
        .foldLeft(Map.empty[Long, Long]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (d, c)) => a.updated(d, a.getOrElse(d, 0L) + c) }
        }
      (n, dfs)
  }

  private[storage] def sparseIdfJson(m: Map[String, IdfEntry]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def statObj(n: Long, dfs: Map[Long, Long]): JObject = JObject(
      "n" -> JLong(n),
      "df" -> JObject(dfs.toSeq.sortBy(_._1)
        .map { case (dim, c) => dim.toString -> (JLong(c): JValue) }.toList))
    val fields = m.toSeq.sortBy(_._1).map {
      case (name, IdfFlat(n, dfs)) => name -> (statObj(n, dfs): JValue)
      case (name, IdfSharded(parts)) =>
        name -> (JObject("sharded" -> JObject(parts.toSeq.sortBy(_._1)
          .map { case (k, (n, dfs)) => k -> (statObj(n, dfs): JValue) }.toList)): JValue)
    }
    JsonMethods.compact(JsonMethods.render(JObject(fields.toList)))
  }

  private[storage] def parseSparseIdfJson(s: String): Map[String, IdfEntry] = {
    import org.json4s._
    def long(v: JValue): Long = v match {
      case JInt(x) => x.toLong
      case JLong(x) => x
      case other => throw new IllegalArgumentException(s"bad idf count: $other")
    }
    def stat(o: JValue): (Long, Map[Long, Long]) = {
      val dfs = (o \ "df") match {
        case JObject(dims) => dims.map { case (d, c) => d.toLong -> long(c) }.toMap
        case _ => Map.empty[Long, Long]
      }
      (long(o \ "n"), dfs)
    }
    org.json4s.jackson.JsonMethods.parse(s) match {
      case JObject(fields) => fields.map {
        case (name, o: JObject) =>
          (o \ "sharded") match {
            case JObject(parts) =>
              name -> (IdfSharded(parts.map { case (k, p) => k -> stat(p) }.toMap): IdfEntry)
            case _ => name -> (IdfFlat(stat(o)._1, stat(o)._2): IdfEntry)
          }
        case (name, other) =>
          throw new IllegalArgumentException(s"bad idf entry $name: $other")
      }.toMap
      case _ => Map.empty
    }
  }

  /** Value-map cap and histogram width for the field-statistics sidecar
    * ([[graft.filters.Cardinality]]): the snapshot stays KB-scale at any
    * table size. */
  private[graft] val StatsTopK = 4096
  private[graft] val StatsBuckets = 64

  private[storage] def fieldStatsJson(
      s: graft.filters.Cardinality.FieldStatsSnapshot): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def lmap(m: Map[String, Long]): JObject =
      JObject(m.toSeq.sortBy(_._1).map { case (k, v) => k -> (JLong(v): JValue) }.toList)
    val values = JObject(s.values.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (JObject(
        "points" -> JLong(v.indexedPoints), "vals" -> JLong(v.valuesCount),
        "uniq" -> JLong(v.uniqueValues), "counts" -> lmap(v.counts),
        "tail_uniq" -> JLong(v.tailUnique),
        "tail_vals" -> JLong(v.tailValues)): JValue)
    }.toList)
    val hist = JObject(s.hist.toSeq.sortBy(_._1).map { case (k, h) =>
      k -> (JObject(
        "points" -> JLong(h.indexedPoints), "vals" -> JLong(h.totalValues),
        "max_vpp" -> JLong(h.maxValuesPerPoint),
        "lo" -> JDouble(h.lo), "hi" -> JDouble(h.hi),
        "buckets" -> JArray(h.buckets.toList.map(JLong(_): JValue))): JValue)
    }.toList)
    val nulls = JObject(s.nulls.toSeq.sortBy(_._1).map { case (k, n) =>
      k -> (JObject("null" -> JLong(n.isNullCount),
        "empty" -> JLong(n.isEmptyCount)): JValue)
    }.toList)
    val geo = JObject(s.geo.toSeq.sortBy(_._1).map { case (k, g) =>
      k -> (JObject("multi" -> JLong(g.multiPoints),
        "cells" -> lmap(g.cellCounts)): JValue)
    }.toList)
    JsonMethods.compact(JsonMethods.render(JObject(
      "total" -> JLong(s.total),
      "vectors" -> lmap(s.vectorCounts),
      "values" -> values,
      "hist" -> hist,
      "nulls" -> nulls,
      "geo" -> geo,
      "string_typed" -> JArray(s.stringTyped.toList.sorted.map(JString(_): JValue)),
      "bool_typed" -> JArray(s.boolTyped.toList.sorted.map(JString(_): JValue)),
      "int_typed" -> JArray(s.intTyped.toList.sorted.map(JString(_): JValue)),
      "date_typed" -> JArray(s.dateTyped.toList.sorted.map(JString(_): JValue)))))
  }

  private[storage] def parseFieldStatsJson(
      str: String): graft.filters.Cardinality.FieldStatsSnapshot = {
    import graft.filters.Cardinality._
    import org.json4s._
    def long(v: JValue): Long = v match {
      case JInt(x) => x.toLong
      case JLong(x) => x
      case other => throw new IllegalArgumentException(s"bad stats count: $other")
    }
    def dbl(v: JValue): Double = v match {
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble
      case other => throw new IllegalArgumentException(s"bad stats number: $other")
    }
    def lmap(v: JValue): Map[String, Long] = v match {
      case JObject(fs) => fs.map { case (k, c) => k -> long(c) }.toMap
      case _ => Map.empty
    }
    def strs(v: JValue): Set[String] = v match {
      case JArray(xs) => xs.collect { case JString(x) => x }.toSet
      case _ => Set.empty
    }
    val o = org.json4s.jackson.JsonMethods.parse(str)
    val values = (o \ "values") match {
      case JObject(fs) => fs.map { case (k, jv) =>
        k -> ValueStats(long(jv \ "points"), long(jv \ "vals"),
          long(jv \ "uniq"), lmap(jv \ "counts"),
          long(jv \ "tail_uniq"), long(jv \ "tail_vals"))
      }.toMap
      case _ => Map.empty[String, ValueStats]
    }
    val hist = (o \ "hist") match {
      case JObject(fs) => fs.map { case (k, jv) =>
        val buckets = (jv \ "buckets") match {
          case JArray(xs) => xs.map(long)
          case _ => Nil
        }
        k -> HistStats(long(jv \ "points"), long(jv \ "vals"),
          long(jv \ "max_vpp"), dbl(jv \ "lo"), dbl(jv \ "hi"), buckets)
      }.toMap
      case _ => Map.empty[String, HistStats]
    }
    val nulls = (o \ "nulls") match {
      case JObject(fs) => fs.map { case (k, jv) =>
        k -> NullStats(long(jv \ "null"), long(jv \ "empty"))
      }.toMap
      case _ => Map.empty[String, NullStats]
    }
    val geo = (o \ "geo") match {
      case JObject(fs) => fs.map { case (k, jv) =>
        k -> GeoStats(long(jv \ "multi"), lmap(jv \ "cells"))
      }.toMap
      case _ => Map.empty[String, GeoStats]
    }
    FieldStatsSnapshot(long(o \ "total"), lmap(o \ "vectors"), values, hist,
      nulls, strs(o \ "string_typed"), strs(o \ "bool_typed"),
      strs(o \ "int_typed"), strs(o \ "date_typed"), geo)
  }

  private[storage] def quantJson(m: Map[String, QuantParams]): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fields = m.toSeq.sortBy(_._1).map {
      case (n, ScalarQP(mn, mx)) =>
        n -> (JObject("kind" -> JString("scalar"),
          "min" -> JDouble(mn), "max" -> JDouble(mx)): JValue)
      case (n, BinaryQP(mean, std)) =>
        n -> (JObject("kind" -> JString("binary"),
          "mean" -> JArray(mean.toList.map(JDouble(_))),
          "std" -> JArray(std.toList.map(JDouble(_)))): JValue)
      case (n, PqQP(subDim, books)) =>
        n -> (JObject("kind" -> JString("product"),
          "sub_dim" -> JInt(subDim),
          "codebooks" -> JArray(books.toList.map(b =>
            JArray(b.toList.map(cent =>
              JArray(cent.toList.map(JDouble(_)))))))): JValue)
    }
    JsonMethods.compact(JsonMethods.render(JObject(fields.toList)))
  }

  private[storage] def parseQuantJson(s: String): Map[String, QuantParams] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(s) match {
      case JObject(fields) => fields.map {
        case (n, o: JObject) => (o \ "kind") match {
          case JString("scalar") =>
            def d(k: String) = (o \ k) match {
              case JDouble(x) => x
              case JInt(x) => x.toDouble
              case JLong(x) => x.toDouble
              case other => throw new IllegalArgumentException(s"bad $k: $other")
            }
            n -> (ScalarQP(d("min"), d("max")): QuantParams)
          case JString("binary") =>
            def ds(k: String) = (o \ k) match {
              case JArray(xs) => xs.map {
                case JDouble(x) => x
                case JInt(x) => x.toDouble
                case JLong(x) => x.toDouble
                case other => throw new IllegalArgumentException(s"bad $k elem: $other")
              }
              case _ => Nil
            }
            n -> (BinaryQP(ds("mean"), ds("std")): QuantParams)
          case JString("product") =>
            def dd(v: JValue): Double = v match {
              case JDouble(x) => x
              case JInt(x) => x.toDouble
              case JLong(x) => x.toDouble
              case other => throw new IllegalArgumentException(s"bad codebook value: $other")
            }
            val subDim = (o \ "sub_dim") match {
              case JInt(x) => x.toInt
              case JLong(x) => x.toInt
              case other => throw new IllegalArgumentException(s"bad sub_dim: $other")
            }
            val books = (o \ "codebooks") match {
              case JArray(bs) => bs.map {
                case JArray(cs) => cs.map {
                  case JArray(vs) => vs.map(dd)
                  case other => throw new IllegalArgumentException(s"bad centroid: $other")
                }
                case other => throw new IllegalArgumentException(s"bad codebook: $other")
              }
              case other => throw new IllegalArgumentException(s"bad codebooks: $other")
            }
            n -> (PqQP(subDim, books): QuantParams)
          case other =>
            throw new IllegalArgumentException(s"unknown quant kind $other")
        }
        case (n, other) =>
          throw new IllegalArgumentException(s"bad quant entry $n: $other")
      }.toMap
      case _ => Map.empty
    }
  }

  /** Ingest-time validation (the reference rejects malformed points at the
    * request: dimension `test_vector_dimension_validation.py`, sparse
    * invariants `sparse_vector.rs:24-60` / `test_sparse_vector_validations
    * .py`). Checks ride INSIDE the write job as raise_error expressions —
    * one comparison per row, no extra pass. */
  private[storage] def validated(config: CollectionConfig, df: DataFrame): DataFrame = {
    val afterDense = config.vectors.filter(_.dim > 0).foldLeft(df) { (acc, vc) =>
      val c = config.vectorCol(vc.name)
      if (!acc.columns.contains(c)) acc
      else acc.schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) =>
          acc.withColumn(c,
            when(col(c).isNotNull && size(col(c)) =!= vc.dim,
              raise_error(concat(
                lit(s"vector '${vc.name}' must have dim ${vc.dim}, got "),
                size(col(c)).cast("string"))))
              .otherwise(col(c)))
        case _ => acc // multivector / pre-encoded forms validate elsewhere
      }
    }
    config.sparse.foldLeft(afterDense) { (acc, sc) =>
      val c = config.sparseCol(sc.name)
      if (!acc.columns.contains(c)) acc
      else {
        val idx = col(s"$c.indices"); val vals = col(s"$c.values")
        val n1 = greatest(size(idx) - 1, lit(0))
        val sorted = forall(
          zip_with(slice(idx, lit(1), n1), slice(idx, lit(2), n1),
            (a, b) => a < b),
          x => x)
        acc.withColumn(c,
          when(col(c).isNotNull && (size(idx) =!= size(vals) || !sorted),
            raise_error(lit(s"sparse vector '${sc.name}' must have equally " +
              "sized, strictly increasing indices and values")))
            .otherwise(col(c)))
      }
    }
  }

  private[storage] def encodeVectors(config: CollectionConfig, df0: DataFrame): DataFrame = {
    val df = validated(config, df0)
    config.vectors.filter(_.datatype != Float32).foldLeft(df) { (acc, vc) =>
      val c = config.vectorCol(vc.name)
      if (!acc.columns.contains(c)) acc
      else acc.schema(c).dataType match {
        // single vector still in user width → encode
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) =>
          acc.withColumn(c, VectorCodec.encode(vc.datatype, col(c)))
        // multivector (ragged token list) → encode each token vector
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _), _) =>
          acc.withColumn(c, transform(col(c), v => VectorCodec.encode(vc.datatype, v)))
        case _ => acc // already encoded
      }
    }
  }
}
