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
    * on every open of an unchanged table. Every commit moves the path's
    * version ([[ParquetMeta.replace]]); a directory replaced outside
    * [[ParquetMeta]] is caught by its modification time. */
  def read(): DataFrame = ParquetMeta.read(spark, path)

  /** The driver-side JSON artifacts beside the table, one [[Sidecar]]
    * each. IDF and field statistics are derived from the rows and change
    * only through [[dataChanged]]; quantization params, shard keys and
    * metadata change only through their own writers. */
  private[graft] val idfSidecar =
    new Sidecar[Map[String, Collection.IdfEntry]](spark, path, "sparse_idf")
  private[graft] val statsSidecar =
    new Sidecar[graft.filters.Cardinality.FieldStatsSnapshot](spark, path, "fieldstats")
  private[graft] val quantSidecar = new Sidecar[Map[String, Collection.QuantParams]](
    spark, path, "quant", Collection.QuantFormats)
  private[graft] val shardKeySidecar =
    new Sidecar[org.json4s.JValue](spark, path, "shardkeys")
  private[graft] val metadataSidecar =
    new Sidecar[Map[String, String]](spark, path, "metadata")

  private[graft] def sparseIdfPath = idfSidecar.path
  private[graft] def fieldStatsPath = statsSidecar.path

  /** Read with every declared vector decoded back to the user-visible
    * `array<float>` — what retrieval APIs return regardless of the storage
    * element type (the reference decodes at the API boundary too;
    * `VectorDataConfig.datatype` is storage-only, `types.rs:2153`). */
  def readDecoded(): DataFrame =
    config.vectors.filter(_.datatype != Float32).foldLeft(read()) { (df, vc) =>
      val c = config.vectorCol(vc.name)
      if (!df.columns.contains(c)) df
      else df.withColumn(c, VectorCodec.decoded(vc.datatype, vc.multivector, col(c)))
    }

  /** Encode incoming user vectors (`array<float|double>`) to each declared
    * storage element type, then (re)attach the quantized columns from the
    * persisted params. Type-gated, so already-encoded columns (reads of
    * the stored table) pass through untouched — encoding is idempotent. */
  private def encodeVectors(df: DataFrame): DataFrame =
    Collection.withIndexColumns(config, Collection.encodeVectors(config, df),
      quantParams.get, vc => ivfModel(vc.name))

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
          override def rawPayload(key: String) =
            if (key == sk) None else base.rawPayload(key)
        }
    }
  }

  private def pred(df: DataFrame, filter: Filter): Column =
    new FilterCompiler(resolver(df)).compile(filter)

  /** Table rewrites performed by this instance — the IO-count contract:
    * `applyBatch(Seq(op1..opN))` must bump this by exactly 1, not N
    * (asserted in StoreSpec). */
  private[graft] var rewriteCount: Long = 0L

  /** Spark type of the stored id column, from the schema [[ParquetMeta]]
    * memoizes (no job while the table is unchanged). An upsert can WIDEN
    * the column to string (mixed NumId+Uuid collections); any instance's
    * commit moves the memo's version, so every instance over the path
    * sees the widened type. */
  private[graft] def idDataType: Option[org.apache.spark.sql.types.DataType] =
    read().schema.fields.find(_.name == config.idCol).map(_.dataType)

  /** Commit `df0` as the table's new contents: the one write path of every
    * collection mutation (update batches, index and layout rewrites,
    * `compact`, config PATCHes and `create`). Tenant buckets and
    * payload-index projections are recomputed, the rows are laid out by
    * [[Collection.layout]] and written to a staging directory, and
    * [[ParquetMeta.replace]] swaps them in (Spark cannot overwrite a path
    * still lazily read in the same plan; on a lakehouse table this is
    * simply MERGE/DELETE) and invalidates the memoized listing. The
    * derived sidecars then change through [[dataChanged]].
    *
    * `keys`: when non-empty, `df0` holds exactly the rows of these shard
    * keys, and the swap replaces only their partition directories (a key
    * whose rows were all deleted simply loses its directory); the rest of
    * the table is neither read nor rewritten, and the sidecars change for
    * these keys only.
    *
    * `balance`: the commit brings in rows from outside the table (an
    * upsert), so on an un-partitioned table its rows are hash-distributed
    * on the id into one partition per core and the commit writes one
    * balanced file per core. Without it the write keeps the fold's own
    * partitioning, and after a few upserts that is one large file plus the
    * batches' small ones: Spark's split planner (`openCostInBytes`, 4 MB)
    * packs those into ONE scan task, so every later fold and read ran on
    * one core. Commits that only rewrite the table's own rows (payload and
    * delete batches, index builds, `compact`) skip the shuffle: they keep
    * the file set the last balanced commit left, and a shuffle of a
    * table-sized rewrite costs more than it saves.
    *
    * `sparseDfChange`: whether the batch can have changed any sparse
    * vector's document frequencies — payload-only mutations, dense-vector
    * ops, compaction and index/layout rewrites cannot, so they keep the
    * IDF sidecar intact (zero invalidation, zero recompute). Defaults to
    * the safe answer. */
  private def commit(df0: DataFrame, keys: Seq[Any] = Nil,
      targetFiles: Option[Int] = None, sparseDfChange: Boolean = true,
      balance: Boolean = false): Unit = {
    rewriteCount += 1
    val tmp = path + "__tmp"
    // tenant buckets AND payload-index projections recompute from the
    // CURRENT payload on every write — a payload mutation moves the row to
    // its new bucket directory / refreshes its idx_/geocell_ values, and
    // upserted rows get theirs computed instead of union-NULL-filled
    val df = Collection.withIndexProjections(config,
      Collection.withTenantBuckets(config, df0))
    val pc = Collection.partitionCols(config, df.columns)
    require(keys.isEmpty || pc.headOption.exists(config.shardKeyCol.contains),
      "a scoped commit needs the shard key as the leading partition column")
    // partitioned tables hash-repartition on the partition columns first:
    // one task owns each key, so every partition directory gets O(1) files
    // instead of one per write task (64 cells × 32 tasks = 2048 tiny files
    // otherwise — the file-listing overhead was measured to swamp the probe
    // pruning win). Either way the rows land id-SORTED within each write
    // task, so parquet min/max row-group stats make retrieve-by-id and
    // scroll-offset scans prune to O(k) row groups instead of the full
    // table — the batch analog of the reference's O(1) id tracker.
    val w = Collection.layout(config, df, targetFiles, balance)
      .write.mode(SaveMode.Overwrite)
    (if (pc.isEmpty) w else w.partitionBy(pc: _*)).parquet(tmp)
    ParquetMeta.replace(spark, path, Some(tmp),
      if (keys.isEmpty) None else Some(keyDirs(keys)))
    dataChanged(sparseDfChange, shards = keys)
  }

  /** Selects the partition directories of the shard keys `keys` by name:
    * `<shard key>=<escaped value>`, matched on the unescaped tail so simple
    * and escaped names both resolve. */
  private def keyDirs(keys: Seq[Any]): String => Boolean = {
    val sk = config.shardKeyCol.get
    val wanted = keys.map(_.toString).toSet
    n => n.startsWith(s"$sk=") && wanted(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(s"$sk=")))
  }

  /** Insert-or-replace whole points: last write wins per id (qdrant upsert,
    * `lib/shard/src/operations/point_ops.rs:111-126`).
    *
    * Plan shape (the 100 TB consideration): the existing table drops the
    * incoming ids and is unioned with the batch. A driver-side batch (every
    * wire upsert) drops them with an `id NOT IN (...)` scan filter; any
    * other batch anti-joins the table against its ids, broadcast when the
    * batch is small. Neither shuffles the table. The full-table
    * `Window.partitionBy(id)` alternative is correct but pays a
    * whole-table shuffle per batch. On a lakehouse table this is MERGE INTO. */
  def upsert(points: DataFrame): Unit = applyBatch(Seq(UpdateOp.Upsert(points)))

  /** Upsert with an admission mode (`update_mode`, `point_ops.rs:34-42`):
    * `insert_only` skips ids that already exist, `update_only` skips ids
    * that don't. */
  def upsert(points: DataFrame, mode: UpdateMode): Unit =
    applyBatch(Seq(UpdateOp.Upsert(points, mode)))

  /** The merged-table plan `upsert` writes (exposed for plan-shape tests). */
  private[graft] def upsertPlan(points: DataFrame): DataFrame =
    applyOp(new FoldPins)(read(), UpdateOp.Upsert(points))

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
    * application — but as one Spark job, not N.
    *
    * `keys` restricts the batch to a set of shard keys when the caller can
    * prove every op only touches rows under them (the wire bridge can — a
    * custom-sharded collection rejects keyless updates, and upsert targets
    * + the moved-away homes of upserted ids come from its existence
    * probe): the fold reads ONLY those partition directories
    * (partition-pruned scan) and the commit swaps ONLY them. A per-tenant
    * update on a 100 TB table then costs one tenant's rewrite, not the
    * table's — the batch analog of the reference routing updates to the
    * selected key's shards (`toc/point_ops.rs:489-521`). Ignored when the
    * collection isn't custom-sharded. */
  def applyBatch(ops: Seq[UpdateOp], keys: Seq[Any] = Nil): Unit = {
    val scope = if (config.shardKeyCol.isDefined) keys else Nil
    val cur =
      if (scope.isEmpty) read()
      else read().filter(col(config.shardKeyCol.get).isin(scope: _*))
    val pins = new FoldPins
    try commit(ops.foldLeft(cur)(applyOp(pins)), scope,
      sparseDfChange = Collection.opsChangeSparseDfs(config, ops),
      balance = ops.exists {
        case _: UpdateOp.Upsert | _: UpdateOp.UpsertConditional => true
        case _ => false
      })
    finally releaseFoldPins(pins)
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
    val dupFree: Boolean = localIds(points) match {
      case Some(ids) => ids.distinct.length == ids.length
      case None =>
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
    val matchCol = filter.map(f => coalesce(pred(cur, f), lit(false)))
      .getOrElse(lit(false))
    val probed = probeIds(cur,
      localIds(incoming).map(_.distinct).filter(_.nonEmpty), batchIds)
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

  /** The id column of `df` in row order, when it is known driver-side:
    * `df`'s ids optimize to a LocalRelation (every wire batch does). None
    * for a batch whose ids exist only at execution. */
  private def localIds(df: DataFrame): Option[Seq[Any]] =
    df.select(col(config.idCol)).queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val dt = lr.output.head.dataType
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(dt)
        Some(lr.data.map(r => conv(r.get(0, dt))))
      case _ => None
    }

  /** Rows of `df` whose id is among the probed ids. Ids known driver-side,
    * up to [[Collection.InProbeMaxIds]] of them, compile to a
    * parquet-pushable `id IN (...)` scan predicate. More ids (the IN
    * expression's own planning cost would dominate) or ids known only at
    * execution stream `df` once against the broadcast `idFrame` (one
    * `idCol` column) in a left-semi join. */
  private def probeIds(df: DataFrame, ids: Option[Seq[Any]],
      idFrame: => DataFrame): DataFrame = ids match {
    case Some(xs) if xs.length <= Collection.InProbeMaxIds =>
      df.filter(col(config.idCol).isin(xs: _*))
    case _ => df.join(broadcast(idFrame), Seq(config.idCol), "left_semi")
  }

  private def mergeUpsert(pins: FoldPins, cur: DataFrame, points: DataFrame,
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
    // checkpointed op in its own `pins` and applyBatch frees the blocks
    // right after the single commit instead of waiting for GC.
    val incoming =
      if (mode == UpdateMode.Upsert && filter.isEmpty) incoming0
      else {
        val pinned = incoming0.localCheckpoint()
        pins += pinned
        pinned
      }
    // A driver-side batch drops the replaced rows with an `id NOT IN (...)`
    // filter: the left-anti join's broadcast cost every wire upsert its own
    // job. Other batches keep the anti-join.
    val kept = localIds(incoming) match {
      case Some(ids) if ids.length <= Collection.InProbeMaxIds =>
        curW.filter(!col(config.idCol).isin(ids.distinct: _*))
      case _ =>
        curW.join(incoming.select(col(config.idCol)), Seq(config.idCol), "left_anti")
    }
    kept.unionByName(incoming, allowMissingColumns = true)
  }

  /** Checkpointed per-op batches of ONE fold, created by the call that
    * commits it: a second fold on this instance keeps its own, so it can
    * never free blocks the first fold still reads. */
  private type FoldPins = scala.collection.mutable.ArrayBuffer[DataFrame]

  /** Free the blocks `mergeUpsert` pinned for the batch that just
    * committed. Dataset.unpersist does not reach a localCheckpoint's RDD,
    * so unpersist the LogicalRDD's backing RDD directly. Safe: after the
    * commit nothing re-executes the fold's intermediate plans. */
  private def releaseFoldPins(pins: FoldPins): Unit =
    pins.foreach { df =>
      try df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
      catch { case scala.util.control.NonFatal(_) => () }
    }

  private def applyOp(pins: FoldPins)(cur: DataFrame, op: UpdateOp): DataFrame = op match {
    case UpdateOp.Upsert(points, mode) =>
      mergeUpsert(pins, cur, points, mode, None)
    case UpdateOp.UpsertConditional(points, filter, mode) =>
      mergeUpsert(pins, cur, points, mode, Some(filter))
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
    * exact rescore of those candidates on the original vectors. Runs as a
    * dense Nearest through the query executor, the knobs being its wire
    * `SearchParams` ([[withIndexes]]). */
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
      /** `SearchParams.exact = true`: bypass the declared ANN index and
        * quantization — full exact scan. */
      exact: Boolean = false,
      /** Per-request nprobe override for a declared [[graft.sources.IvfSpec]]
        * (`SearchParams.hnsw_ef` — the recall knob). */
      nprobe: Option[Int] = None): DataFrame = {
    import graft.ops.PointQuery
    val vc = config.vectorConfig(vectorName)
    executeDag(PointQuery.Query(PointQuery.Nearest(
      PointQuery.Space(config.vectorCol(vectorName), vc.metric, vc.datatype),
      PointQuery.DenseVector(query)),
      filter = filter, limit = k, offset = offset, scoreThreshold = scoreThreshold,
      params = Some(PointQuery.SearchParams(exact = exact, quantIgnore = !quantized,
        rescore = rescore, oversampling = Some(oversampling), hnswEf = nprobe))))
  }

  /** The IVF cells a nearest search probes on a declared-IVF vector: the
    * query's `nprobe` nearest centroids, `nprobe` being the request's
    * `hnsw_ef` or else the declared default, capped at the cell count.
    * None (scan every cell) for `exact`, an undeclared index or an
    * untrained model. */
  private def probedCells(vectorName: String, query: Seq[Double],
      exact: Boolean, nprobe: Option[Int]): Option[Seq[Int]] =
    (if (exact) None else config.vectorConfig(vectorName).ann).flatMap { spec =>
      ivfModel(vectorName).map(m =>
        m.probe(query, math.min(nprobe.getOrElse(spec.nprobe), m.k)))
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
    * count). Runs as a sparse Nearest through the query executor. */
  def knnSparse(
      name: String,
      qIndices: Seq[Long],
      qValues: Seq[Double],
      filter: Option[Filter] = None,
      k: Int = 10,
      offset: Int = 0,
      scoreThreshold: Option[Double] = None): DataFrame = {
    if (!config.sparse.exists(_.name == name))
      throw new IllegalArgumentException(s"unknown sparse vector '$name'")
    // index order is the caller's choice (the reference sorts internally,
    // `sort_by_indices`, `data_types/vectors.rs:76`); the merge-intersect
    // kernel requires ascending — canonicalize here so direct API callers
    // can't silently mis-score. Uniqueness is a hard invariant
    // (`validate_sparse_vector_impl`).
    require(qIndices.length == qValues.length,
      "sparse values must be the same length as indices")
    require(qIndices.distinct.length == qIndices.length,
      "sparse indices must be unique")
    val sorted = qIndices.zip(qValues).sortBy(_._1)
    executeDag(graft.ops.PointQuery.Query(graft.ops.PointQuery.Nearest(spaceOf(name),
      graft.ops.PointQuery.SparseVector(sorted.map(_._1), sorted.map(_._2))),
      filter = filter, limit = k, offset = offset, scoreThreshold = scoreThreshold))
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
    val space = q.scoring match {
      case s: graft.ops.PointQuery.VectorScoring => Some(s.space)
      case _ => None
    }
    if (q.params.exists(_.idf.isDefined) && !space.exists(_.modifier.contains("idf")))
      throw new IllegalArgumentException(
        "search param `idf` requires a sparse vector with the `idf` " +
          "modifier, which vector \"" + space.fold("")(s => vectorName(s.col)) +
          "\" is not")
    q.prefetches.foreach(verifyIdfParams)
  }

  /** The declared name of a dense or sparse vector column. */
  private def vectorName(c: String): String =
    (config.vectors.map(_.name).filter(config.vectorCol(_) == c) ++
      config.sparse.map(_.name).filter(config.sparseCol(_) == c)).headOption.getOrElse("")

  /** Config-routed multivector nearest-k: MaxSim (the reference's only
    * multivector comparator, `types.rs:2080-2082`) over a stored ragged
    * token list, with the declared element type decoded inside the fused
    * per-token kernels ([[VectorCodec.maxSimExpr]]). Runs as a multivector
    * Nearest through the query executor. */
  def knnMultivec(
      vectorName: String,
      queryVecs: Seq[Seq[Double]],
      filter: Option[Filter] = None,
      k: Int = 10): DataFrame = {
    require(config.vectorConfig(vectorName).multivector,
      s"vector '$vectorName' is not declared multivector")
    executeDag(graft.ops.PointQuery.Query(graft.ops.PointQuery.Nearest(
      spaceOf(vectorName), graft.ops.PointQuery.MultiVector(queryVecs)),
      filter = filter, limit = k))
  }

  /** Config-routed batch nearest-k: one top-k per row of `queries`
    * (queryIdCol + queryVecCol as `array<float|double>`). The query side is
    * broadcast and — for a Uint8 collection — cast through the same u8
    * element conversion IN the plan, so the big side streams the narrow stored column
    * once; the reduction is map-side bounded ([[graft.ops.Search.batchRank]]
    * — ≤ k rows per mapper per query cross the wire). Float16/Uint8
    * currently support the Dot metric in batch form (the reference's
    * dominant batch-scoring path).
    *
    * `filter` applies to every query. `cells` prunes a declared-IVF
    * vector: it names the `queries` column holding each query's probed
    * cells (`array<int>`) and gives the union of those cells. The scan
    * reads only the union (a `PartitionFilters` entry), and each query is
    * scored only over its own cells, so it ranks exactly the points
    * [[knn]] would for it alone. */
  def knnBatch(
      vectorName: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int = 10,
      filter: Option[Filter] = None,
      cells: Option[(String, Seq[Int])] = None): DataFrame = {
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
    val df = read()
    val guard = stored.isNotNull
    val cellCol = col(config.cellCol(vectorName))
    val pred = filter.map(f => new FilterCompiler(resolver(df)).compile(f))
      .fold(guard)(_ && guard)
    val pairs = df.filter(cells.fold(pred) { case (_, union) =>
      pred && cellCol.isin(union: _*)
    }).crossJoin(broadcast(queries))
    val scored = cells.fold(pairs) { case (qCells, _) =>
      pairs.filter(array_contains(col(qCells), cellCol))
    }.withColumn("score", round(score, 6))
    graft.ops.Search.batchRank(scored, queryIdCol, config.idCol, k,
      vc.metric.largerBetter)
  }

  /** Wire-codec context for this collection's declared schema: its vector
    * spaces (dense named/unnamed + sparse), shard-key field and name.
    * [[bulkResolve]] installs the by-id hooks. */
  private def wireCtx: graft.api.RequestCodec.Ctx = {
    import graft.api.RequestCodec
    val spaces =
      config.vectors.map(vc =>
        vc.name -> RequestCodec.VectorSpace(config.vectorCol(vc.name), vc.metric,
          dim = Some(vc.dim), multivector = vc.multivector,
          datatype = vc.datatype)).toMap ++
        config.sparse.map(sc =>
          sc.name -> RequestCodec.VectorSpace(config.sparseCol(sc.name),
            graft.model.Dot, sparse = true, modifier = sc.modifier)).toMap
    RequestCodec.Ctx(spaces,
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

  /** The query space of a declared dense or sparse vector. */
  private def spaceOf(name: String): graft.ops.PointQuery.Space =
    wireCtx.space(Some(name)).space

  /** Space validation of a same-collection by-id reference, with the
    * reference's unknown-name error shapes. By-id examples resolve FROM
    * THE `using` SPACE — the reference keys `resolve_referenced_vectors`
    * by the request's vector name (`recommendations.rs`). */
  private def denseSpaceOf(name: String, id: Any): graft.sources.VectorConfig =
    config.vectors.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"vector-input id $id: no dense vector named '$name' to resolve it against"))

  private def sparseSpaceOf(name: String, id: Any): graft.sources.SparseVectorConfig =
    config.sparse.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"vector-input id $id: no sparse vector named '$name' to resolve it against"))

  /** The stored cells that `refs` ((vector column, wire id) pairs) name,
    * read with one [[probeIds]] probe — an `id IN (...)` scan predicate up
    * to [[Collection.InProbeMaxIds]] ids, a broadcast semi-join past it —
    * scoped to the shard keys `keys` on a custom-sharded collection. */
  private def probeCells(refs: Seq[(String, Any)], keys: Seq[Any]): Collection.Probed = {
    val idType = idDataType
    val ids = graft.filters.FilterCompiler.coerceWireIds(refs.map(_._2).distinct, idType)
    val rows =
      if (ids.isEmpty) Map.empty[Any, org.apache.spark.sql.Row]
      else {
        val df = readDecoded()
        val scoped = (config.shardKeyCol, keys) match {
          case (Some(sk), ks) if ks.nonEmpty => df.filter(col(sk).isin(ks: _*))
          case _ => df
        }
        // past the IN cap: wire ids (Int or Long) as text, cast to the
        // column's type; an id the type cannot hold matches nothing
        probeIds(scoped, Some(ids),
          spark.createDataFrame(ids.map(x => Tuple1(x.toString)))
            .select(col("_1").try_cast(idType.getOrElse(
              org.apache.spark.sql.types.LongType)).as(config.idCol)))
          .select((config.idCol +: refs.map(_._1).distinct).map(col): _*)
          .collect().map(r => Collection.idKey(r.get(0)) -> r).toMap
      }
    Collection.Probed(idType, rows)
  }

  /** By-id resolution: the vectors of every point a request references —
    * recommend/discover/context/feedback/MMR examples and nearest-by-id —
    * in this collection or in a `lookup_from` sibling that `siblings`
    * opens. qdrant, too, resolves them all before it builds the scoring
    * query, one retrieve per (collection, shard selector)
    * (`query.rs:456-546`, `fetch_vectors.rs`).
    *
    * The request parses twice. The dry parse records each reference under
    * its source (this collection, or a sibling with the shard keys its
    * `lookup_from` selects) and answers it with a dummy cell shaped like
    * the space it names, so the parser's dim checks behave as on the real
    * vector. The real parse then answers from one [[probeCells]] probe per
    * source, run when it first reaches a reference to that source.
    *
    * Errors come out in parse order, as a per-id resolver raises them: the
    * FIRST missing id names the not-found error ([[Collection.Probed]];
    * pinned by api_query_by_id_errors / catalog_lookup_from_errors and
    * StoreSpec's ordering test). A dry parse that throws leaves the
    * references before the failure recorded; the real parse answers those
    * and fails where the dry one did. A sibling that cannot be opened or
    * probed fails at the first reference to it. A reference the dry parse
    * did not record is probed on its own, so the answer never rests on the
    * dry parse having seen every reference. */
  private def bulkResolve[A](siblings: Option[String => Collection])
      (parse: graft.api.RequestCodec.Ctx => A): A = {
    import scala.util.Try
    // None: this collection; Some((name, shard keys)): a `lookup_from` sibling
    type Source = Option[(String, Seq[Any])]
    val opened = scala.collection.mutable.Map.empty[String, Try[Collection]]
    def owner(src: Source): Collection = src.fold(this) { case (name, _) =>
      opened.getOrElseUpdate(name, Try(siblings.getOrElse(
        throw new IllegalArgumentException(
          s"lookup_from $name given but no lookup resolver configured"))(name))).get
    }
    def unknown(name: String) = new IllegalArgumentException(
      s"Wrong input: Not existing vector name error: $name")
    val recorded = scala.collection.mutable.LinkedHashMap.empty[
      Source, scala.collection.mutable.LinkedHashSet[(String, Any)]]
    val probes = scala.collection.mutable.Map.empty[Source, Try[Collection.Probed]]
    // the by-id hooks over `answer(source, column, id, vector name,
    // dummy)`, which gives the reference's stored cell
    def ctxOf(answer: (Source, String, Any, String, => Any) => Any) = {
      def dense(src: Source, vc: graft.sources.VectorConfig, id: Any) =
        Collection.denseValue(vc, answer(src, owner(src).config.vectorCol(vc.name),
          id, vc.name, Collection.denseDummy(vc)))
      def sparse(src: Source, name: String, id: Any) =
        Collection.sparseValue(answer(src, owner(src).config.sparseCol(name),
          id, name, Collection.SparseDummy))
      def source(lf: graft.api.RequestCodec.LookupFrom): Source =
        Some((lf.collection, lf.shardKeys))
      wireCtx.copy(
        resolveId = (name, id) => dense(None, denseSpaceOf(name, id), id),
        resolveSparseId = (name, id) => sparse(None, sparseSpaceOf(name, id).name, id),
        resolveLookup = (lf, id) => {
          val name = lf.vector.getOrElse("")
          dense(source(lf), owner(source(lf)).config.vectors.find(_.name == name)
            .getOrElse(throw unknown(name)), id)
        },
        resolveSparseLookup = (lf, id) => {
          val name = lf.vector.getOrElse("")
          if (!owner(source(lf)).config.sparse.exists(_.name == name))
            throw unknown(name)
          sparse(source(lf), name, id)
        })
    }
    val dry = Try(parse(ctxOf { (src, c, id, _, dummy) =>
      recorded.getOrElseUpdate(src,
        scala.collection.mutable.LinkedHashSet.empty) += ((c, id))
      dummy
    }))
    // nothing recorded: no reference was answered, so the dry outcome is
    // the real one
    if (recorded.isEmpty) dry.get
    else parse(ctxOf { (src, c, id, name, _) =>
      val keys = src.fold(Seq.empty[Any])(_._2)
      val probed =
        if (recorded.get(src).exists(_.contains((c, id))))
          probes.getOrElseUpdate(src,
            Try(owner(src).probeCells(recorded(src).toSeq, keys))).get
        else owner(src).probeCells(Seq((c, id)), keys)
      probed.cell(c, id, name)
    })
  }

  /** The server-handler analog of `POST /collections/{c}/points/query`
    * (`src/actix/api/query_api.rs:31`): parse a REST body against THIS
    * collection's declared schema and execute it. Spaces come from the
    * config (dense named/unnamed + sparse + shard-key column), by-id
    * vector inputs resolve against the `using` space ([[bulkResolve]]),
    * and the DAG executor runs it over the stored table, every dense
    * Nearest node searching through the declared indexes its own
    * `SearchParams` select ([[withIndexes]]). */
  def query(json: String): DataFrame = query(json, None)

  /** [[query]] with `lookup_from` ids resolved against the sibling
    * collections `siblings` opens by name (`fetch_vectors.rs:301`) — wired
    * by a host that owns a table catalog ([[Catalog.query]]). */
  def query(json: String, siblings: Option[String => Collection]): DataFrame = {
    val q = bulkResolve(siblings)(graft.api.RequestCodec.parseQueryRequest(json, _))
    enrich(executeDag(admitted(q)), org.json4s.jackson.JsonMethods.parse(json))
  }

  /** A request's `with_payload` asks for payload (the query API default
    * is off). */
  private def wantsPayload(o: org.json4s.JValue): Boolean = {
    import org.json4s._
    val wpJ = o \ "with_payload"
    wpJ != JNothing && wpJ != JNull && wpJ != JBool(false)
  }

  /** `with_payload` / `with_vector` response enrichment (`ScoredPoint`
    * fields, `types.rs:396-440`; selectors `types.rs:4175-4183`): hits are
    * ≤ limit rows, so the table streams once against the BROADCAST hit
    * set — the enrichment join never shuffles the big side. Defaults match
    * the reference's query API: payload and vector both OFF unless asked. */
  private def enrich(hits: DataFrame, o: org.json4s.JValue): DataFrame = {
    val wpJ = o \ "with_payload"
    val wvJ = o \ "with_vector"
    val wantPayload = wantsPayload(o) && hits.columns.contains(config.idCol) &&
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
    else Collection.selectPayload(sel,
      graft.api.RequestCodec.parseWithPayload(wpJ), config.payloadCol)
  }

  /** The gates a parsed request passes before it executes; returns the
    * request with its referenced-id exclusion merged into the filter. */
  private def admitted(q0: graft.ops.PointQuery.Query): graft.ops.PointQuery.Query = {
    // strict-mode gate BEFORE execution (`query_api.rs:31-110`,
    // `operations/verification/`): the declared collection limits reject
    // over-limit requests with the reference's 403 semantics. Runs on the
    // PRE-exclusion query — the injected referenced-id `must_not HasId`
    // does not count against the user's filter_max_conditions (the
    // reference injects after verification, `collection_query.rs:701-705`).
    config.strictMode.foreach(sm =>
      graft.api.StrictMode.verifyQuery(q0, sm, config.payloadTypes.keySet))
    val q = graft.ops.PointQuery.resolveExclusion(q0)
    // `params.idf` gate: the knob changes scoring, so it REJECTS anywhere
    // it cannot apply — only an idf-modified sparse space qualifies
    // (`query_context.rs:31-39`; `test_sparse_idf_corpus.py::
    // test_idf_params_require_idf_modifier`). Checked per node, root and
    // prefetches alike.
    verifyIdfParams(q)
    q
  }

  /** The DAG executor over the stored table, every vector scored in its
    * storage width ([[graft.ops.PointQuery.similarity]]). */
  private def executeDag(q: graft.ops.PointQuery.Query): DataFrame = {
    val df = read()
    graft.ops.PointQuery.execute(spark, df, config.idCol, resolver(df),
      withIndexes(idfWeighted(q), df.columns))
  }

  /** `q` with the IDF modifier folded into its query-side weights. The
    * modifier applies in EVERY sparse scoring context — root, prefetch
    * leaves, rescore parents, and every example of a custom query
    * (`query_context.rs` remaps every query-side sparse vector of the
    * request) — so it folds into the query weights BEFORE the request
    * executes; stored weights stay raw. A node-level `params.idf.corpus`
    * re-scopes the statistics to the corpus filter's matches;
    * "global"/absent uses the collection-wide sidecar stats. */
  private def idfWeighted(q: graft.ops.PointQuery.Query): graft.ops.PointQuery.Query = {
    import graft.ops.PointQuery
    val scoring = q.scoring match {
      case s: PointQuery.VectorScoring if s.space.modifier.contains("idf") =>
        val name = vectorName(s.space.col)
        val corpus = q.params.flatMap(_.idf).flatten
        s.mapVectors {
          case PointQuery.SparseVector(is, vs) =>
            PointQuery.SparseVector(is, corpus.fold(idfWeights(name, is, vs))(
              corpusIdfWeights(name, _, is, vs)))
          case other => other
        }
      case other => other
    }
    q.copy(scoring = scoring, prefetches = q.prefetches.map(idfWeighted))
  }

  /** `q` with every dense Nearest node without prefetches, root or
    * prefetch leaf, given the declared index data it searches through,
    * from its own `params` (the reference plans each prefetch as a full
    * search with its own `SearchParams`, `planned_query.rs:306-340`): its
    * probed IVF cells ([[probedCells]]; none when `exact`) and the approx
    * phase of its declared quantization ([[graft.index.Quantization.approx]];
    * none when `exact` or `quantization.ignore`). A vector that declares
    * neither reads no sidecar. `columns` are the stored table's. */
  private def withIndexes(q: graft.ops.PointQuery.Query,
      columns: Seq[String]): graft.ops.PointQuery.Query = {
    import graft.ops.PointQuery
    val indexed = (q.scoring, q.prefetches) match {
      case (PointQuery.Nearest(space, PointQuery.DenseVector(x)), Nil) =>
        config.vectors.find(vc => config.vectorCol(vc.name) == space.col)
          .fold(q) { vc =>
            val sp = q.params.getOrElse(PointQuery.SearchParams())
            val qc = config.quantCol(vc.name)
            q.copy(
              cells = probedCells(vc.name, x, sp.exact, sp.hnswEf)
                .map(graft.ops.Search.Cells(config.cellCol(vc.name), _)),
              approx = (if (sp.exact || sp.quantIgnore || !columns.contains(qc)) None
                else vc.quantization)
                .map(spec => graft.index.Quantization.approx(spec,
                  quantParams.getOrElse(vc.name, throw new IllegalStateException(
                    s"quantization declared for '${vc.name}' but no fitted params at ${quantSidecar.path}")),
                  col(qc), x, vc.metric, sp.oversampling.getOrElse(3.0), sp.rescore)))
          }
      case _ => q
    }
    indexed.copy(prefetches = indexed.prefetches.map(withIndexes(_, columns)))
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
    * `lookup_from` resolves against `siblings` as in [[queryGroups]]. */
  def recommendGroups(json: String,
      lookupTable: String => DataFrame = n =>
        throw new IllegalArgumentException(
          s"with_lookup collection '$n' needs a lookupTable resolver"),
      siblings: Option[String => Collection] = None): DataFrame =
    queryGroups(graft.api.RequestCodec.legacyToQuery(json, "recommend"),
      lookupTable, siblings)

  /** Legacy `/batch` forms (`SearchRequestBatch.searches`,
    * `RecommendRequestBatch.searches`, `DiscoverRequestBatch.searches`):
    * each body rewrites to the universal query form and the batch runs
    * like [[queryBatch]]. */
  def searchBatch(json: String, kind: String = "search"): DataFrame =
    runBatch(searchesOf(json, s"legacy $kind batch")
      .map(graft.api.RequestCodec.legacyToQuery(_, kind)), None)

  /** `POST /collections/{c}/points/query/batch` (`QueryRequestBatch`):
    * independent requests answered in one call, like qdrant's
    * `query_batch`. By-id inputs of the whole batch resolve through one
    * probe. A *plain nearest* search — a Nearest root without prefetch on
    * a Float32, non-multivector, unquantized vector, with `offset` 0, no
    * `score_threshold`, and neither `with_payload` nor `with_vector` —
    * shares one scan with the other plain nearest searches of the batch
    * that have the same vector, filter, `exact`, `hnsw_ef` and `limit`
    * ([[knnBatch]]; on a declared-IVF vector the scan reads the union of
    * the group's probed cells). Every other search runs through the same
    * routing as [[query]]. Either way each search gets the ids, scores and
    * tie order [[query]] gives it. Rows are (id, score[, payload/vector
    * columns], req), `req` being the search's position: grouped by
    * ascending `req`, in rank order within each. `lookup_from` ids resolve
    * against `siblings` as in [[query]]. */
  def queryBatch(json: String,
      siblings: Option[String => Collection] = None): DataFrame =
    runBatch(searchesOf(json, "query batch"), siblings)

  /** The `searches` bodies of a batch request, each as compact JSON. */
  private def searchesOf(json: String, what: String): Seq[String] = {
    import org.json4s.jackson.JsonMethods
    val searches = graft.api.RequestCodec.arr(JsonMethods.parse(json) \ "searches")
    require(searches.nonEmpty, s"$what must carry at least one search")
    searches.map(n => JsonMethods.compact(JsonMethods.render(n)))
  }

  /** What the plain nearest searches of one shared scan have in common. */
  private case class NearestGroupKey(vectorName: String, filter: Option[Filter],
      exact: Boolean, hnswEf: Option[Int], limit: Int)

  /** The shared-scan key and query vector of an [[admitted]] search, if it
    * is plain nearest (see [[queryBatch]]). */
  private def plainNearest(q: graft.ops.PointQuery.Query, o: org.json4s.JValue)
      : Option[(NearestGroupKey, Seq[Double])] = q.scoring match {
    case graft.ops.PointQuery.Nearest(space, graft.ops.PointQuery.DenseVector(qv))
        if q.prefetches.isEmpty && q.offset == 0 && q.limit > 0 &&
          q.scoreThreshold.isEmpty && !wantsPayload(o) &&
          withVectorColsOf(o \ "with_vector").isEmpty =>
      config.vectors.find(vc => config.vectorCol(vc.name) == space.col)
        .filter(vc => vc.datatype == Float32 && !vc.multivector &&
          vc.quantization.isEmpty)
        .map { vc =>
          val sp = q.params.getOrElse(graft.ops.PointQuery.SearchParams())
          (NearestGroupKey(vc.name, q.filter, sp.exact, sp.hnswEf, q.limit), qv)
        }
    case _ => None
  }

  /** One scan for a group of plain nearest searches, given as (req, query
    * vector): each probes its own IVF cells, the scan reads their union.
    * Rows are (id, score, req, _rank). */
  private def nearestGroup(key: NearestGroupKey,
      members: Seq[(Int, Seq[Double])]): DataFrame = {
    val cells = members.map { case (_, qv) =>
      probedCells(key.vectorName, qv, key.exact, key.hnswEf)
    }
    val queries = spark.createDataFrame(members.zip(cells).map {
      case ((req, qv), c) => (req, qv, c.getOrElse(Nil))
    }).toDF("_req", "_qv", "_qcells")
    knnBatch(key.vectorName, queries, "_req", "_qv", key.limit, key.filter,
      if (cells.forall(_.isDefined))
        Some(("_qcells", cells.flatten.flatten.distinct.sorted))
      else None)
      .select(col(config.idCol), col("score"), col("_req").as("req"),
        col("rank").cast("long").as("_rank"))
  }

  /** [[queryBatch]] over parsed-out bodies. */
  private def runBatch(bodies: Seq[String],
      siblings: Option[String => Collection]): DataFrame = {
    val qs = bulkResolve(siblings)(c =>
      bodies.map(graft.api.RequestCodec.parseQueryRequest(_, c))).map(admitted)
    val wire = bodies.map(org.json4s.jackson.JsonMethods.parse(_))
    val plain = qs.zip(wire).map { case (q, o) => plainNearest(q, o) }
    val groups = plain.zipWithIndex
      .collect { case (Some((key, qv)), req) => key -> (req, qv) }
      .groupMap(_._1)(_._2).toSeq.filter(_._2.length > 1)
    val grouped = groups.flatMap(_._2.map(_._1)).toSet
    // a single search's rows arrive in rank order; the id keeps that order
    val singles = qs.indices.filterNot(grouped).map(req =>
      req -> enrich(executeDag(qs(req)), wire(req))
        .withColumn("req", lit(req))
        .withColumn("_rank", monotonically_increasing_id()))
    val shared = groups.map { case (key, members) =>
      members.head._1 -> nearestGroup(key, members)
    }
    (singles ++ shared).sortBy(_._1).map(_._2)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .coalesce(1).sortWithinPartitions("req", "_rank").drop("_rank")
  }

  /** Strict mode's filter gate for the read endpoints that take a bare
    * filter ([[admitted]] gates whole query requests). */
  private def verifyFilter(filter: Option[Filter]): Unit =
    for (fl <- filter; sm <- config.strictMode)
      graft.api.StrictMode.verifyFilter(fl, sm, config.payloadTypes.keySet)

  /** `POST /collections/{c}/points/count` (`count_api.rs:17`).
    * `exact: true` (the default) scans; `exact: false` serves the
    * cardinality estimate's `exp` from the driver-side statistics
    * snapshot with NO distributed job — the reference's
    * `estimate_point_count` path
    * (`lib/collection/src/shards/local_shard/mod.rs:1070-1085`,
    * [[graft.filters.Cardinality]]). */
  def count(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseCountRequest(json, config.shardKeyCol)
    verifyFilter(spec.filter)
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
    verifyFilter(spec.filter)
    val est = graft.filters.Cardinality.estimate(spec.filter, fieldStats)
    import spark.implicits._
    Seq((est.min, est.exp, est.max)).toDF("est_min", "est_exp", "est_max")
  }

  /** `POST /collections/{c}/facet` (`FacetRequestInternal`). */
  def facet(json: String): DataFrame = {
    val spec = graft.api.RequestCodec.parseFacetRequest(json, config.shardKeyCol)
    verifyFilter(spec.filter)
    import org.apache.spark.sql.types._
    import graft.filters.Cardinality.{FieldStatsSnapshot, ValueStats}
    // The two statistics-served answers below share their rendering: the
    // key's value type from the snapshot (an integer key casts back to the
    // CURRENTLY declared width, the exact scan's value type; a since-retyped
    // field has none and takes the scan), the (count desc, typed value)
    // order, and the typed (value, cnt) frame of the top `limit`. `pairs`
    // gives the (value, count) pairs to rank, or None to decline; `keep`
    // may decline the selected head.
    def fromStats(
        pairs: (DataType, FieldStatsSnapshot, ValueStats) => Option[Seq[(String, Long)]],
        keep: (DataType, ValueStats, Seq[(String, Long)]) => Boolean = (_, _, _) => true)
        : Option[DataFrame] = {
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
      for {
        t <- render
        vs <- snap.values.get(spec.key)
        ps <- pairs(t, snap, vs)
        sel = (t match {
          case BooleanType => ps.sortBy { case (v, c) => (-c, v.toBoolean) }
          case LongType | IntegerType => ps.sortBy { case (v, c) => (-c, v.toLong) }
          case _ => ps.sortBy { case (v, c) => (-c, v) }
        }).take(spec.limit)
        if keep(t, vs, sel)
      } yield {
        import spark.implicits._
        t match {
          case BooleanType => sel.map { case (v, c) => (v.toBoolean, c) }.toDF("value", "cnt")
          case LongType => sel.map { case (v, c) => (v.toLong, c) }.toDF("value", "cnt")
          case IntegerType => sel.map { case (v, c) => (v.toInt, c) }.toDF("value", "cnt")
          case _ => sel.toDF("value", "cnt")
        }
      }
    }
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
      else fromStats((_, _, vs) => Some(vs.counts.toSeq), { (t, vs, sel) =>
        val headMin = if (vs.counts.isEmpty) 0L else vs.counts.values.min
        vs.tailUnique == 0L || t == StringType ||
          (sel.length == spec.limit && sel.last._2 > headMin)
      })
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
      else fromStats { (t, snap, vs) =>
        def typed(v: String): Any = t match {
          case BooleanType => v.toBoolean
          case LongType | IntegerType => v.toLong
          case _ => v
        }
        if (vs.tailUnique != 0L) None
        else Some(vs.counts.keys.toSeq.map { v =>
          val merged = graft.model.Filter.mergeOpts(spec.filter,
            Some(graft.model.Filter(must =
              Seq(graft.model.MatchValue(spec.key, typed(v)))))).get
          v -> graft.filters.Cardinality.estimateFilter(merged, snap).exp
        }.filter(_._2 > 0L))
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
    verifyFilter(spec.filter)
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
    // id-offset pagination and order_by are mutually exclusive
    // (`shard_ops.rs:273-276` — order-by pages via `start_from`)
    if (spec.offset.isDefined && spec.orderBy.isDefined)
      throw new IllegalArgumentException(
        "Cannot use an `offset` when using `order_by`. The alternative " +
          "for paging is to use `order_by.start_from` and a filter to " +
          "exclude the IDs that you've already seen for the " +
          "`order_by.start_from` value")
    val page = spec.orderBy match {
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
    }
    Collection.selectPayload(page, wpSel, config.payloadCol)
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
    Collection.selectPayload(graft.ops.Reads.retrieve(df, config.idCol, ids, cols),
      spec.withPayload, config.payloadCol)
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
    * the scoring root, `limit` groups, scored over the stored table like
    * the flat query. Supported roots are the vector query kinds and
    * order_by; DAG-shaped roots (fusion/formula) reject loudly like the
    * reference's validation.
    * `with_lookup` resolves through `lookupTable` (a catalog hook — tests
    * pass a sibling-collection loader); `lookup_from` (by-id example
    * resolution against a SIBLING collection — `QueryGroupsRequestInternal`
    * carries it like the flat query) resolves against the sibling
    * collections `siblings` opens ([[Catalog.queryGroups]] passes its
    * catalog). */
  def queryGroups(json: String,
      lookupTable: String => DataFrame = n =>
        throw new IllegalArgumentException(
          s"with_lookup collection '$n' needs a lookupTable resolver"),
      siblings: Option[String => Collection] = None): DataFrame = {
    import graft.ops.PointQuery
    val spec = bulkResolve(siblings)(graft.api.RequestCodec.parseGroupRequest(json, _))
    // the flat query's gates and weighting: strict mode, the referenced-id
    // exclusion (a recommend-by-id groups request whose examples cover
    // every point yields ZERO groups, `test_query_full.py:993-1010`), the
    // `params.idf` gate and the IDF modifier
    val gq = idfWeighted(admitted(spec.query))
    val df = read()
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
    // only the rows the flat query can rank (a Euclid point without the
    // vector would otherwise lead with a null score)
    val scoped = gq.scoring match {
      case s: PointQuery.VectorScoring =>
        df.filter(PointQuery.candidates(s.space, s.vectors))
      case _ => df
    }
    val grouped = graft.ops.GroupBy.groupBySearch(scoped, config.idCol, scoreExpr,
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
        val p1 = Collection.selectPayload(lk0, spec.lookupWithPayload, "payload")
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
    verifyFilter(spec.filter)
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
      // IVF: retrain on the CURRENT corpus when the spec changed (the
      // reference re-optimizes segments in the background after an index
      // PATCH); unchanged specs keep their persisted centroids so cell
      // ids stay stable across the rewrite
      def retrain(vc: graft.sources.VectorConfig) =
        graft.index.IvfIndex.buildAndPersist(
          stripped, nc.vectorCol(vc.name), vc.ann.get.cells, next.ivfPath(vc.name))
      val withCells = Collection.withIndexColumns(nc, stripped, n => Some(params(n)), vc =>
        Some(
          if (config.vectors.find(_.name == vc.name).forall(_.ann != vc.ann)) retrain(vc)
          else next.ivfModel(vc.name).getOrElse(retrain(vc))))
      next.commit(withCells, sparseDfChange = false)
      if (quantChanged) next.quantSidecar.put(params)
    } else if (layoutChanged) {
      // layout-only PATCH: one rewrite under the new partition/sort rule
      // (commit() recomputes declared buckets; stale ones drop here)
      val cur = read()
      next.commit(cur.columns.filter(_.startsWith("tenantb_"))
        .foldLeft(cur)(_ drop _), sparseDfChange = false)
    }
    next
  }

  /** Collection-level metadata (`CollectionConfig.metadata`, PATCH
    * `/collections/{c}` — `tests/openapi/test_collection_metadata.py`):
    * arbitrary key-values persisted with the collection config. Patch
    * semantics mirror the reference: present keys merge/overwrite, an
    * explicit null DELETES the key. Stored in the `metadata` [[Sidecar]]
    * beside the parquet data (driver-side catalog state, like the
    * reference persists config with the collection). */
  def updateMetadata(patch: Map[String, Option[String]]): Unit =
    metadataSidecar.put(patch.foldLeft(metadata()) {
      case (m, (k, Some(v))) => m + (k -> v)
      case (m, (k, None)) => m - k
    })

  def metadata(): Map[String, String] = metadataSidecar.get.getOrElse(Map.empty)

  // ----------------------------------------------------- shard-key registry

  /** Declared shard keys of a custom-sharded collection — the
    * `PUT/GET /collections/{c}/shards` + `POST /shards/delete` surface
    * (`sharding_keys.rs`, routes `src/actix/api/shards_api.rs`).
    * Persisted in the `shardkeys` [[Sidecar]] as `{"keys": [...]}`, each
    * key a JSON string or integer; `None` = no registry (a
    * collection created directly from data with implicit keys — the
    * batch-native analog; writes then accept any key). Once a registry
    * exists, writes naming an undeclared key REJECT with the reference's
    * "Shard key .. not found" (`shard_holder/mod.rs:432`). */
  def listShardKeys(): Option[Seq[Any]] =
    shardKeySidecar.get.map(_ \ "keys" match {
      case org.json4s.JArray(xs) => xs.map {
        case org.json4s.JString(s) => s
        case org.json4s.JInt(i) => i.toLong
        case other => throw new IllegalArgumentException(s"bad shard key $other")
      }
      case _ => Nil
    })

  private def writeShardKeys(keys: Seq[Any]): Unit = {
    import org.json4s._
    shardKeySidecar.put(JObject("keys" -> JArray(keys.map {
      case s: String => JString(s): JValue
      case l: Long => JInt(l): JValue
      case i: Int => JInt(i): JValue
      case other => throw new IllegalArgumentException(s"bad shard key $other")
    }.toList)))
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
    * change as after a scoped commit of that key ([[dataChanged]]). */
  def deleteShardKey(key: Any): Boolean = {
    val sk = config.shardKeyCol.getOrElse(throw new IllegalArgumentException(
      "cannot delete a shard key: the collection has no shard-key column"))
    val keys = listShardKeys().getOrElse(
      read().select(col(sk)).filter(col(sk).isNotNull).distinct()
        .collect().map(_.get(0)).toSeq)
    if (!keys.contains(key)) throw new IllegalArgumentException(
      s"Not found: Shard key $key not found")
    // Retire the key from the registry FIRST: a failure mid-drop then
    // leaves an undeclared key with orphan data (re-creatable, and its
    // directories are re-droppable) rather than a declared key whose data
    // is gone — the safer inconsistency.
    writeShardKeys(keys.filterNot(_ == key))
    ParquetMeta.replace(spark, path, staged = None, Some(keyDirs(Seq(key))))
    dataChanged(sparseDfChange = true, shards = Seq(key), shardsGone = true)
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

  /** Ingest-time IDF statistics for a sparse vector: (N = count of points
    * with a non-null sparse cell — the reference's `indexed_vectors`,
    * `query_context.rs:283-289` — and per-dim document frequencies).
    * Loaded from the `sparse_idf` [[Sidecar]] (NO Spark job on the warm
    * path); computed once and persisted when the entry is missing —
    * commits INVALIDATE rather than eagerly recompute ([[dataChanged]]),
    * the same lazy contract as the fieldstats sidecar, so a write's cost
    * never scales with table size for the sidecar's sake. On a
    * custom-sharded collection the entry holds PER-SHARD-KEY partial
    * (N, df) maps — merged driver-side here — so a scoped write refreshes
    * only its touched tenants. Scale note: the df map is
    * vocabulary-sized — bounded by the token space (BM25 vocabularies are
    * 10⁴–10⁵ dims), not the row count, so the sidecar stays small however
    * large the table. */
  private[graft] def sparseIdfStats(name: String): (Long, Map[Long, Long]) = {
    val cached = idfSidecar.get
    cached.flatMap(_.get(name)).getOrElse {
      val m = computeSparseIdfStats(read(), Seq(name))
      idfSidecar.put(cached.getOrElse(Map.empty) ++ m)
      m(name)
    }.merged
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
          Collection.IdfEntry(sharded = Some(ns.map { case (k, n) =>
            k -> Collection.IdfStat(n, dfs.getOrElse(k, Map.empty[Long, Long]))
          }))
        case _ =>
          val total = nonNull.count()
          val dfs = nonNull.select(explode(col(s"$c.indices")).as("dim"))
            .groupBy(col("dim"))
            .agg(org.apache.spark.sql.functions.count(lit(1)).as("df"))
            .collect().map(r => dimKey(r.get(0)) -> r.getLong(1)).toMap
          Collection.IdfEntry(Some(total), Some(dfs))
      }
      n -> entry
    }.toMap

  /** Eager sidecar build — used at CREATE (the data was just scanned
    * anyway; one more pass while it is hot keeps first reads zero-job). */
  private[storage] def refreshSparseIdfStats(): Unit = {
    val idfNames = config.sparse.filter(_.modifier.contains("idf")).map(_.name)
    if (idfNames.nonEmpty) idfSidecar.put(computeSparseIdfStats(read(), idfNames))
  }

  /** The one invalidation point for the sidecars derived from the rows,
    * called after every commit. Ingest-time statistics go STALE, not
    * eagerly rebuilt (the reference documents approximate stats as
    * unreliable mid-indexing, `lib/shard/src/count.rs:14-17`): field
    * statistics drop, and the next estimate rebuilds them. The IDF sidecar
    *  - stays untouched when `sparseDfChange` is false (payload-only and
    *    dense-vector batches cannot change document frequencies);
    *  - after a commit that replaced only the `shards` keys' rows, when
    *    WARM and sharded-format, splices fresh partials for just those keys
    *    (the aggregation's scan partition-prunes to their directories, so
    *    jobs are bounded by the touched tenants, never the table; no job at
    *    all when `shardsGone` — the keys' rows were dropped), and when cold
    *    stays cold;
    *  - otherwise drops for a lazy rebuild ([[sparseIdfStats]]) — an
    *    eager refresh makes every write on an idf-modified collection a
    *    full-table scan (the r13 scale probe's residual slope). */
  private def dataChanged(sparseDfChange: Boolean, shards: Seq[Any] = Nil,
      shardsGone: Boolean = false): Unit = {
    if (sparseDfChange) (shards, idfSidecar.get) match {
      case (Nil, _) => idfSidecar.drop()
      case (_, None) => ()
      case (_, Some(m)) if m.valuesIterator.forall(_.sharded.isDefined) =>
        // splice ONLY the names already present in the warm sidecar. A
        // name ABSENT from the map was never built — the lazy rebuild
        // persists one entry per read — and MUST stay absent: fabricating
        // it from the touched keys' rows alone would record one tenant's
        // (N, df) as the whole collection's and silently mis-weight every
        // later IDF query on that space (the entry would be warm, so never
        // corrected).
        val touched = shards.map(_.toString).toSet
        val fresh =
          if (shardsGone) Map.empty[String, Collection.IdfEntry]
          else computeSparseIdfStats(
            read().filter(col(config.shardKeyCol.get).isin(shards: _*)),
            m.keys.toSeq)
        idfSidecar.put(m.map { case (n, e) =>
          n -> Collection.IdfEntry(sharded = Some(
            e.sharded.get.filter { case (k, _) => !touched(k) } ++
              fresh.get(n).flatMap(_.sharded).getOrElse(Map.empty)))
        })
      case _ => idfSidecar.drop()
    }
    statsSidecar.drop()
  }

  // ------------------------------------------------------- field statistics

  /** Driver-side per-field statistics snapshot for `count` with
    * `exact: false` ([[graft.filters.Cardinality]]) — the analog of the
    * payload field indexes' count structures the reference estimates from.
    * Loaded from the `fieldstats` [[Sidecar]] (zero jobs warm); computed
    * once and persisted when missing. A commit drops the sidecar
    * ([[dataChanged]]) rather than eagerly recomputing — estimation is a
    * read-path nicety and the reference itself documents approximate
    * counts as "unreliable during the indexing process"
    * (`lib/shard/src/count.rs:14-17`). */
  private[graft] def fieldStats: graft.filters.Cardinality.FieldStatsSnapshot =
    statsSidecar.get.getOrElse {
      val computed = computeFieldStats()
      statsSidecar.put(computed)
      computed
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

    // JOB 1 — total row count + non-null counts per vector column, over
    // the raw scan (parquet prunes to just these columns; null counting
    // never touches the payload)
    val vecCols: Seq[(String, String)] =
      (config.vectors.map(vc => vc.name -> config.vectorCol(vc.name)) ++
        config.sparse.map(sc => sc.name -> config.sparseCol(sc.name)))
        .filter { case (_, c) => df.columns.contains(c) }
    val vecAggs = vecCols.map { case (n, c) => cnt(col(c)).as(s"vec_$n") }
    val baseAggs = Seq(cnt(lit(1)).as("_total")) ++ vecAggs
    val baseRow = df.agg(baseAggs.head, baseAggs.tail: _*).collect()(0)
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
        val row = pp.agg(nullAggs.head, nullAggs.tail: _*).collect()(0)
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
          val perField = pairs.groupBy(col("_k"))
            .agg(cnt(lit(1)).as("vals"), countDistinct(col("_v")).as("uniq"),
              countDistinct(col("_id")).as("pts"))
            .collect()
            .map(rw => rw.getString(0) ->
              ((rw.getLong(1), rw.getLong(2), rw.getLong(3)))).toMap
          val topW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_k")).orderBy(desc("c"), asc("_v"))
          val heads = pairs.groupBy(col("_k"), col("_v"))
            .agg(cnt(lit(1)).as("c"))
            .withColumn("_rn", row_number().over(topW))
            .filter(col("_rn") <= Collection.StatsTopK)
            .collect()
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
          val meta = nums.groupBy(col("_k"), col("_id"))
            .agg(cnt(lit(1)).as("n"), min(col("_v")).as("mn"), max(col("_v")).as("mx"))
            .groupBy(col("_k"))
            .agg(min(col("mn")).as("lo"), max(col("mx")).as("hi"),
              sum(col("n")).as("vals"), cnt(lit(1)).as("pts"),
              max(col("n")).as("maxVpp"))
            .collect()
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
              nums.filter(col("_k").isin(spread.keys.toSeq: _*))
                .groupBy(col("_k"), least(lit(b - 1),
                  floor((col("_v") - element_at(loM, col("_k"))) /
                    element_at(wM, col("_k"))).cast("int")).as("_b"))
                .agg(cnt(lit(1)).as("c"))
                .collect()
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
        val perKey = df.groupBy(col(sk)).agg(cnt(lit(1)).as("c")).collect()
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
          val rows = df.filter(cellC.isNotNull)
            .groupBy(substring(cellC, 1,
              graft.index.GeoIndex.StatsPrecision).as("_c"))
            .agg(cnt(lit(1)).as("c"))
            .collect()
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

  /** Fitted quantization params from the `quant` [[Sidecar]], written at
    * create and by a quantization PATCH (like the reference persists
    * quantization alongside the segment). Empty when no vector declares
    * quantization. */
  private[graft] def quantParams: Map[String, Collection.QuantParams] =
    quantSidecar.get.getOrElse(Map.empty)

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
    commit(read(), targetFiles = Some(targetFiles), sparseDfChange = false)

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
    commit(cur.withColumn(c,
      values.getOrElse(lit(null).cast(
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))),
      sparseDfChange = false)
  }

  /** Drop a named vector column collection-wide (`vector_name_api.rs:57`). */
  def dropVectorColumn(name: String): Unit =
    commit(read().drop(config.vectorCol(name)), sparseDfChange = false)

  /** Materialize the projection column(s) for a declared payload field —
    * the "create payload index" operation (`update_api.rs:371`,
    * SURVEY.md §2.5): filters on the field then compile against the typed
    * column (TypedResolver) and push down to the parquet scan instead of
    * parsing JSON. Column name: `idx_<key>`; a geo-schema key additionally
    * materializes its `geocell_<key>` prune column
    * ([[Collection.indexProjection]]). The actual values are (re)computed
    * inside [[commit]]'s rematerialization pass — this call just
    * establishes the columns and pays the one rewrite. */
  def buildPayloadIndex(key: String): Unit = {
    val t = config.payloadTypes.getOrElse(key,
      throw new IllegalArgumentException(s"no declared type for payload key '$key'"))
    commit(Collection.applyIndexProjection(config, key, t, read()),
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
    next.commit(Collection.applyIndexProjection(nc, key, t, read()),
      sparseDfChange = false)
    next
  }

  /** Drop a payload index's column(s) (`update_api.rs:407`). */
  def dropPayloadIndex(key: String): Unit =
    commit(read().drop(config.idxCol(key)).drop(config.geoCellCol(key))
      .drop(config.geoCellsCol(key)),
      sparseDfChange = false)

  private def mapPayload(cur: DataFrame, target: Column, f: Column => Column): DataFrame = {
    val p = col(config.payloadCol)
    cur.withColumn(config.payloadCol,
      when(coalesce(target, lit(false)), f(p)).otherwise(p))
  }
}

object Collection {
  /** Largest driver-side id list a by-id probe (upsert admission, bulk
    * by-id resolution) compiles to an `id IN (...)` scan predicate; beyond
    * it the IN expression's own planning cost dominates and the broadcast
    * semi-join takes over. */
  val InProbeMaxIds = 10000

  /** One by-id probe's answer ([[Collection.probeCells]]): the probed rows
    * by stored id, and the id column's type the wire ids coerce to. */
  private final case class Probed(idType: Option[org.apache.spark.sql.types.DataType],
      rows: Map[Any, org.apache.spark.sql.Row]) {
    /** The stored cell of column `c` for the wire id `id`, with the
      * reference's error shapes (`test_query_full.py:1428-1444`, issue
      * #5208 regression): a missing point raises the
      * `CollectionError::PointNotFound` message (`types.rs:913`), a present
      * point lacking the vector the `vector_not_found_error` message
      * (`collection_query.rs:395-397`). */
    def cell(c: String, id: Any, vectorName: String): Any = {
      val r = graft.filters.FilterCompiler.coerceWireIds(Seq(id), idType)
        .headOption.flatMap(k => rows.get(idKey(k)))
        .getOrElse(throw new IllegalArgumentException(
          s"Not found: No point with id $id found"))
      val i = r.fieldIndex(c)
      if (r.isNullAt(i)) throw new IllegalArgumentException(
        s"""Not found: Vector with name "$vectorName" for point $id""")
      r.get(i)
    }
  }

  /** A LongType id column collects Long but wire ids can arrive Int;
    * strings (UUID / u64-tail / string-id tables) compare raw. */
  private def idKey(x: Any): Any = x match {
    case i: Int => i.toLong
    case x => x
  }

  /** A stored dense cell as its wire value: the vector, or a multivector
    * space's matrix. */
  private def denseValue(vc: graft.sources.VectorConfig,
      cell: Any): Either[Seq[Double], Seq[Seq[Double]]] =
    if (vc.multivector)
      Right(cell.asInstanceOf[scala.collection.Seq[scala.collection.Seq[Float]]]
        .map(_.toSeq.map(_.toDouble)).toSeq)
    else Left(cell.asInstanceOf[scala.collection.Seq[Float]].toSeq.map(_.toDouble))

  /** A stored sparse cell (`struct<indices, values>`) as its wire value. */
  private def sparseValue(cell: Any): (Seq[Long], Seq[Double]) = {
    val s = cell.asInstanceOf[org.apache.spark.sql.Row]
    (s.getSeq[Any](0).map {
      case i: Int => i.toLong
      case l: Long => l
    }.toSeq, s.getSeq[Float](1).toSeq.map(_.toDouble))
  }

  /** The dry parse's by-id answers: a cell shaped like the dense space
    * `vc` (exact declared dims), and one shaped like any sparse space. */
  private def denseDummy(vc: graft.sources.VectorConfig): Any =
    if (vc.multivector) Seq(Seq.fill(vc.dim)(0f)) else Seq.fill(vc.dim)(0f)
  private val SparseDummy: Any = org.apache.spark.sql.Row(Seq(0L), Seq(1f))

  /** `df` with a parsed `with_payload` selector applied to its payload
    * column `pc`: a selector reshapes it, None drops it, and a frame
    * without the column passes through. Each endpoint parses its own
    * default (scroll's and `with_lookup`'s is true, query's false). */
  private def selectPayload(df: DataFrame,
      sel: Option[Column => Column], pc: String): DataFrame =
    if (!df.columns.contains(pc)) df
    else sel.fold(df.drop(pc))(f => df.withColumn(pc, f(col(pc))))

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
    // declared IVF: train centroids on the initial corpus (always a fresh
    // fit — create replaces the data, a stale model must not leak in),
    // persist beside the table, and materialize the cell column the commit
    // PARTITIONS by — the physical layout a probe query prunes.
    val coll0 = new Collection(spark, path, config)
    val withCells = withIndexColumns(config, encodeVectors(config, points),
      n => Some(params(n)), { vc =>
        require(vc.datatype == Float32,
          s"ann index on '${vc.name}' requires Float32 storage (got ${vc.datatype})")
        Some(graft.index.IvfIndex.buildAndPersist(
          points, config.vectorCol(vc.name), vc.ann.get.cells, coll0.ivfPath(vc.name)))
      })
    // create REPLACES the collection at `path`: the commit drops the stale
    // data sidecars of a previous collection there like every commit does
    // — the fieldstats file in particular is rebuilt LAZILY, so without
    // that the first `exact:false` count/facet would serve the PREVIOUS
    // collection's statistics (caught by the r11 scale probe: the 500×
    // re-create answered estimates from the 100× sidecar). The returned
    // instance is a fresh one, with no rewrite counted.
    coll0.commit(withCells)
    val coll = new Collection(spark, path, config)
    coll.shardKeySidecar.drop()
    if (params.isEmpty) coll.quantSidecar.drop() else coll.quantSidecar.put(params)
    coll.refreshSparseIdfStats()
    coll
  }

  /** Add the quantized column of every quantized vector, encoded with
    * `quant(name)`, then the IVF cell column of every ann vector, assigned
    * by `cells(vector)`; a vector whose column is absent from `df`, or
    * whose params or model are `None`, gets none. Create fits both on the
    * initial corpus, a config PATCH refits or reuses them, and incoming
    * rows reuse the persisted ones. */
  private[storage] def withIndexColumns(config: CollectionConfig, df: DataFrame,
      quant: String => Option[QuantParams],
      cells: graft.sources.VectorConfig => Option[graft.index.IvfIndex.Model]): DataFrame = {
    def present(acc: DataFrame, vc: graft.sources.VectorConfig) =
      acc.columns.contains(config.vectorCol(vc.name))
    val withQuant = config.vectors.filter(_.quantization.isDefined).foldLeft(df) { (acc, vc) =>
      val vcol = col(config.vectorCol(vc.name))
      (if (present(acc, vc)) quant(vc.name) else None).fold(acc)(qp =>
        acc.withColumn(config.quantCol(vc.name),
          when(vcol.isNotNull, quantEncodeExpr(vc, qp, vcol)).otherwise(lit(null))))
    }
    config.vectors.filter(_.ann.isDefined).foldLeft(withQuant) { (acc, vc) =>
      val vcol = col(config.vectorCol(vc.name))
      (if (present(acc, vc)) cells(vc) else None).fold(acc)(m =>
        acc.withColumn(config.cellCol(vc.name),
          when(vcol.isNotNull, graft.index.IvfIndex.assignExpr(vcol, m))
            .otherwise(lit(null).cast("int"))))
    }
  }

  /** Physical row layout of a table write. Un-partitioned tables sort by
    * id within each write task; partitioned tables (shard key / IVF cells)
    * keep the one-task-per-directory hash layout and sort by
    * (partition cols, id) within the task — in both shapes every parquet
    * row group covers a narrow id span, so `id IN (...)` /
    * `id >= offset` scans skip row groups via min/max stats (PushedFilters
    * at the scan; `StoreSpec` pins the pruning).
    *
    * How an un-partitioned write spreads its rows over tasks:
    *  - `targetFiles = Some(n)` (`compact`): range-partition by id into
    *    `n` tasks, so files hold disjoint id spans;
    *  - `balance` (a commit that brings in rows, see `commit`):
    *    hash-partition by id into exactly `defaultParallelism` tasks — one
    *    balanced file per core, so the next fold and every read scan one
    *    split per core. The count is explicit because AQE does not
    *    coalesce a repartition that names one;
    *  - otherwise the input's own partitioning, with no shuffle: a rewrite
    *    of the table's own rows keeps the file set it read. */
  private[storage] def layout(
      config: CollectionConfig, df: DataFrame,
      targetFiles: Option[Int], balance: Boolean = false): DataFrame = {
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
    if (pc.isEmpty) {
      // Row-group min/max stats are narrow-span because row groups follow
      // the sorted order inside each file, so id lookups and scroll-offset
      // scans skip almost every row group; file-level spans may overlap,
      // which costs only footer reads. A range shuffle on every write was
      // measured at sf0.1 and rejected (its sampling pass inflated every
      // mutation entry ~2×); `compact` is where the disjoint range layout
      // is applied deliberately.
      val spread = targetFiles match {
        case Some(n) => df.repartitionByRange(n, id)
        case None if balance =>
          df.repartition(df.sparkSession.sparkContext.defaultParallelism, id)
        case None => df
      }
      spread.sortWithinPartitions(psort :+ id: _*)
    } else
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

  /** Codec settings of the quantization [[Sidecar]]: each stored params
    * object names its [[QuantParams]] case in a short type hint. */
  private[storage] val QuantFormats: org.json4s.Formats =
    org.json4s.DefaultFormats + org.json4s.ShortTypeHints(
      List(classOf[ScalarQP], classOf[BinaryQP], classOf[PqQP]))

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

  /** (N, per-dim df) of one sparse vector over a set of points. Dims are
    * LONG — the reference's dim space is the full u32
    * (`sparse_vector.rs:17-22`), which Int cannot carry. */
  final case class IdfStat(n: Long, df: Map[Long, Long])

  /** IDF sidecar entry for one sparse name: flat `n`/`df` on an unsharded
    * collection; per-shard-key partials in `sharded` on a custom-sharded
    * one, so scoped writes refresh only their touched tenants. Each form
    * sets only its own fields, so it stores as `{"n", "df"}` or
    * `{"sharded"}`. */
  final case class IdfEntry(
      n: Option[Long] = None,
      df: Option[Map[Long, Long]] = None,
      sharded: Option[Map[String, IdfStat]] = None) {

    /** The collection-wide (N, df) view a query needs: shard-key partials
      * sum driver-side (each point lives in exactly one shard, so the
      * partial counts are disjoint). */
    def merged: (Long, Map[Long, Long]) = sharded match {
      case None => (n.getOrElse(0L), df.getOrElse(Map.empty))
      case Some(parts) =>
        (parts.valuesIterator.map(_.n).sum,
          parts.valuesIterator.map(_.df).foldLeft(Map.empty[Long, Long]) { (acc, m) =>
            m.foldLeft(acc) { case (a, (d, c)) => a.updated(d, a.getOrElse(d, 0L) + c) }
          })
    }
  }

  /** Value-map cap and histogram width for the field-statistics sidecar
    * ([[graft.filters.Cardinality]]): the snapshot stays KB-scale at any
    * table size. */
  private[graft] val StatsTopK = 4096
  private[graft] val StatsBuckets = 64

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
