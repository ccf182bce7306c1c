package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.filters.FilterCompiler
import graft.storage.{Collection, UpdateOp}

/** Bridges parsed wire update operations ([[RequestCodec.WireOp]]) onto a
  * [[Collection]]: selector filters compile against the collection's
  * payload resolver, upsert batches materialize as micro-batch DataFrames
  * in the collection's schema, and the WHOLE op list applies as one
  * `applyBatch` — a single table rewrite, preserving the reference's
  * ordered-application semantics (`src/actix/api/update_api.rs:324`).
  */
object UpdateBridge {

  def applyJson(coll: Collection, json: String): Unit =
    apply(coll, RequestCodec.parseUpdateOperations(json))

  def apply(coll: Collection, ops: Seq[RequestCodec.WireOp]): Unit = {
    // strict-mode gate for the WHOLE batch before anything applies
    // (`do_batch_update_points` checks strict mode for all ops first,
    // `src/common/update.rs:782-790`)
    coll.config.strictMode.foreach(sm =>
      StrictMode.verifyUpdate(ops, sm, coll.config.payloadTypes.keySet))
    // The reference applies a batch SEQUENTIALLY and `?`-propagates the
    // FIRST failing op AFTER the earlier ops already landed
    // (`do_batch_update_points`'s per-op loop, `update.rs:800-915`):
    // translate op by op, fold the successful PREFIX into one table
    // rewrite, then surface the failure.
    val ledger = new ExistenceLedger(coll, ops)
    val acc = Seq.newBuilder[UpdateOp]
    var failure: Option[Throwable] = None
    // id-column type AT THIS OP'S PLACE in the fold: an earlier upsert
    // carrying a string id (UUID or u64-tail decimal) widens the table's
    // id column mid-batch, so later id-list predicates must compare as
    // strings — baking the pre-batch Long type would push long-vs-string
    // literals through Spark's double coercion (ids ≥ 2^53 misresolve)
    var idTNow: Option[DataType] = coll.idDataType
    val it = ops.iterator
    while (failure.isEmpty && it.hasNext) {
      val op = it.next()
      try {
        // translate (= validate) BEFORE the existence gate — the reference
        // 422s malformed ops at the API boundary before any routing, and
        // an op that never translates never pays the ledger's probe job
        val translated = toUpdateOps(coll, op, idTNow)
        ledger.step(op)
        acc ++= translated
        op match {
          case RequestCodec.WUpsert(pts, _, _, _)
              if pts.exists(_.id.isInstanceOf[String]) =>
            idTNow = Some(StringType)
          case _ => ()
        }
      } catch {
        // ANY translate failure surfaces after the validated prefix lands
        // (the reference's sequential prefix-lands semantics apply to every
        // `?`-propagated error class, not just validation rejects)
        case scala.util.control.NonFatal(e) => failure = Some(e)
      }
    }
    val prefix = acc.result()
    // when every applied op provably touches only some keys' partition
    // directories, the rewrite is scoped to them (one tenant's cost, not
    // the table's)
    if (prefix.nonEmpty) coll.applyBatch(prefix, ledger.shardScope.getOrElse(Nil))
    failure.foreach(throw _)
  }

  /** The reference's unknown-point 404 on id-list selectors: set/delete/
    * clear/overwrite payload, update_vectors and delete_vectors by ids all
    * raise `No point with id {id} found` for the FIRST id (in wire order)
    * that resolves to no live point — `check_unprocessed_points`
    * (`lib/shard/src/update/helpers.rs:118-128`), called from every id-list
    * arm of `update/payload.rs` and `update/vectors.rs`; plain point
    * DELETES and all by-filter selectors are exempt. `update_vectors`'s
    * `update_filter` only silences points that EXIST and fail the filter
    * (`select_excluded_by_filter_ids` picks from live points,
    * `helpers.rs:60-73`), so existence still gates every named id.
    *
    * On a CUSTOM-sharded collection every update op must select shard keys
    * — there is no `None` hash ring (`shard_holder/mod.rs:95` doc,
    * `:429-438` "Shard key not specified") — and a key-scoped op executes
    * once per selected key, so a named id must live under the scope
    * (`toc/point_ops.rs:489-521` `_update_shard_keys`). This engine keeps
    * one row per point id (an upsert under a new key MOVES the point,
    * where the reference's per-key shards would duplicate it — a
    * documented divergence in undefined-behavior territory), so the scope
    * check is membership in the selected keys' partitions.
    *
    * ONE existence-probe job per wire request (skipped entirely when no op
    * needs it): the union of checked ids scans through an `isin` prune,
    * then `step` replays the batch driver-side so an id upserted by an
    * EARLIER op counts as live and a deleted one as gone. A
    * delete-by-FILTER mid-batch is not simulated (it would need a job per
    * op); the dedicated REST endpoints are single-op requests where this
    * cannot matter. The FAILING op applies nothing here, where the
    * reference's ≤32-id chunks may have touched existing ids before the
    * check fired — unobserved by any reference test, and op-level
    * atomicity is the saner contract for a one-rewrite batch. */
  private final class ExistenceLedger(coll: Collection,
      ops: Seq[RequestCodec.WireOp]) {
    import RequestCodec._
    private def checked(op: WireOp): Option[(Seq[Any], Seq[Any])] = op match {
      case WSetPayload(_, Selector(Some(ids), _, sk), _, _) => Some((ids, sk))
      case WDeletePayload(_, Selector(Some(ids), _, sk)) => Some((ids, sk))
      case WClearPayload(Selector(Some(ids), _, sk)) => Some((ids, sk))
      case WDeleteVectors(Selector(Some(ids), _, sk), _) => Some((ids, sk))
      case WUpdateVectors(points, sk, _) => Some((points.map(_.id), sk))
      case _ => None
    }
    private val idCol = coll.config.idCol
    private val skCol = coll.config.shardKeyCol
    private val idT = coll.idDataType
    // an id the column's type can't hold (uuid vs numeric ids) coerces to
    // itself and simply never matches a live point
    private def keyOf(id: Any): Any =
      FilterCompiler.coerceWireIds(Seq(id), idT).headOption.getOrElse(id)
    // on a sharded collection the probe also resolves every UPSERTED
    // id's CURRENT key — an upsert moving a point between keys must
    // rewrite the moved-away home too, so the scoped-rewrite key set
    // needs it (shardScope below)
    private val upsertIds: Seq[Any] =
      if (skCol.isEmpty) Nil
      else ops.flatMap {
        case WUpsert(pts, _, _, _) => pts.map(_.id)
        case _ => Nil
      }
    private val wanted: Seq[Any] = FilterCompiler.coerceWireIds(
      (ops.flatMap(checked(_).toSeq.flatMap(_._1)) ++ upsertIds).distinct,
      idT)

    // a delete-by-FILTER needs replaying only when a LATER op checks ids
    // (otherwise its effect on `live` is unobservable)
    private val checksFollowFilterDelete: Boolean = {
      var seenFd = false; var need = false
      ops.foreach {
        case WDelete(Selector(None, Some(_), _)) => seenFd = true
        case op => if (seenFd && checked(op).isDefined) need = true
      }
      need
    }

    // LAZY: the probe job only runs when an op actually reaches the gate —
    // a request rejected at translate time (dim/shape/key validation)
    // costs zero jobs here
    private lazy val live: scala.collection.mutable.Map[Any, Option[Any]] = {
      val m = scala.collection.mutable.Map.empty[Any, Option[Any]]
      if (wanted.nonEmpty) {
        val df = coll.read()
        val sel = skCol.fold(df.select(col(idCol)))(sk =>
          df.select(col(idCol), col(sk)))
        sel.filter(col(idCol).isin(wanted: _*)).collect().foreach { r =>
          m.update(r.get(0), if (skCol.isDefined) Option(r.get(1)) else None)
        }
      }
      m
    }

    /** Shard keys the processed ops can touch — selector scopes, upsert
      * target keys, and upserted ids' pre-batch homes. None when the
      * collection isn't custom-sharded or a case falls outside the
      * provable set (id-type widening, a key the bridge can't resolve). */
    private val touched = scala.collection.mutable.LinkedHashSet.empty[Any]
    private var scopeKnown = skCol.isDefined

    def shardScope: Option[Seq[Any]] =
      if (scopeKnown && skCol.isDefined && touched.nonEmpty)
        Some(touched.toSeq)
      else None
    private def scopeOf(op: WireOp): Option[Seq[Any]] = op match {
      case WDelete(sel) => Some(sel.shardKeys)
      case WSetPayload(_, sel, _, _) => Some(sel.shardKeys)
      case WDeletePayload(_, sel) => Some(sel.shardKeys)
      case WClearPayload(sel) => Some(sel.shardKeys)
      case WDeleteVectors(sel, _) => Some(sel.shardKeys)
      case WUpdateVectors(_, sk, _) => Some(sk)
      case _ => None // upsert keys resolve per point in wirePoints
    }

    /** Validate `op` against the replayed state, then fold its effects. */
    def step(op: WireOp): Unit = {
      // keyless updates on a custom-sharded collection reject BEFORE the
      // ids are even routed (`split_by_shard` finds no ring for `None`)
      if (skCol.isDefined && scopeOf(op).exists(_.isEmpty))
        throw new IllegalArgumentException(
          "Wrong input: Shard key not specified")
      checked(op).foreach { case (ids, shardKeys) =>
        ids.foreach { id =>
          val hit = live.get(keyOf(id))
          val inScope = hit.isDefined && (shardKeys.isEmpty || skCol.isEmpty ||
            hit.flatten.exists(k =>
              shardKeys.exists(_.toString == k.toString)))
          if (!inScope) throw new IllegalArgumentException(
            s"Not found: No point with id $id found")
        }
      }
      if (skCol.isDefined) scopeOf(op).foreach(touched ++= _)
      op match {
        case WUpsert(points, _, mode, bodyKey) =>
          // upsert admits new ids AND moves existing ones to the write's
          // key; insert_only leaves existing rows alone; update_only never
          // creates (`update/points/upsert.rs:60-95`). Conditional upserts
          // approximate as their mode (evaluating the filter driver-side
          // would need a job; the admit gate still applies at execution).
          points.foreach { p =>
            val k = keyOf(p.id)
            val existed = live.contains(k)
            val target = p.shardKey.orElse(bodyKey)
            if (skCol.isDefined) {
              // the scoped rewrite must cover the write target AND the
              // id's pre-op home (a move rewrites both directories); an
              // unresolvable key or an id-type widening (first UUID into
              // a numeric table rewrites the id column EVERYWHERE) falls
              // back to the whole-table path
              target match {
                case Some(t) => touched += t
                case None => scopeKnown = false
              }
              live.get(k).flatten.foreach(touched += _)
              if (p.id.isInstanceOf[String] &&
                  !idT.contains(org.apache.spark.sql.types.StringType))
                scopeKnown = false
            }
            mode match {
              case graft.storage.UpdateMode.InsertOnly =>
                if (!existed) live.update(k, target)
              case graft.storage.UpdateMode.UpdateOnly =>
                if (existed) live.update(k, target)
              case _ => live.update(k, target)
            }
          }
        case WDelete(Selector(Some(ids), _, scope)) =>
          ids.foreach { id =>
            if (scope.isEmpty ||
                live.get(keyOf(id)).exists(_.exists(k =>
                  scope.exists(_.toString == k.toString))))
              live.remove(keyOf(id))
          }
        case WDelete(Selector(None, Some(f), scope))
            if checksFollowFilterDelete && wanted.nonEmpty =>
          // replay the filter delete over just the probe's id set (one
          // bounded job) so a later id-list op 404s like the reference.
          // Evaluated against the pre-batch snapshot: a payload mutated
          // EARLIER in the same batch isn't visible to this filter — the
          // single-snapshot probe design; the dedicated REST routes are
          // single-op requests where this cannot matter.
          val df = coll.read()
          val p = new FilterCompiler(coll.resolver(df)).compile(f)
          val sel = Seq(col(idCol)) ++ skCol.map(col).toSeq
          df.filter(coalesce(p, lit(false)) && col(idCol).isin(wanted: _*))
            .select(sel: _*).collect().foreach { r =>
              val inScope = scope.isEmpty || (skCol.isDefined &&
                Option(r.get(1)).exists(k =>
                  scope.exists(_.toString == k.toString)))
              if (inScope) live.remove(r.get(0))
            }
        case _ => ()
      }
    }
  }

  def toUpdateOps(coll: Collection, op: RequestCodec.WireOp): Seq[UpdateOp] =
    toUpdateOps(coll, op, coll.idDataType)

  /** `idT`: the id column's type at this op's position in the batch fold
    * (see the widening tracking in [[apply]]). */
  def toUpdateOps(coll: Collection, op: RequestCodec.WireOp,
      idT: Option[DataType]): Seq[UpdateOp] = {
    import RequestCodec._
    op match {
      case WUpsert(points, None, mode, bodyKey) =>
        Seq(UpdateOp.Upsert(wirePoints(coll, points, bodyKey), mode))
      case WUpsert(points, Some(f), mode, bodyKey) =>
        Seq(UpdateOp.UpsertConditional(wirePoints(coll, points, bodyKey), f, mode))
      // `PointsSelector` is serde-UNTAGGED with the id-list variant first
      // (`point_ops.rs:19-26`): a body carrying BOTH `points` and `filter`
      // deserializes as the id list (the extra field is ignored), so ids
      // take precedence here too — falling through to the filter arm would
      // silently delete every filter match instead of the named points.
      case WDelete(Selector(Some(ids), _, Nil)) => Seq(UpdateOp.DeleteIds(ids))
      case WDelete(Selector(Some(ids), _, shardKeys)) =>
        // shard-scoped id delete: the selector compiles to a filter so the
        // shard condition prunes partitions like the read paths
        Seq(UpdateOp.DeleteByFilter(graft.model.Filter(must = Seq(
          graft.model.HasId(ids), shardKeyCond(coll, shardKeys)))))
      case WDelete(sel) =>
        val base = sel.filter.get
        Seq(UpdateOp.DeleteByFilter(
          if (sel.shardKeys.isEmpty) base
          else base.copy(must = shardKeyCond(coll, sel.shardKeys) +: base.must)))
      case WSetPayload(payload, sel, false, key) =>
        Seq(UpdateOp.SetPayload(payload, selectorPred(coll, sel, idT), key))
      case WSetPayload(payload, sel, true, _) =>
        Seq(UpdateOp.OverwritePayload(payload, selectorPred(coll, sel, idT)))
      case WDeletePayload(keys, sel) =>
        Seq(UpdateOp.DeletePayloadKeys(keys, selectorPred(coll, sel, idT)))
      case WClearPayload(sel) =>
        Seq(UpdateOp.ClearPayload(selectorPred(coll, sel, idT)))
      case WUpdateVectors(points, shardKeys, updateFilter) =>
        // one column edit per (point, vector name); applyBatch still folds
        // the whole list into a single rewrite. A body `shard_key`
        // restricts which shards the edits touch (`UpdateVectors.
        // shard_key`); an `update_filter` restricts to matching points
        // (`schema.rs:1470-1473`).
        val scope = (shardKeyPred(coll, shardKeys).toSeq ++
          updateFilter.map(f =>
            new FilterCompiler(foldResolver(coll, idT)).compile(f)).toSeq)
          .reduceOption(_ && _)
        points.flatMap { p =>
          p.vectors.toSeq.sortBy(_._1).map { case (name, vec) =>
            val target = scope.fold(idPred(coll, Seq(p.id), idT))(
              _ && idPred(coll, Seq(p.id), idT))
            UpdateOp.UpdateVector(name, vecLit(coll, name, vec), target)
          }
        }
      case WDeleteVectors(sel, names) =>
        names.map(n => UpdateOp.DeleteVector(n, selectorPred(coll, sel, idT)))
    }
  }

  /** Selector → boolean Column against the collection's schema (id list or
    * compiled filter; both present = AND, matching the reference's
    * `PointsSelector` which is one-of). A body `shard_key` selector ANDs a
    * partition-pruning condition on the shard-key column, exactly like the
    * read paths' `shardKeyFilter`. */
  def selectorPred(coll: Collection, sel: RequestCodec.Selector): Column =
    selectorPred(coll, sel, coll.idDataType)

  /** `idT`: the id column's type at this op's fold position (see
    * [[apply]]'s widening tracking). */
  def selectorPred(coll: Collection, sel: RequestCodec.Selector,
      idT: Option[DataType]): Column = {
    val parts =
      sel.ids.map(ids => idPred(coll, ids, idT)).toSeq ++
        sel.filter.map(f =>
          new FilterCompiler(foldResolver(coll, idT)).compile(f)).toSeq ++
        shardKeyPred(coll, sel.shardKeys).toSeq
    parts.reduce(_ && _)
  }

  /** The collection's resolver with the id type pinned to the op's fold
    * position (a nested `has_id` inside a selector/update filter must
    * coerce like the top-level id list — see [[apply]]). */
  private def foldResolver(coll: Collection,
      idT: Option[DataType]): graft.filters.FieldResolver =
    new graft.filters.ForwardingResolver(coll.resolver(coll.read())) {
      override def idDataType: Option[DataType] = idT
    }

  private def shardKeyCond(coll: Collection, keys: Seq[Any]): graft.model.Condition =
    graft.model.MatchAny(shardField(coll), keys)

  private def shardKeyPred(coll: Collection, keys: Seq[Any]): Option[Column] =
    if (keys.isEmpty) None
    else Some(col(shardField(coll)).isin(keys: _*))

  private def shardField(coll: Collection): String =
    coll.config.shardKeyCol.getOrElse(throw new IllegalArgumentException(
      "shard_key given but the collection has no shard-key column"))

  private def idPred(coll: Collection, ids: Seq[Any],
      idT: Option[DataType]): Column = {
    val cids = graft.filters.FilterCompiler.coerceWireIds(ids, idT)
    col(coll.config.idCol).isin(cids: _*)
  }

  /** Wire vector value → typed Column literal in the collection's storage
    * shape (dense `array<float>`, multi-dense `array<array<float>>`, sparse
    * `struct<indices, values>`), validated against the declared config. */
  private def vecLit(coll: Collection, name: String,
      vec: RequestCodec.WireVec): Column = {
    import RequestCodec._
    val cfg = coll.config
    def dimCheck(v: Seq[Double]): Unit =
      cfg.vectors.find(_.name == name).foreach(vc =>
        if (v.length != vc.dim) throw new IllegalArgumentException(
          s"Vector dimension error: expected dim: ${vc.dim}, got ${v.length}"))
    val multiSpace = cfg.vectors.exists(vc => vc.name == name && vc.multivector)
    vec match {
      // legacy-API emulation: a single dense value written into a
      // multivector space stores as the 1-token matrix
      // (`TryFrom<VectorInternal> for MultiDenseVectorInternal`,
      // `data_types/vectors.rs:176-190`; `test_multi_vector.py:232-282`)
      case WDenseVec(v) if multiSpace =>
        dimCheck(v)
        typedLit(Seq(v.map(_.toFloat)))
      case WDenseVec(v) =>
        require(cfg.vectors.exists(vc => vc.name == name && !vc.multivector),
          s"dense value for non-dense vector '$name'")
        dimCheck(v)
        typedLit(v.map(_.toFloat))
      case WMultiVec(m) =>
        require(cfg.vectors.exists(vc => vc.name == name && vc.multivector),
          s"multi-dense value for non-multivector '$name'")
        m.foreach(dimCheck)
        typedLit(m.map(_.map(_.toFloat)))
      case WSparseVec(is, vs) =>
        require(cfg.sparse.exists(_.name == name),
          s"sparse value for non-sparse vector '$name'")
        struct(typedLit(is).as("indices"), typedLit(vs.map(_.toFloat)).as("values"))
    }
  }

  /** Wire points → micro-batch DataFrame in the collection's column layout:
    * id + declared vector columns (dense `array<float>` — encoded to the
    * declared element type inside the upsert op — multi-dense matrices,
    * sparse structs) + JSON payload string (+ the shard-key column on a
    * custom-sharded collection). Id type follows the batch (u64 →
    * LongType, UUID string → StringType — `ExtendedPointId`,
    * `types.rs:174-179`).
    *
    * Shard-key contract (`shard_holder/mod.rs:426-437`): each point's key
    * is its own `shard_key` or the body-level one; a shard-keyed
    * collection REJECTS points that resolve no key ("Shard key not
    * specified") — silently NULL-filling the partition column would make
    * the point invisible to every shard-scoped read. A collection
    * WITHOUT custom sharding rejects any shard key on the write. */
  def wirePoints(coll: Collection, points: Seq[RequestCodec.WirePoint],
      bodyShardKey: Option[Any] = None): DataFrame = {
    import RequestCodec._
    require(points.nonEmpty, "upsert batch must not be empty")
    val cfg = coll.config
    // id column type: string when the BATCH carries any UUID or the table
    // already stores string ids (UUID or mixed NumId+Uuid collections —
    // `ExtendedPointId` lets the kinds coexist, `types.rs:174-179`);
    // numeric ids then take their decimal rendering, which can never
    // collide with a canonical UUID. A UUID landing in a numeric-id table
    // widens the table inside the upsert's own rewrite (mergeUpsert).
    val tableIdT = coll.idDataType
    val idType =
      if (points.exists(_.id.isInstanceOf[String]) ||
          tableIdT.contains(StringType)) StringType
      else LongType
    def idVal(id: Any): Any =
      if (idType == StringType) id.toString else id
    val shardKeyOf: RequestCodec.WirePoint => Option[Any] =
      p => p.shardKey.orElse(bodyShardKey)
    // declared-key registry (the shards API surface): once shard keys are
    // explicitly created, a write naming an undeclared key rejects with
    // the reference's message (`shard_holder/mod.rs:432`)
    val declaredKeys: Option[Set[String]] =
      if (cfg.shardKeyCol.isEmpty) None
      else coll.listShardKeys().map(_.map(_.toString).toSet)
    val skField: Option[StructField] = cfg.shardKeyCol match {
      case Some(sk) =>
        // column type follows the existing table (string keys by default,
        // integer keys on an int-sharded table)
        Some(StructField(sk, coll.read().schema(sk).dataType))
      case None =>
        if (bodyShardKey.isDefined || points.exists(_.shardKey.isDefined))
          throw new IllegalArgumentException(
            "shard_key given but the collection has no shard-key column")
        None
    }
    // indices are LONG: the dim space is the full u32
    // (`SparseVector.indices: Vec<u32>`, `sparse_vector.rs:17-22`) —
    // IntegerType would clamp the upper half of the domain
    val sparseType = StructType(Seq(
      StructField("indices", ArrayType(LongType)),
      StructField("values", ArrayType(FloatType))))
    val schema = StructType(
      (StructField(cfg.idCol, idType) +:
        (cfg.vectors.map(vc => StructField(cfg.vectorCol(vc.name),
          if (vc.multivector) ArrayType(ArrayType(FloatType))
          else ArrayType(FloatType))) ++
          cfg.sparse.map(sc => StructField(cfg.sparseCol(sc.name), sparseType))) :+
        StructField(cfg.payloadCol, StringType)) ++ skField.toSeq)
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    points.foreach { p =>
      p.vectors.keys.foreach { n =>
        require(cfg.vectors.exists(_.name == n) || cfg.sparse.exists(_.name == n),
          s"undeclared vector name '$n'")
      }
      def dimCheck(vc: graft.sources.VectorConfig, v: Seq[Double]): Unit =
        if (v.length != vc.dim) throw new IllegalArgumentException(
          s"Vector dimension error: expected dim: ${vc.dim}, got ${v.length}")
      def denseVal(vc: graft.sources.VectorConfig): Any = p.vectors.get(vc.name) match {
        case None => null
        case Some(WDenseVec(v)) if !vc.multivector =>
          dimCheck(vc, v); v.map(_.toFloat)
        // legacy-API emulation: single dense → 1-token matrix
        // (`test_multi_vector.py:232-282`)
        case Some(WDenseVec(v)) if vc.multivector =>
          dimCheck(vc, v); Seq(v.map(_.toFloat))
        case Some(WMultiVec(m)) if vc.multivector =>
          m.foreach(dimCheck(vc, _)); m.map(_.map(_.toFloat))
        case Some(other) =>
          throw new IllegalArgumentException(
            s"vector value shape $other does not match config of '${vc.name}'")
      }
      def sparseVal(name: String): Any = p.vectors.get(name) match {
        case None => null
        case Some(WSparseVec(is, vs)) => Row(is, vs.map(_.toFloat))
        case Some(other) =>
          throw new IllegalArgumentException(
            s"sparse vector '$name' given non-sparse value $other")
      }
      val skVal: Seq[Any] = skField match {
        case None => Nil
        case Some(f) =>
          val key = shardKeyOf(p).getOrElse(throw new IllegalArgumentException(
            s"Shard key not specified for point ${p.id}: collection uses " +
              "custom sharding, every upserted point needs a shard_key " +
              "(point-level or body-level)"))
          declaredKeys.foreach(ks =>
            if (!ks.contains(key.toString)) throw new IllegalArgumentException(
              s"Bad request: Shard key $key not found"))
          // an int-sharded table reads its partition column back as
          // IntegerType (directory-name inference) or LongType — both take
          // the numeric coercion; a non-numeric key surfaces as a
          // wire-shaped bad request (the reference validates shard-key
          // types at the API layer), never a raw NumberFormatException or
          // a String smuggled into the numeric partition column
          Seq(f.dataType match {
            case LongType | IntegerType =>
              val asLong = key match {
                case l: Long => l
                case i: Int => i.toLong
                case other =>
                  try other.toString.toLong
                  catch {
                    case _: NumberFormatException =>
                      throw new IllegalArgumentException(
                        s"Bad request: Shard key $other is not a number")
                  }
              }
              if (f.dataType == IntegerType) asLong.toInt else asLong
            case _ => key.toString
          })
      }
      rows.add(Row.fromSeq(
        (idVal(p.id) +:
          (cfg.vectors.map(denseVal) ++ cfg.sparse.map(sc => sparseVal(sc.name))) :+
          p.payload.orNull) ++ skVal))
    }
    coll.spark.createDataFrame(rows, schema)
  }
}
