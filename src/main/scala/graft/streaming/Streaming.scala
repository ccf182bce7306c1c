package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.storage.Collection

/** Structured-Streaming ingestion. qdrant's "streaming" is an ordered
  * update queue (WAL append → async apply, SURVEY.md §2.7 — no event-time
  * semantics); the Spark mapping is micro-batch `foreachBatch` upserts:
  * each batch applies atomically, later batches win per id. */
object Streaming {

  /** Continuous upsert of a point stream into a collection. */
  def upsertStream(
      stream: DataFrame,
      collection: Collection,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) collection.upsert(batch)
      }
      .start()

  /** Streaming exact dedup (north-star pipeline op): drop repeats of a key
    * within the watermark horizon. */
  def dedupStream(
      stream: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming NEAR-dup ingest: each micro-batch drops documents that are
    * minhash-LSH near-duplicates of anything already accepted, then upserts
    * the survivors. The accepted corpus is represented by its band-key set
    * in a persistent parquet store (compact: `bands` longs per kept doc —
    * the wide text never re-reads), so dedup state survives restarts and
    * grows with the KEPT corpus, not the stream. Within a batch, documents
    * sharing a band key are clustered (connected components) and the
    * minimum id survives — the same keep-first contract as the batch path.
    * Arrival order across batches is authoritative: a doc dropped here
    * would also be dropped by re-running batch keep-first dedup over the
    * accepted corpus. */
  def nearDupUpsertStream(
      stream: DataFrame,
      collection: Collection,
      idCol: String,
      textCol: String,
      keyStorePath: String,
      checkpoint: String,
      k: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokensWs
    import graft.functions.TextKernels
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // (id, band-key) pairs are referenced by FIVE downstream branches
          // (store join, anti-join, the pair self-join twice, the band
          // append); persisting them evaluates the shingle+minhash kernel —
          // the expensive per-row work — once per batch instead of five
          // times. Micro-batch-sized state, dropped before the batch ends.
          val keys = batch.select(col(idCol), explode(
            TextKernels.minhashBandKeysCol(
              TextKernels.shingleHashSetCol(tokensWs(col(textCol)), k),
              bands, rowsPerBand)).as("bkey"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // both pins are released on the exception path too
          try {
            val store: DataFrame =
              if (new java.io.File(keyStorePath).exists())
                // relation-memoized like every other repeated open — the
                // per-batch append below bumps the path version
                graft.storage.ParquetMeta.read(s, keyStorePath)
              else s.createDataFrame(
                s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("bkey",
                    org.apache.spark.sql.types.LongType, nullable = false))))
            // cross-batch: any key hit against the accepted set drops the doc
            val dupIds = keys.join(store, "bkey").select(col(idCol)).distinct()
            val fresh = batch.join(dupIds, Seq(idCol), "left_anti")
            val freshKeys = keys.join(dupIds, Seq(idCol), "left_anti")
            // in-batch: cluster on shared band keys, keep-first per component
            val pairs = freshKeys.as("x").join(freshKeys.as("y"),
                col("x.bkey") === col("y.bkey") &&
                  col(s"x.$idCol") < col(s"y.$idCol"))
              .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
              .distinct()
            // the kept set feeds TWO actions (the collection upsert and the
            // band-key append below); without pinning, the second action
            // re-ran the whole per-batch funnel — store read + anti-joins +
            // pair join + the components aggregation (r17 optimization,
            // guide §5: reuse only when recomputing costs more than the
            // memory — micro-batch-sized here, dropped before the batch ends)
            val reps = graft.pipeline.Dedup
              .nearDupRepresentatives(fresh, idCol, pairs)
              .filter(col("keep") === 1).drop("keep", "component")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              collection.upsert(reps)
              freshKeys.join(reps.select(col(idCol)), Seq(idCol))
                .select("bkey").distinct()
                .write.mode("append").parquet(keyStorePath)
              graft.storage.ParquetMeta.bump(keyStorePath)
            } finally reps.unpersist()
          } finally keys.unpersist()
          ()
        }
      }
      .start()
  }

  /** Streaming front-end of shard assembly: chunk each arriving document
    * into context windows and apply the deterministic language-mixture
    * predicate — both STATELESS narrow transforms, so they run directly on
    * the streaming DataFrame (no state store, no watermark) and produce
    * exactly the rows the batch path would. The mixture key is
    * `id "#" chunk_idx`, so a document's chunks sample independently and
    * identically whether it arrives in one batch or ten. Shard PACKING is
    * deliberately absent: it is a global prefix sum over a total order —
    * a batch finalization over the staged chunk table
    * ([[graft.pipeline.Sharding.packShards]]), not a per-row decision. */
  def chunkMixStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    import org.apache.spark.sql.functions._
    val chunks = graft.pipeline.Sharding.chunkSequences(
        stream, idCol, textCol, chunkTokens, stride, keepCols = Seq(groupCol))
      .withColumn("chunk_uid",
        concat(col(idCol).cast("string"), lit("#"), col("chunk_idx")))
    graft.pipeline.Sharding.mixtureSample(
      chunks, "chunk_uid", groupCol, rates, defaultRate)
  }

  /** Windowed event-rate aggregation over a point-update stream — the
    * monitoring view a 100 TB ingest pipeline runs alongside upserts. */
  def rateByWindow(
      stream: DataFrame,
      tsCol: String,
      windowLength: String,
      watermark: String,
      groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    stream.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), windowLength) +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
  }
}
