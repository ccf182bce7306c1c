package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  /** Listed-relation memoized ([[graft.storage.ParquetMeta]]): the test
    * tables are immutable inputs, so re-listing them and re-inferring their
    * schema from parquet footers on every load was pure per-call driver
    * overhead (measured 80–90 ms/call at sf0.1). Rows are NOT cached —
    * every action still scans the files. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.storage.ParquetMeta.read(spark, s"$dir/$name.parquet")

  /** Make sure a per-row-expensive stage (JSON parse, tokenize, hash kernel)
    * runs with at least the session's default parallelism. A single small
    * parquet file scans as one partition, serializing the stage; at real
    * scale inputs already have plenty of splits and this is a no-op (no
    * shuffle added). The few/many decision reads the relation's file list
    * (already materialized at load), NOT `df.rdd` — instantiating the RDD
    * lineage per pipeline entry costs a full physical-planning pass. A
    * multi-file table whose files each split further is treated as "enough
    * parallelism" (file count ≥ cores only happens well past the
    * one-small-file regime this guards). */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val files = df.inputFiles
    val few =
      if (files.nonEmpty) files.length < target
      else df.rdd.getNumPartitions < target // non-file plan (test/streaming DF)
    if (few) df.repartition(target) else df
  }

  /** Fetch one embedding vector by id (driver-side; qdrant's
    * recommend-by-id resolve step, `lib/collection/src/collection/query.rs:456`). */
  def embeddingOf(spark: SparkSession, dir: String, vecId: Long): Seq[Double] =
    embeddingFrom(load(spark, dir, "embeddings"), "vec_id", "embedding", vecId)

  /** `lookup_from`: resolve a query vector by id against an arbitrary OTHER
    * collection/table and vector column (`LookupLocation`,
    * `lib/api/src/rest/schema.rs:608-613,1119-1132` — "the location to use
    * for IDs lookup, if not specified use the current collection"). */
  def embeddingFrom(lookup: DataFrame, idCol: String, vecCol: String, id: Any): Seq[Double] =
    lookup.filter(col(idCol) === org.apache.spark.sql.functions.lit(id))
      .select(vecCol)
      .head().getSeq[Float](0).toSeq.map(_.toDouble)

  /** `lookup_from.shard_key` (`ShardKeySelector` on the lookup location,
    * `lib/api/src/rest/schema.rs:1122-1133`): restrict the foreign-id
    * resolve to the named shard(s). Shard keys map to a partition column in
    * our model, so the filter prunes the resolve scan to those partitions —
    * and disambiguates ids that repeat across shards (qdrant ids are only
    * unique per shard key within a custom-sharded collection). */
  def embeddingFromShards(lookup: DataFrame, shardCol: String, shardKeys: Seq[Any],
      idCol: String, vecCol: String, id: Any): Seq[Double] =
    embeddingFrom(lookup.filter(col(shardCol).isin(shardKeys: _*)), idCol, vecCol, id)
}
