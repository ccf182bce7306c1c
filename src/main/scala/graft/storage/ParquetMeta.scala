package graft.storage

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parquet-table metadata memo — the repeated-read fast path.
  *
  * Opening a parquet directory costs two kinds of pure DRIVER work before
  * any row is read, and both depend only on the table's files:
  *  - footer-based schema inference: 80–115 ms per `spark.read.parquet(dir)`
  *    (r16 optimization round, sf0.1, local[32]);
  *  - the file listing. A table with more than
  *    `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) partition
  *    directories is listed by a Spark JOB: an unmemoized open of an IVF
  *    collection with 64 cell directories starts one ~290 ms job of 64
  *    tasks (4 cores, 50k points), and an 8-query `queryBatch` opens it 8
  *    times.
  * The query catalogs and the request paths re-open the same unchanged
  * tables and collection directories many times per call. At cluster scale
  * the same cost is an object-store LIST + footer GET per query against an
  * unchanged table — the problem manifest-based table formats exist to
  * remove (optimization guide §6, "file listing").
  *
  * The memo keeps the LISTED RELATION per path: the `HadoopFsRelation`
  * (inferred schema, partition spec and file index) of the first
  * `spark.read.parquet(path)`. Every caller gets a fresh DataFrame over it
  * (`baseRelationToDataFrame`), with fresh attribute ids, so plan instances
  * stay distinct (self-joins and unions resolve as on a fresh read).
  * NO row data or computed result is ever cached: every action still scans
  * the parquet files, and partition filters still prune at the scan.
  *
  * An entry is valid only while the files it listed are unchanged. It is
  * keyed on:
  *  - the path's [[version]], which every table-mutation site bumps through
  *    [[bump]] ([[Collection]]'s `write`/`writeShardScoped`/`deleteShardKey`,
  *    `Collection.create`, [[Catalog.delete]]);
  *  - the modification time of the root directory (one `getFileStatus`, no
  *    listing), so a writer that replaces or appends to the directory
  *    without bumping — a test fixture, another JVM — is still seen;
  *  - the session, since a relation belongs to the session that listed it.
  * A stale entry makes the next read re-list and re-infer from the new
  * footers (id-type widening on upsert is the case that exercises this).
  */
private[graft] object ParquetMeta {

  private val versions = new ConcurrentHashMap[String, java.lang.Long]()

  private final case class Entry(version: Long, mtime: Long, relation: HadoopFsRelation)

  // latest entry per path — stale entries are replaced, so the map is
  // bounded by the number of live table paths
  private val relations = new ConcurrentHashMap[String, Entry]()

  /** Current data version of `path` (0 until first bump). */
  def version(path: String): Long =
    versions.getOrDefault(path, 0L)

  /** Invalidate the memoized relation for `path` — MUST be called by every
    * code path that creates, rewrites, or deletes data under it. */
  def bump(path: String): Unit = {
    versions.merge(path, 1L, (a, b) => a + b)
    relations.remove(path)
    ()
  }

  /** Read `path` as parquet over the memoized relation when current —
    * skipping per-call listing and footer inference — or list, infer and
    * memoize on first touch / after a change. A miss returns the inferring
    * DataFrame itself (one path resolution, not infer + re-read), so
    * fresh-path-per-call workloads like the streaming micro-batch stores
    * stay at the pre-memo cost. A path that is absent or not a plain
    * directory (a glob) reads through `spark.read.parquet` unmemoized. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val v = version(path)
    rootMtime(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(t) =>
        val e = relations.get(path)
        if (e != null && e.version == v && e.mtime == t && (e.relation.sparkSession eq spark))
          spark.baseRelationToDataFrame(e.relation)
        else {
          val df = spark.read.parquet(path)
          df.queryExecution.analyzed match {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
              relations.put(path, Entry(v, t, r))
            case _ =>
          }
          df
        }
    }
  }

  private def rootMtime(spark: SparkSession, path: String): Option[Long] = {
    val p = new Path(path)
    try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }
}
