package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // a TIMESTAMP(NANOS) events.ts reads as a nanos long: never project raw ts
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration: SPARK_GRAFT_ONLY=a,b,c runs (and
    // emits oracles for) just those entries. The driver never sets it.
    // Guard rails (r7 advice): a subset run REFUSES names that match no
    // catalog entry (a typo would otherwise verify nothing, silently), and
    // stamps `__subset__` into oracle_sql.json so a partial artifact can
    // never masquerade as a full verification to a later comparison pass.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names match no catalog entry: ${unknown.mkString(", ")}")
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // subset marker: a partial dump is visibly partial to every later pass
    val marker = Paths.get(s"$outDir/SUBSET_MARKER")
    if (only.isDefined)
      Files.writeString(marker, only.get.toSeq.sorted.mkString("\n"))
    else Files.deleteIfExists(marker)
    spark.stop()
  }
}
