package graft
import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture tool for the optimization rounds: writes
  * `.explain("formatted")` of declared queries to one file per key so
  * before/after plan shapes can be diffed and committed (plans/rNN/).
  *
  *   PlanDump <sfDir> <outDir> [key ...]      (no keys = every declared key)
  *
  * Builds its session through [[GraftSession]], as graft.Bench does, so the
  * captured plans are the plans the bench times. Queries whose builder is
  * side-effecting (collection fixtures) still run their builds; only the
  * final DataFrame's plan is captured.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val keys = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    for (k <- keys) {
      try {
        val df = SparkEntry.queries(k)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(outDir.resolve(s"$k.txt"), txt.getBytes("UTF-8"))
        println(s"[plandump] ok $k")
      } catch {
        case e: Throwable => println(s"[plandump] FAIL $k ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
