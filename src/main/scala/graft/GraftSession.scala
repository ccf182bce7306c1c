package graft

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one place a local engine session is built. Every entry point (the
  * `graft.*` mains, the test base, `tools/plancap`) starts here, so their
  * settings cannot drift apart. Beyond the plain settings:
  *
  *  - `nanosAsLong`: a TIMESTAMP(NANOS) parquet column reads as a long of
  *    nanoseconds since the epoch (harmless for microsecond columns);
  *  - [[GraftExtensions]] injected, so `graft_*` functions resolve in
  *    `spark.sql` and in every `newSession()`;
  *  - WindowExec's single-partition warning silenced: every partitionless
  *    window in the engine ranks an audited, bounded (≤ k+offset rows)
  *    candidate list (see the Fusion/Search scaladocs).
  *
  * JVM flags cannot be set from here: every launch reads them from
  * `tools/jvm.opts` (`java @tools/jvm.opts ...`; build.sbt passes the same
  * file to forked runs and tests). */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    charsetChecked
    spark
  }

  /** Spark's VARIANT reader decodes stored strings with the JVM's default
    * charset (`VariantUtil` uses `new String(bytes, off, len)`), so under
    * any other default every non-ASCII payload string reads back wrong.
    * A warning, not a failure: a launch that skips `tools/jvm.opts` still
    * answers every ASCII payload correctly. */
  private lazy val charsetChecked: Unit =
    if (Charset.defaultCharset != StandardCharsets.UTF_8)
      LogManager.getLogger(getClass).warn(
        s"default charset is ${Charset.defaultCharset}, not UTF-8: non-ASCII payload " +
          "strings read through VARIANT will be wrong; launch with java @tools/jvm.opts")
}
