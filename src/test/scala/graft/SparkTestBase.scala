package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with a session conf pinned, restoring the prior value. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs started while `body` runs: the count and each job's short
    * call site. Listener events arrive asynchronously, so the jobs are
    * read after a drain window. */
  def jobsDuring[A](body: => A): (Int, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        sites.add(Option(js.properties.getProperty("callSite.short")).getOrElse("?"))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1500)
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = sites.toArray(Array.empty[String]).toSeq
    (all.length, all)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the deployment shape: extensions injected at session build — the
      // path ExtensionsSpec asserts (a newSession() must resolve graft_*
      // from the injected registry with NO explicit register call)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
