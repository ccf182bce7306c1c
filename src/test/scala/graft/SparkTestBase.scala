package graft

import org.apache.spark.GraftBus
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
    * read once the listener bus has delivered every posted event. */
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
      GraftBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val all = sites.toArray(Array.empty[String]).toSeq
    (all.length, all)
  }
}

object SparkTestBase {
  // the deployment shape, extensions included: ExtensionsSpec asserts a
  // newSession() resolves graft_* from the injected registry
  lazy val session: SparkSession = GraftSession.local(4)
}
