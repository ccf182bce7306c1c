package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into the engine. `build` is the time until the public
  * entry point returns (its eager jobs included), `exec` the time to
  * collect the answer; `parse` is the standalone codec call a traced op
  * makes first. Wall times are epoch milliseconds so they line up with
  * Spark's event times. */
final case class Op(
    seq: Int,
    kind: String,
    group: String,
    traced: Boolean,
    /** Counts towards the per-layer counts that must repeat exactly. */
    counted: Boolean,
    startMs: Long,
    endMs: Long,
    parseNs: Long,
    buildNs: Long,
    execNs: Long,
    items: Long,
    error: Option[Throwable]) {
  def ms: Double = (buildNs + execNs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** Runs ops, records them, and when tracing is on tags each op's Spark jobs
  * with its own job group so the [[Probe]] can attribute them. */
final class Runner(spark: SparkSession) {
  @volatile var traced = false
  private val seq = new AtomicInteger
  private val done = new ConcurrentLinkedQueue[Op]

  def ops: Seq[Op] = done.asScala.toSeq.sortBy(_.seq)

  def call[A, T](kind: String, items: Long, counted: Boolean = false,
      parse: Option[() => Any] = None)
      (build: => A)(exec: A => T): Either[Throwable, T] = {
    val n = seq.incrementAndGet()
    val group = Runner.GroupPrefix + n
    val tr = traced
    val sc = spark.sparkContext
    val startMs = System.currentTimeMillis()
    var parseNs = 0L
    if (tr) {
      sc.setJobGroup(group, kind, interruptOnCancel = false)
      parse.foreach { p =>
        val p0 = System.nanoTime()
        try p() catch { case NonFatal(_) => }
        parseNs = System.nanoTime() - p0
      }
    }
    val t0 = System.nanoTime()
    var t1 = -1L
    val res: Either[Throwable, T] =
      try {
        val a = build
        t1 = System.nanoTime()
        Right(exec(a))
      } catch { case NonFatal(e) => Left(e) }
      finally if (tr) sc.clearJobGroup()
    val t2 = System.nanoTime()
    if (t1 < 0) t1 = t2
    done.add(Op(n, kind, group, tr, counted, startMs, System.currentTimeMillis(),
      parseNs, t1 - t0, t2 - t1, items, res.left.toOption))
    res
  }

  /** Closed loop: `threads` clients each run whole cycles until `seconds`
    * have passed and each has run at least `minCycles`. A client starts
    * another cycle only while its previous one would end before the
    * deadline plus half a cycle, so long cycles do not overrun on
    * average. Returns the wall time in seconds. */
  def loop(threads: Int, seconds: Double, minCycles: Int)(cycle: (Int, Int) => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[Throwable]
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        try {
          var c = 0
          var last = 0L
          while (c < minCycles || System.nanoTime() + last / 2 < deadline) {
            val c0 = System.nanoTime()
            cycle(t, c)
            last = System.nanoTime() - c0
            c += 1
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-client-$t")
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
    (System.nanoTime() - t0) / 1e9
  }
}

object Runner {
  val GroupPrefix = "perfbench-op-"
}
