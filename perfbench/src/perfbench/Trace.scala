package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work of one op, summed from the events of the jobs that ran
  * under the op's job group. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var bytesRead, shuffleWrite, shuffleRead, spill = 0L
  var outBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var filesRead, partitionsRead, filesWritten = 0L
  /** (job id, start ms, end ms, bytes the job wrote). */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
  /** (stage id, job id, submitted ms, completed ms, tasks). */
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
}

/** The benchmark's own listener: a `SparkListener` for jobs, stages and
  * task metrics and a `QueryExecutionListener` for Catalyst phase times
  * and plan metrics. Both attribute work to an op through the job group
  * the op runs under (`Runner` sets it). A query execution reaches the
  * group through its SQL execution events, which carry the group and the
  * execution; whichever of the execution's end event and its listener
  * callback arrives second completes the attribution. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobOut = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageStart = mutable.Map.empty[Int, Long]
  private val execGroup = mutable.Map.empty[Long, String]
  private val groups = mutable.Map.empty[String, OpCounters]
  private val endedGroup = new java.util.IdentityHashMap[QueryExecution, String]
  private val awaitingGroup = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])

  private def of(g: String): OpCounters = groups.getOrElseUpdate(g, new OpCounters)

  def counters(group: String): OpCounters = synchronized(of(group))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Runner.GroupPrefix)).foreach { g =>
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
        of(g).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      of(g).jobSpans += ((e.jobId, jobStart.remove(e.jobId).getOrElse(e.time),
        e.time, jobOut.remove(e.jobId).getOrElse(0L)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageJob.get(id).flatMap(jobGroup.get).foreach { g =>
      of(g).stages += 1
      stageStart(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); g <- jobGroup.get(job)) {
      val end = info.completionTime.getOrElse(System.currentTimeMillis())
      of(g).stageSpans += ((info.stageId, job,
        stageStart.remove(info.stageId).getOrElse(end), end, info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); g <- jobGroup.get(job)) {
      val c = of(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        jobOut(job) = jobOut.getOrElse(job, 0L) + m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith(Runner.GroupPrefix))
          .foreach(g => execGroup(s.executionId) = g)
      case end: SparkListenerSQLExecutionEnd =>
        for (g <- execGroup.remove(end.executionId); qe <- Probe.queryOf(end))
          if (awaitingGroup.remove(qe)) attribute(qe, g) else endedGroup.put(qe, g)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(qe)

  private def query(qe: QueryExecution): Unit = synchronized {
    Option(endedGroup.remove(qe)) match {
      case Some(g) => attribute(qe, g)
      case None => awaitingGroup.add(qe)
    }
  }

  private def attribute(qe: QueryExecution, g: String): Unit = {
    val c = of(g)
    val ph = qe.tracker.phases
    c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L).toDouble
    c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L).toDouble
    c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L).toDouble
    scala.util.Try(qe.executedPlan).toOption.iterator.flatMap(Probe.nodes).foreach { node =>
      node.metrics.values.foreach { m =>
        m.name match {
          case Some("number of files read") => c.filesRead += m.value
          case Some("number of partitions read") => c.partitionsRead += m.value
          case Some("number of written files") => c.filesWritten += m.value
          case _ =>
        }
      }
    }
  }
}

object Probe {
  /** The query execution an end event carries (package-private in Spark,
    * public in bytecode). */
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.flatMap(Option(_))

  /** Every physical node that ran, through adaptive wrappers and query
    * stages; reused exchanges are skipped so nothing counts twice. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }
}

/** Minimal listener used with tracing off: only the bytes Spark writes,
  * for the write-amplification figure. */
final class OutputBytes extends SparkListener {
  private val total = new java.util.concurrent.atomic.AtomicLong
  def bytes: Long = total.get
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) total.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
}
