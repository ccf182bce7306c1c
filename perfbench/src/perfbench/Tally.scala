package perfbench

import scala.collection.mutable

/** Outcome of every op and state check: answered correctly, answered
  * wrongly, or failed. Known-defect probes that reproduce the documented
  * integer-bound range defect are kept apart: they are no op of the
  * workload and count in neither `attempted` nor `failed`. */
final class Tally {
  private val byKind = mutable.LinkedHashMap.empty[String, Array[Long]]
  private val notes = mutable.ArrayBuffer.empty[String]
  private val Ok = 0; private val Wrong = 1; private val Error = 2
  private var probes = 0L
  private var reproduced = 0L

  private def bump(kind: String, i: Int, note: String): Unit = synchronized {
    byKind.getOrElseUpdate(kind, new Array[Long](3))(i) += 1
    if (note.nonEmpty && notes.length < 20) notes += s"FAIL $kind: ${note.take(400)}"
  }

  def ok(kind: String): Unit = bump(kind, Ok, "")
  def wrong(kind: String, why: String): Unit = bump(kind, Wrong, why)
  def error(kind: String, e: Throwable): Unit =
    bump(kind, Error, s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}")

  /** Judges one request's outcome against its reference. */
  def judge(req: Req, res: Either[Throwable, Array[org.apache.spark.sql.Row]]): Unit = res match {
    case Left(e) => error(req.kind, e)
    case Right(rows) => req.check(rows).fold(ok(req.kind))(wrong(req.kind, _))
  }

  /** Judges a known-defect probe: the documented exception is recorded
    * apart; any other outcome is judged like an op, so a fixed engine's
    * answers are checked and a different failure still counts. */
  def probe(req: Req, res: Either[Throwable, Array[org.apache.spark.sql.Row]]): Unit = {
    synchronized(probes += 1)
    res match {
      case Left(e) if Tally.isCastInvalid(e) => synchronized(reproduced += 1)
      case other => judge(req, other)
    }
  }

  private def sum(i: Int): Long = synchronized(byKind.values.map(_(i)).sum)
  def attempted: Long = synchronized(byKind.values.map(_.sum).sum)
  def failed: Long = sum(Error)
  def knownDefects: (Long, Long) = synchronized((reproduced, probes))
  def wrongOrFailed: Long = sum(Wrong) + sum(Error)
  def errorRate: Double = if (attempted == 0) 0.0 else wrongOrFailed.toDouble / attempted

  def lines: Seq[String] = synchronized {
    byKind.toSeq.map { case (k, a) =>
      val verdict = if (a(Wrong) + a(Error) > 0) "FAIL" else "ok"
      f"check $k%-22s $verdict%-4s attempted=${a.sum}%d ok=${a(Ok)}%d wrong=${a(Wrong)}%d " +
        f"error=${a(Error)}%d"
    } ++ (if (probes > 0) Seq(s"known_defect integer_bound_range reproduced=$reproduced of $probes " +
      "probes (CAST_INVALID_INPUT on an integer range bound over the undeclared float price; " +
      "untimed, outside attempted and failed)") else Nil) ++ notes
  }
}

object Tally {
  /** The integer-bound range defect: Spark's CAST_INVALID_INPUT. */
  def isCastInvalid(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      String.valueOf(t.getMessage).contains("CAST_INVALID_INPUT") ||
        t.getClass.getName.contains("NumberFormatException")
    }
}
