package perfbench

import scala.collection.mutable.ArrayBuffer

/** One attempted operation of a run. `ms` is the timed window only (the
  * op itself); a failed op keeps its time out of every latency figure.
  * `phase` is "warmup" for the untimed ops before the measured loop: they
  * count as attempted (and as failed when they fail) but are never timed. */
final case class OpRecord(kind: String, name: String, ms: Double,
                          ok: Boolean, error: String,
                          info: Map[String, Any] = Map.empty,
                          phase: String = "measure") {
  def toMap: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "ms" -> ms, "ok" -> ok, "error" -> error, "phase" -> phase) ++ info
}

/** Runs timed operations and counts failures loudly: an op that throws,
  * or whose result its check rejects, is recorded as failed and never as
  * a timing. Checks run after the clock stops, so they cost no op time. */
final class Runner {
  val records = new ArrayBuffer[OpRecord]()

  /** Time `op`, then run `check` on its result outside the timed window.
    * `check` returns None when the answer is right, else why it is wrong.
    * Returns the result when the op succeeded and its answer checked. */
  def attempt[T](kind: String, name: String)(op: => T)(
      check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(op) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        records += OpRecord(kind, name, ms, ok = false, s"threw: ${Runner.describe(e)}")
        None
      case Right(v) =>
        val verdict = try check(v) catch {
          case e: Throwable => Some(s"check threw: ${Runner.describe(e)}")
        }
        verdict match {
          case None =>
            records += OpRecord(kind, name, ms, ok = true, null)
            Some(v)
          case Some(why) =>
            records += OpRecord(kind, name, ms, ok = false, s"wrong answer: $why")
            None
        }
    }
  }

  /** Attach figures (plan time, rows, access path) to the last record. */
  def annotate(info: (String, Any)*): Unit =
    if (records.nonEmpty)
      records(records.size - 1) = records.last.copy(info = records.last.info ++ info)

  /** Mark every op recorded so far as a warm-up op: still counted in
    * `attempted` and `failed`, left out of every timing. */
  def endWarmup(): Unit = records.mapInPlace(_.copy(phase = "warmup"))

  def attempted: Int = records.size
  def failed: Int = records.count(!_.ok)
  def okMs(kind: String): Seq[Double] =
    records.collect { case r if r.ok && r.kind == kind && r.phase != "warmup" => r.ms }.toSeq
}

object Runner {
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${e.getClass.getName}: ${msg.take(400)}"
  }
}
