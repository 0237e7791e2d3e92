package perfbench

import scala.collection.mutable.ArrayBuffer

/** Op kinds the end-to-end latency metrics are split by. */
sealed trait Kind
case object Read extends Kind
case object Write extends Kind

/** Closed-loop op accounting for one measured phase.
  *
  * An op's latency covers only its body, the call into graft. Its check
  * runs after the clock stops. An op whose body throws or whose check
  * fails counts as failed and is never a latency sample.
  */
final class Recorder(val tracer: Tracer) {
  val reads = ArrayBuffer.empty[Double]
  val writes = ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var timedSeconds = 0.0
  /** Rows handed to write ops × the source parquet's bytes per row. */
  var userBytes = 0.0
  val failures = ArrayBuffer.empty[String]
  val byName = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def op[T](kind: Kind, name: String)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val id = tracer.beginOp(name, kind)
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.endOp(id)
    val verdict = out.flatMap { v =>
      try { check(v); Right(v) }
      catch { case e: Throwable => Left(e) }
    }
    verdict match {
      case Right(v) =>
        timedSeconds += dt
        (if (kind == Read) reads else writes) += dt
        byName.getOrElseUpdate(name, ArrayBuffer.empty) += dt
        Some(v)
      case Left(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** A check that belongs to no single op, such as the final table state. */
  def finalCheck(name: String)(check: => Unit): Unit = {
    attempted += 1
    try check
    catch { case e: Throwable =>
      failed += 1
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  def ops: Int = reads.size + writes.size
}

object Recorder {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Thrown by a check whose observed value differs from the model's. */
final class Mismatch(msg: String) extends RuntimeException(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, want $want")
}
