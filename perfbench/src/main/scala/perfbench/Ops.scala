package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/**
 * Counts every operation the benchmark attempts. An operation fails when
 * its body throws or when its result check returns an error; a failed
 * operation is counted and never timed, so a fast throw can never read
 * as a fast operation.
 */
final class Ops {
  private var attemptedN = 0L
  private var failedN = 0L
  private val messages = ArrayBuffer.empty[String]

  def attempted: Long = attemptedN
  def failed: Long = failedN
  /** the first few failure messages, for the log */
  def failures: Seq[String] = messages.toSeq

  /** Runs `body`, timing it; then runs `check` on the result, untimed.
    * Returns the result and its time in nanoseconds when both succeed. */
  def timed[T](what: String)(body: => T)(check: T => Option[String]): Option[(T, Long)] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    val outcome =
      try Right(body)
      catch { case NonFatal(e) => Left(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val nanos = System.nanoTime() - t0
    val checked = outcome.flatMap { r =>
      try check(r).map(msg => s"$what: $msg").toLeft(r)
      catch { case NonFatal(e) => Left(s"$what check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    checked match {
      case Right(r) => Some((r, nanos))
      case Left(msg) =>
        failedN += 1
        if (messages.length < 20) messages += msg
        None
    }
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d in JSON output")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass} as JSON")
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
