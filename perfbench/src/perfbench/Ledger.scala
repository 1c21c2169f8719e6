package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Counts every operation the benchmark attempts. An operation that throws,
  * or whose output fails its check, is listed by name with the reason and
  * is never timed: only checked successes contribute a time. */
final class Ledger {
  var attempted = 0
  val failed = mutable.ArrayBuffer.empty[(String, String)]

  /** Run `op`, then `check` its result (None = correct, Some(reason) =
    * wrong). Returns the result and its wall seconds on success. */
  def run[T](name: String)(op: => T)(check: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(op) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = result match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some(s"check threw ${firstLine(e.getMessage)}") }
    }
    verdict match {
      case Some(reason) =>
        failed += name -> reason
        System.err.println(s"[perfbench] FAILED $name: $reason")
        None
      case None => result.toOption.map(_ -> secs)
    }
  }

  private def firstLine(s: String) =
    Option(s).map(_.linesIterator.take(1).mkString.take(300)).getOrElse("")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
