package perfbench

import scala.collection.mutable

/** What one benchmark run observed: attempted and failed operations,
  * metrics, and the Spark-side check values the Python side compares
  * against DuckDB. A failure is never dropped: it is counted, logged with
  * its stack trace, and makes the command exit non-zero.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** End-to-end metrics under the benchmark's shared names. */
  val e2e: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** The same numbers under the workload's own names (batch_s, ...). */
  val named: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val checks: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val trace: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val sw = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(sw))
    errors += s"$what: $e"
    System.err.println(s"[perfbench] FAILED $what\n$sw")
  }

  /** Run one operation, counting it; a throw is a failed operation. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(what, e); None }
  }

  /** One correctness check: attempted, and failed unless `ok`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += s"$what: $detail"
      System.err.println(s"[perfbench] MISMATCH $what: $detail")
    }
  }

  def toJson: String = Stats.json(Map(
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "e2e" -> e2e, "named" -> named, "layers" -> layers, "checks" -> checks,
    "trace" -> trace))
}
