package perfbench

import scala.collection.mutable

/** What one run reports: named values plus the operation tally. The
  * runner maps names onto `BENCHMARK.json` and prints the final line.
  */
final class Record {
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def put(name: String, v: Double): Unit = values(name) = v

  /** Record a failed output check; the run then reports correct=false. */
  def problem(msg: String): Unit = synchronized { problems += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }

  def tally(attempted: Long, failed: Long): Unit = synchronized {
    this.attempted += attempted; this.failed += failed
  }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val vs = values.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""problems": [${problems.map(str).mkString(", ")}], "values": {$vs}}"""
  }
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock Spark stamps its progress reports with.
    */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Progress note on stderr, seconds since the JVM started the harness. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - originNs) / 1e9}%.1fs $what")

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }
}
