package graftbench

import java.lang.management.ManagementFactory

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Heap in use right after a full collection: the live set, in MB.
    * Call it when the workload is idle, so nothing allocates meanwhile. */
  def heapAfterGcMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // after the first one (broadcasts, shuffle and cached blocks)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  def strs(m: Seq[(String, String)]): String = obj(m.map { case (k, v) => k -> str(v) })

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
