package graftbench

import java.lang.management.ManagementFactory

/** Line protocol to the benchmark's Python side: every record is one line
  * `@bench <json object>` on stdout; anything else on stdout is ignored.
  */
object Out {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def emit(fields: (String, Any)*): Unit = {
    val m = scala.collection.immutable.ListMap(fields: _*)
    println("@bench " + json(m))
    Console.out.flush()
  }

  /** Heap in use after a full collection: what the program retains (caches,
    * broadcasts, state) at the moment of the call.
    */
  def liveHeapMb(): Double = {
    // the second collection frees the blocks Spark's cleaner released for
    // objects the first one found unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
}
