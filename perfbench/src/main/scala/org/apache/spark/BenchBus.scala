package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so that
  * every task/job/SQL event of a measured interval has been delivered to its
  * observers before the interval's counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
