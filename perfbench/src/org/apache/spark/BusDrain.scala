package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced operation's task and plan events are all counted before its
  * figures are read. The bus is package-private; this one-liner lives in
  * Spark's package to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
