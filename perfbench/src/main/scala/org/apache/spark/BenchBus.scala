package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a traced iteration's task and plan records are complete
  * before they are read. `listenerBus` is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
