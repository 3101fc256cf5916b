package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced operation's jobs are all folded before they
  * are read. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
