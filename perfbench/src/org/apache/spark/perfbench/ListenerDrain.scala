package org.apache.spark.perfbench

/** Blocks until the listener bus has delivered every queued event, so
  * a listener's records are complete when an operation's totals are
  * read. The bus is Spark-internal, hence this package.
  */
object ListenerDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
