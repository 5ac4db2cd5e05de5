package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced run's job, stream and planning records are
  * complete before it summarizes them. The bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
