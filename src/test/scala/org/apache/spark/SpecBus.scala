package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered (the listener bus is private to Spark).
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
