package org.apache.spark

/** Waits until every event posted to the SparkContext's listener bus has been
  * delivered. Listener events arrive asynchronously, so a call's task and
  * query-execution events may land after the call returns; the tracer drains
  * the bus on both sides of a traced call so each event is charged to the
  * call that caused it. The bus is package-private, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
