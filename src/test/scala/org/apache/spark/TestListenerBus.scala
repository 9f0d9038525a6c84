package org.apache.spark

/** Test-side access to the one Spark-internal call the job-counting
  * specs need: block until every listener event posted so far has been
  * delivered, so a count read afterwards is complete. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
