package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * listener event posted so far has been delivered, so stage records
  * are complete before a phase's numbers are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
