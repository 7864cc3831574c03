package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a traced op's jobs and micro-batches are all
  * recorded before the op's numbers are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
