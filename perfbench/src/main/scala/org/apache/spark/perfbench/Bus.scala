package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark. The benchmark
  * waits for the bus to empty after each job so that every listener event
  * of that job is counted before the next job starts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
