package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the harness needs and Spark keeps package-private:
  * events reach listeners asynchronously, so every counter snapshot waits
  * until the bus has delivered everything posted before it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
