package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark's tracer. The bus delivers
  * events asynchronously; draining it is how the tracer knows every
  * job-end and task-end event of a finished request has arrived,
  * instead of sleeping a fixed time and hoping.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
