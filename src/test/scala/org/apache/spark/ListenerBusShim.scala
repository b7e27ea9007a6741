package org.apache.spark

/** Test access to the context's asynchronous listener bus: specs that
  * read SQL executions through a `QueryExecutionListener` drain it
  * instead of sleeping for the events to arrive. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
