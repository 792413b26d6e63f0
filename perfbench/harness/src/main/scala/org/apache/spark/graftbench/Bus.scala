package org.apache.spark.graftbench

/** Listener-bus drain for the benchmark's window boundaries: events are
  * delivered asynchronously, so a window's totals are read only after
  * every event posted inside it has reached the listeners. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
