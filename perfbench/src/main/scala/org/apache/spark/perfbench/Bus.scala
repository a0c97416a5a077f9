package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** The two listener-bus facts a traced run needs that Spark keeps
  * package-private: wait until every posted event has reached the
  * listeners, and how many events the bus dropped on a full queue. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
