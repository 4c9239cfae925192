package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** The two listener-bus calls the benchmark needs that Spark keeps
  * package-private: draining the bus before counters are read, and
  * finding an already registered listener so installation is idempotent. */
object WhbenchBus {
  /** Block until every posted event has reached the listeners. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def registered[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]().toSeq
}
