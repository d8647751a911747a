package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Bridge into Spark's `private[spark]` listener bus and job-group keys, so
  * graft can register a listener once per context and wait for posted
  * events to reach it instead of sleeping. */
object GraftListenerBridge {
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
  /** The thread-local properties `SparkContext.setJobGroup` writes. */
  val JobGroupKeys: Seq[String] = Seq(JobGroupKey,
    SparkContext.SPARK_JOB_DESCRIPTION, SparkContext.SPARK_JOB_INTERRUPT_ON_CANCEL)

  def find[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Option[T] =
    sc.listenerBus.findListenersByClass[T]().headOption

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
