package org.apache.spark.graftspec

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test-side view of a context's listener bus, which Spark keeps
  * `private[spark]`: the listeners of class `T` registered right now. */
object ListenerBusProbe {
  def registered[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
