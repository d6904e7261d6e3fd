package org.apache.spark

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.util.ListenerBus

/** What is registered on a context's listener bus, so a test can tell
  * whether a listener was removed. Lives in this package only for
  * access. */
object BusListeners {
  // each session's query listeners sit on one of these, itself a
  // listener on the context's bus (the class is private to Spark SQL)
  private val sessionBus = ClassTag[SparkListenerInterface](
    Class.forName("org.apache.spark.sql.util.ExecutionListenerBus"))

  /** The query listeners of every session of `sc`. */
  def queryListeners(sc: SparkContext): Seq[Any] =
    sc.listenerBus.findListenersByClass()(sessionBus).flatMap {
      case b: ListenerBus[_, _] => b.listeners.asScala
      case _ => Nil
    }

  /** The SparkListeners of exactly class `T` on `sc`'s bus. */
  def sparkListeners[T <: SparkListenerInterface: ClassTag](
      sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
