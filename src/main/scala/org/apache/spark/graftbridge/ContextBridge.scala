package org.apache.spark.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** `private[spark]` SparkContext calls for [[graft.ops.Pin.release]]
  * and [[graft.ops.Par]]; the same shim pattern as [[ListenerBridge]]. */
object ContextBridge {
  /** Free an RDD's blocks without `RDD.unpersist`'s per-RDD WARN that a
    * local checkpoint cannot be recomputed — the point of a release. */
  def unpersist(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)

  /** A copy of this thread's local properties (job tags, group, description). */
  def localProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` under `props`, then restore the thread's own properties. */
  def withLocalProperties[A](sc: SparkContext, props: Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
