package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Core-side shim (the `org.apache.spark`-scope sibling of
  * `sql.graftbridge.Bridge`): re-exports the one `private[spark]`
  * member a metrics collector needs.
  */
object CoreBridge {
  /** Listener events are delivered asynchronously; drain the bus so a
    * just-finished query's task metrics are all counted.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle dependency a completed stage wrote (None for result
    * stages) — the identity of a shuffle for construction-phase
    * counting; `private[spark]` on [[StageInfo]].
    */
  def shuffleDepId(info: org.apache.spark.scheduler.StageInfo): Option[Int] =
    info.shuffleDepId

  /** Drop an RDD's blocks without [[org.apache.spark.rdd.RDD.unpersist]]'s
    * per-call warning that a locally checkpointed RDD cannot be
    * recomputed — the point of freeing a round nothing reads any more.
    */
  def unpersistRDD(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
