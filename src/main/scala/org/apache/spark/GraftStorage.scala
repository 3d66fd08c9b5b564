package org.apache.spark

/** Frees an RDD's cached blocks through Spark's own `unpersistRDD`
  * (`private[spark]`), the call `RDD.unpersist` makes after its WARN
  * that a locally checkpointed RDD cannot be recomputed. For a cut frame
  * graft no longer reads, that WARN reports nothing.
  */
object GraftStorage {
  def free(sc: SparkContext, rddId: Int): Unit = sc.unpersistRDD(rddId, blocking = false)
}
