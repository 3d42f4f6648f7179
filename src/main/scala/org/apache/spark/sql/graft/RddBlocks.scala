package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Frees an RDD's cached blocks. `RDD.unpersist` warns on every locally
  * checkpointed RDD that its lineage is truncated; graft frees its local
  * checkpoints on purpose once every reader is done, so this calls the
  * `SparkContext` method `unpersist` ends in, which is `private[spark]`.
  */
object RddBlocks {
  def free(rdd: RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)
}
