package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Releases the blocks of a locally checkpointed RDD whose holder is done
  * with it. `RDD.unpersist` warns on every such call, since the RDD cannot
  * be recomputed afterwards; a holder that drops the RDD with its blocks
  * releases it on purpose, once per frame, and would log that warning on
  * every tick. Lives under org.apache.spark for `SparkContext.unpersistRDD`.
  */
object CheckpointRelease {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
