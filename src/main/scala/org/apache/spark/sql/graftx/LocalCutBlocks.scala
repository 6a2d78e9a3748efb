package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD

/** Frees the blocks of a locally checkpointed RDD without going through
  * `RDD.unpersist`, which logs a WARN for every such RDD ("its lineage has
  * been truncated and cannot be recomputed after unpersisting"). For
  * `graft.core.Materialize.release`, which frees superseded loop-round
  * cuts on purpose; the BPE fit alone frees two per round, so the WARN
  * buried every other warning of a run.
  */
object LocalCutBlocks {
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
