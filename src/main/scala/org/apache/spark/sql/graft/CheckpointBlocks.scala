package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Whether a `localCheckpoint`ed frame can still be read. Its rows live
  * only as cached blocks: an unpersist, a lost executor or a stopped
  * context removes them, and a later job over the frame then fails. A
  * memo that keeps such a frame across calls asks here before reusing it.
  * The block manager master answers on the driver; no job runs. */
object CheckpointBlocks {
  def intact(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    !sc.isStopped && df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .forall { rdd =>
        val ids = Array.tabulate[BlockId](rdd.getNumPartitions)(RDDBlockId(rdd.id, _))
        sc.env.blockManager.master.getLocations(ids).forall(_.nonEmpty)
      }
  }
}
