package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Local checkpoints: one that costs no job of its own, and whether one
  * can still be read. */
object CheckpointBlocks {

  /** `df.localCheckpoint()` without its job: the frame over `df`'s rows,
    * and those rows, which the caller's first job over them (or over an
    * RDD derived from them) stores and checkpoints. That job must compute
    * every partition; a partition it skips is computed by one more job
    * when it ends. `localCheckpoint` builds its frame the same way, but
    * under a SQL execution of its own and followed by a counting job. */
  def deferred(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rows = ds.queryExecution.toRdd.map(_.copy())
    rows.localCheckpoint()
    (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, isStreaming = false)), rows)
  }

  /** Whether a `localCheckpoint`ed frame can still be read. Its rows live
    * only as cached blocks: an unpersist, a lost executor or a stopped
    * context removes them, and a later job over the frame then fails. A
    * memo that keeps such a frame across calls asks here before reusing it.
    * The block manager master answers on the driver; no job runs. */
  def intact(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    !sc.isStopped && df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .forall { rdd =>
        val ids = Array.tabulate[BlockId](rdd.getNumPartitions)(RDDBlockId(rdd.id, _))
        sc.env.blockManager.master.getLocations(ids).forall(_.nonEmpty)
      }
  }
}
