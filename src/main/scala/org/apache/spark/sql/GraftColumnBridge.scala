package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made the Expression-backed
  * Column constructor private[sql] (`classic.ExpressionUtils`); custom
  * native expressions need this one-file shim inside the package — the
  * usual pattern for Spark extension libraries.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Deterministically free a dataset's storage: cache-manager entries
    * via `unpersist`, plus the underlying RDD blocks of
    * `localCheckpoint`-ed frames (which the cache manager does not
    * track — without this, checkpoint blocks linger until GC).
    * A locally checkpointed RDD's blocks are dropped through the
    * context directly: `RDD.unpersist` does the same, but first logs a
    * "lineage has been truncated" WARN for every such RDD.
    */
  def freeStorage(df: Dataset[_]): Unit = {
    df.unpersist()
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD =>
        if (lr.rdd.checkpointData.exists(
            _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
          lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
        else lr.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Coalesce a localCheckpoint-ed frame to read-sized output splits
    * before writing it out. The checkpointed RDD keeps the source
    * plan's task partitioning (a small batch staged across 32 tasks
    * would append 32 shard files per fold — the §6 small-files trap
    * the old write-to-scratch-and-read-back staging avoided by
    * re-packing splits on the read). Sizing is scale-adaptive: actual
    * stored bytes from the block manager over
    * `spark.sql.files.maxPartitionBytes` (the in-memory size
    * overestimates the parquet-encoded result, so files land under the
    * split target — the safe side). Frames with no checkpointed RDD or
    * no reported blocks (nothing stored yet) pass through unchanged.
    */
  def packedForWrite(df: Dataset[Row]): Dataset[Row] = {
    val ids = df.queryExecution.analyzed.collect {
      case lr: execution.LogicalRDD => lr.rdd.id
    }.toSet
    if (ids.isEmpty) df
    else {
      val stored = df.sparkSession.sparkContext.getRDDStorageInfo
        .filter(i => ids.contains(i.id))
      if (stored.isEmpty) df
      else {
        val bytes = stored.map(i => i.memSize + i.diskSize).sum
        val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
        df.coalesce(math.max(1L, (bytes + target - 1) / target).toInt)
      }
    }
  }
}
