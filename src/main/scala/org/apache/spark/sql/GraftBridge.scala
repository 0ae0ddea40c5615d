package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark 4's private[sql] Column↔Expression conversions.
 * Spark 4 made Column implementation-agnostic; classic-mode extensions
 * (like this engine's custom Catalyst expressions) use the same pattern
 * Spark's own `org.apache.spark.sql.classic` internals use.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /**
   * A checkpointed frame whose size estimate is `rows` rows.
   *
   * A checkpoint's LogicalRDD inherits the optimizer's size estimate of
   * the plan it materialized, and a join's estimate is the product of its
   * sides. A loop that joins its own previous checkpoint k times per round
   * multiplies the digits of that number by about k every round: by round
   * 12 of a drift chain the BigInt products cost seconds and double with
   * each round. Iterative operators that know their state's row count
   * (Dedup.components observes it on the checkpoint job) reset the
   * estimate here, which also lets the planner broadcast small state.
   */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val lr = ds.logicalPlan.asInstanceOf[execution.LogicalRDD]
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(lr.output) * rows,
      rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(ds.sparkSession,
      lr.copy()(ds.sparkSession, Some(stats), Some(lr.constraints)))
  }

  /**
   * Deterministically release the RDD blocks backing a
   * `localCheckpoint`/`checkpoint`-ed Dataset. `df.unpersist()` is a
   * NO-OP for these — the blocks are RDD-level persisted, not
   * CacheManager entries — so without this they live in executor storage
   * until the ContextCleaner notices the RDD is garbage (i.e. a driver
   * GC of unpredictable timing). Iterative operators (Dedup.components,
   * Knn) release superseded per-round state through here.
   *
   * SAFETY: a checkpointed plan's lineage is truncated — the blocks ARE
   * the data. Only call once nothing derived from the Dataset will run
   * again; a later action over a released checkpoint fails.
   */
  def releaseCheckpointBlocks(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
