package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils). Spark 4 made Column
  * backend-agnostic; building a Column from a Catalyst Expression — the
  * documented extension path for custom expressions — now goes through
  * these helpers, which are package-private. This shim is the minimal,
  * public-API-shaped escape hatch.
  */
object VigilShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the storage blocks behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only clears CacheManager entries; a local
    * checkpoint's blocks belong to the internal RDD wrapped in the plan's
    * LogicalRDD and otherwise live until driver GC (the iterative
    * operators' round-accumulation leak). Callers must guarantee the
    * frame is never read again — checkpointed lineage is NOT
    * recomputable.
    */
  def unpersistCheckpointed(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** A checkpointed frame (its plan one `LogicalRDD`) over the same RDD,
    * with the size estimate of `rows` rows. A checkpoint keeps the
    * estimate of the plan it cut, and a join estimates the product of its
    * sides, so a frame joined with itself and checkpointed again squares
    * its estimate each time: after ~20 pointer jumps the driver spent
    * minutes multiplying a BigInt of millions of digits.
    */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = df.queryExecution.analyzed match {
    case lr: LogicalRDD =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      val stats = Statistics(EstimationUtils.getOutputSize(lr.output, rows), Some(rows))
      classic.Dataset.ofRows(session, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
        lr.outputOrdering, lr.isStreaming, lr.stream)(session, Some(stats)))
    case other => throw new IllegalArgumentException(s"not a checkpointed frame: ${other.nodeName}")
  }
}
