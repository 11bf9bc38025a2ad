package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Wrap a resolved [[BaseRelation]] as a STREAMING DataFrame — what
  * `FileStreamSource.getBatch` does internally for the built-in file
  * source: a DSv1 `Source` must hand MicroBatchExecution a plan with
  * `isStreaming = true`, and both `LogicalRelation`'s flag and
  * `Dataset.ofRows` are `private[sql]`, hence this one-file bridge
  * package (the same accessor shape as the listener-bus drain).
  */
object StreamingRelationBridge {
  def streamingFrom(spark: SparkSession, rel: BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(rel, isStreaming = true))

  /** Wrap an ARBITRARY batch plan as one STREAMING micro-batch — the
    * change-feed source's batches are composed diffs (exceptAll /
    * joins over changed files), not a single relation, so the
    * relation-level flag above can't carry them; the plan is pinned
    * to its RDD with `isStreaming = true` instead (the same
    * LogicalRDD device `stableBatch` uses, flipped streaming).
    */
  def streamingFromPlan(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = true))
  }

  /** Pin a streaming Sink's per-batch DataFrame to its already-planned
    * RDD — the `ForeachBatchSink` technique: re-running arbitrary
    * actions on the raw `addBatch` frame would re-plan the micro-batch
    * source read, which is incorrect for exactly-once sources.
    */
  def stableBatch(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
