package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Table}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** `private[sql]` seam for the DSv2 batch WRITE path
  * ([[graft.io.SnapshotBatchWrite]]): builds the SAME serializable
  * parquet `OutputWriterFactory` Spark's own `FileFormatWriter`
  * ships to executors — compression codec from the session conf,
  * `ParquetWriteSupport` schema wiring, output-timestamp-type and
  * rebase settings included — so files written by a DSv2
  * `DataWriter` are byte-compatible with the V1
  * `DataFrameWriter.parquet` files the store committed historically.
  * Without this seam the writer factory (a `sql`-private class
  * hierarchy) could not be constructed from library code.
  */
object WriteBridge {

  /** Append `df`'s rows to `table` as a DSv2 append on `spark`, the
    * plan an `INSERT INTO` runs, without a catalog entry: the
    * table's write declares its distribution and ordering (its
    * transforms resolve through `functions`), Spark plans them, the
    * tasks write and the batch commit runs before this returns. The
    * table's schema must be `df`'s.
    */
  def append(spark: SparkSession, table: Table, df: DataFrame,
             functions: FunctionCatalog): Unit = {
    Bridge.ofRows(spark, AppendData.byPosition(
      DataSourceV2Relation.create(table, Some(functions), None),
      Bridge.logicalPlan(df)))
    ()
  }

  /** Everything a task needs to open parquet writers: the prepared
    * factory plus the job's Hadoop conf (Spark's serializable
    * wrapper — `Configuration` itself is not serializable).
    */
  final case class TaskWriteSupport(
      factory: OutputWriterFactory,
      conf: SerializableConfiguration) extends Serializable {

    /** A per-task Hadoop context — parquet-mr reads codec/page
      * settings from it. Fresh `Configuration` copy per task: Hadoop
      * conf objects are not thread-safe and `local[32]` runs many
      * tasks in one JVM.
      */
    def context(partitionId: Int, attemptNumber: Int)
        : TaskAttemptContext = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-write", 0), TaskType.MAP,
          partitionId),
        attemptNumber)
      new TaskAttemptContextImpl(
        new org.apache.hadoop.conf.Configuration(conf.value), attempt)
    }

    def fileExtension(ctx: TaskAttemptContext): String =
      factory.getFileExtension(ctx)

    def newWriter(path: String, dataSchema: StructType,
                  ctx: TaskAttemptContext): OutputWriter =
      factory.newInstance(path, dataSchema, ctx)
  }

  /** Credit a file a DSv2 task wrote to the task's output metrics, as
    * Spark's own file writer does; Spark's DSv2 write task leaves
    * them at zero, and listeners and the UI read written bytes and
    * rows there. A no-op outside a task.
    */
  def recordOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val om = tc.taskMetrics().outputMetrics
      om.setBytesWritten(om.bytesWritten + bytes)
      om.setRecordsWritten(om.recordsWritten + records)
    }

  /** Prepare a parquet write of `dataSchema` (PHYSICAL column names)
    * under the session's parquet settings; `extraConf` carries
    * per-table Hadoop keys (the store's `write.bloom.columns` →
    * `parquet.bloom.filter.enabled#col`).
    */
  def parquetWriteSupport(spark: SparkSession, dataSchema: StructType,
                          extraConf: Map[String, String])
      : TaskWriteSupport = {
    val conf = spark.sessionState.newHadoopConf()
    extraConf.foreach { case (k, v) => conf.set(k, v) }
    val job = Job.getInstance(conf)
    val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty,
        dataSchema)
    // snapshot-store files always write timestamps as INT64 MICROS,
    // whatever the session writes elsewhere: legacy INT96 carries no
    // usable min/max statistics (its ordering is deprecated), so a
    // store written with it could never commit the 'U'-kind bounds
    // that make `WHERE ts BETWEEN a AND b` prune at the manifest.
    // ParquetWriteSupport reads this key from the TASK-side hadoop
    // conf prepareWrite populated — overriding here scopes the
    // choice to store files only (Verify result dumps and user
    // sinks keep the session default, which external readers
    // interpret as tz-naive).
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    TaskWriteSupport(factory,
      new SerializableConfiguration(job.getConfiguration))
  }
}
