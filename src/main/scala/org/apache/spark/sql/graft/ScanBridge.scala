package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** `private[sql]` seam for the DSv2 batch scan
  * ([[graft.io.SnapshotBatchScan]]): builds the SAME serializable
  * parquet read closure `FileSourceScanExec` ships to executors —
  * vectorized reading, predicate pushdown, type promotion (widening)
  * and rebase handling included — without reimplementing a parquet
  * materializer. The vectorized path yields `ColumnarBatch`es
  * disguised as rows (the `FileScanRDD` contract); the wrapper
  * flattens them back to rows for the row-based `PartitionReader`.
  */
object ScanBridge {

  /** Name the file a reader task is on, as `FileScanRDD` and
    * `FilePartitionReader` do, so `input_file_name()` and
    * `input_file_block_start/length()` see it. Readers unset it at
    * close. */
  def setInputFile(path: String, start: Long, length: Long): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(
      SparkPath.fromPathString(path).urlEncoded, start, length)

  def unsetInputFile(): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.unset()

  /** A (absolutePath, fileLength) → row-iterator read function over
    * parquet files with `dataSchema` on disk, projecting
    * `requiredSchema` (positions must match the scan's readSchema)
    * and pushing `filters` into row-group pruning. Serializable —
    * built once on the driver, shipped inside the reader factory.
    */
  /** A ranged read function: (absolutePath, start, length, fileSize)
    * → rows of the row groups whose midpoints land in the range —
    * the same split semantics `FileSourceScanExec` uses, so a large
    * file parallelizes across tasks without double-reading any row
    * group.
    */
  def parquetReadFunc(spark: SparkSession, dataSchema: StructType,
                      requiredSchema: StructType, filters: Seq[Filter],
                      hadoopConf: Configuration,
                      partitionSchema: StructType = new StructType())
      : (String, Long, Long, Long, InternalRow)
        => Iterator[InternalRow] = {
    // returning_batch=false: the vectorized reader hands back ROWS
    // (its internal batch iterated row-wise) - the row-based
    // PartitionReader contract downstream. partitionSchema columns
    // (per-file constants: directory-borne identity values, the file
    // path) are appended after the data columns from each call's
    // partValues row.
    val f = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, partitionSchema, requiredSchema, filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"), hadoopConf)
    (abs: String, start: Long, length: Long, fileSize: Long,
     partValues: InternalRow) =>
      f(PartitionedFile(partValues,
        SparkPath.fromPathString(abs), start, length, Array.empty, 0L,
        fileSize))
        .flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case r => Iterator.single(r)
        }
  }

  /** The COLUMNAR twin of [[parquetReadFunc]]: `ColumnarBatch`es
    * handed through whole (`returning_batch=true`), for the DSv2
    * scan's `createColumnarReader` — Spark then plans the codegen'd
    * `ColumnarToRow` (or operates on batches directly) instead of
    * draining a row iterator, the same hand-off `FileSourceScanExec`
    * gives vectorized parquet. None when the result schema cannot
    * batch (nested types, vectorization off) — callers fall back to
    * the row path.
    */
  def parquetBatchReadFunc(spark: SparkSession, dataSchema: StructType,
                           requiredSchema: StructType,
                           filters: Seq[Filter],
                           hadoopConf: Configuration,
                           partitionSchema: StructType =
                             new StructType())
      : Option[(String, Long, Long, Long, InternalRow)
        => Iterator[ColumnarBatch]] = {
    val result =
      StructType(requiredSchema.fields ++ partitionSchema.fields)
    val fmt = new ParquetFileFormat()
    if (!fmt.supportBatch(spark, result)) return None
    val f = fmt.buildReaderWithPartitionValues(
      spark, dataSchema, partitionSchema, requiredSchema, filters,
      Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "true"), hadoopConf)
    Some((abs: String, start: Long, length: Long, fileSize: Long,
          partValues: InternalRow) =>
      // cast the ITERATOR (erased, no per-element work): an
      // element-level asInstanceOf lambda would first checkcast its
      // input to InternalRow — the iterator's static element type —
      // and throw on every batch
      f(PartitionedFile(partValues,
        SparkPath.fromPathString(abs), start, length, Array.empty, 0L,
        fileSize)).asInstanceOf[Iterator[ColumnarBatch]])
  }
}
