package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => VSortOrder, Expression => VExpression}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.graft.WriteBridge
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark-NATIVE row-level SQL DML for snapshot tables — the
  * `SupportsRowLevelOperations` + `SupportsDelta` integration, so
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` plan through Spark's own
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` rewrites — the one route SQL DML takes:
  *
  *   - the rowId is the store's own MERGE-ON-READ row identity —
  *     `(__graft_file, __graft_pos)`, the metadata columns
  *     [[SnapshotBatchScan]] emits from whole-file position-counted
  *     reads — so "delete this row" lands as an O(matched rows)
  *     positional-delete entry, never a file rewrite;
  *   - updated/merged rows write as ordinary data files through the
  *     SAME [[SnapshotWriterFactory]] the append path uses (directory
  *     derivation, rolling per-partition writers, parquet settings
  *     identical);
  *   - the write declares distribution/ordering over the table's
  *     transforms PLUS the rowId file, so Spark clusters deletes by
  *     target file and inserts by target partition in one planned
  *     shuffle;
  *   - the commit is ONE manifest claim strictly pinned to the
  *     version the operation's scan read
  *     ([[Snapshots.commitDeltaV2]]) — any concurrent commit refuses
  *     loudly (the named positions would be stale), the store's
  *     documented DML posture.
  *
  * Spark still routes exactly-translatable simple DELETEs onto the
  * metadata-only [[org.apache.spark.sql.connector.catalog.SupportsDelete]]
  * path (`OptimizeMetadataOnlyDeleteFromTable`), so this machinery
  * only pays for predicates that genuinely need a scan — subqueries,
  * non-translatable functions, MERGE.
  */
private[graft] final class GraftRowLevelOperation(
    table: GraftTable,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-row-level ${cmd.toString.toLowerCase} ${table.name()}"

  /** The DSv2 scan pinned at the table's load version — the one scan
    * shape that can emit the (file, pos) rowId. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = table.rowLevelScanBuilder()

  override def newWriteBuilder(info: LogicalWriteInfo)
      : DeltaWriteBuilder = new DeltaWriteBuilder {
    override def build(): DeltaWrite = new GraftDeltaWrite(
      table.snapshotPath, table.name(), cmd, table.pinnedVersion, info)
  }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(SnapshotBatchScan.MetaFileCol),
    Expressions.column(SnapshotBatchScan.MetaPosCol))
}

/** COPY-ON-WRITE row-level operation (table property
  * `dml.mode = 'copy-on-write'`): no `SupportsDelta`, so Spark's
  * rewrites plan a group-based `ReplaceData` — the operation's scan
  * reads the MATCHED files (runtime group filtering on the
  * `__graft_file` metadata column prunes unmatched ones before any
  * rewrite IO), the write lands those groups' surviving + updated
  * rows as fresh files, and the commit REPLACES exactly the scanned
  * files ([[Snapshots.commitReplaceV2]], pinned OCC). The
  * read-optimized posture: no delete files accumulate, at the cost
  * of rewriting matched files — choose per table, exactly the
  * Iceberg/Delta mode split.
  */
private[graft] final class GraftCowRowLevelOperation(
    table: GraftTable,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** The DSv2 scan this operation planned — its final (post runtime
    * group filtering) file set IS the replaced-group set at commit. */
  @volatile private var scanRef: Option[SnapshotBatchScan] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-row-level-cow ${cmd.toString.toLowerCase} ${table.name()}"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = table.rowLevelScanBuilder(s => scanRef = Some(s))

  /** The group identity: requesting the rowId file column keeps it in
    * the plan so Spark's runtime group filtering can prune on it. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(SnapshotBatchScan.MetaFileCol))

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.Write =
        new GraftReplaceWrite(table.snapshotPath, table.name(), cmd,
          table.pinnedVersion, info,
          () => scanRef.map(_.plannedRelsSnapshot)
            .getOrElse(Array.empty))
    }
}

/** The planned copy-on-write rewrite: data rows write through the
  * append path's factory (metadata columns in the batch are skipped),
  * clustered/sorted like any insert; commit replaces the scanned
  * groups.
  */
private[graft] final class GraftReplaceWrite(
    path: String, ident: String, cmd: RowLevelOperation.Command,
    pinnedV: Long, info: LogicalWriteInfo,
    scannedRels: () => Array[String])
  extends org.apache.spark.sql.connector.write.Write
  with RequiresDistributionAndOrdering {

  private val inner = new SnapshotWrite(path, ident, info.schema(),
    Snapshots.V2Append, at = Some(pinnedV))

  override def requiredDistribution(): Distribution =
    inner.requiredDistribution()
  override def requiredOrdering(): Array[VSortOrder] =
    inner.requiredOrdering()
  override def requiredNumPartitions(): Int = 0
  override def distributionStrictlyRequired(): Boolean = false

  override def description(): String =
    s"graft-row-level-cow ${cmd.toString.toLowerCase} $ident"

  private def opName: String = cmd match {
    case RowLevelOperation.Command.DELETE => "rowLevelDeleteCow"
    case RowLevelOperation.Command.UPDATE => "rowLevelUpdateCow"
    case _ => "rowLevelMergeCow"
  }

  override def toBatch
      : org.apache.spark.sql.connector.write.BatchWrite = {
    val commitDir = s"data/c-${java.util.UUID.randomUUID()}"
    new GraftReplaceBatchWrite(path, commitDir,
      inner.writerFactory(commitDir), pinnedV,
      StructType(info.schema().fields.filterNot(f =>
        SnapshotBatchScan.MetaNames(f.name))),
      opName, scannedRels)
  }
}

private[graft] final class GraftReplaceBatchWrite(
    path: String, commitDir: String, factory: SnapshotWriterFactory,
    pinnedV: Long, rowSchema: StructType, opName: String,
    scannedRels: () => Array[String])
  extends org.apache.spark.sql.connector.write.BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    factory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dataEntries = messages.flatMap {
      case m: SnapshotWriteMessage => m.entries
      case other => throw new IllegalStateException(
        s"graft: unexpected rewrite commit message $other")
    }.toSeq
    Snapshots.commitReplaceV2(SparkSession.active, path, commitDir,
      dataEntries, scannedRels().toSeq, pinnedV, rowSchema, opName)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$path/$commitDir")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) { f.delete(p, true); () }
  }
}

/** The planned delta write: clusters by the table's transforms plus
  * the rowId file (deletes group per target file, inserts per target
  * partition), writes inserts through the append path's factory and
  * deletes as positional-delete parquet, commits both in one pinned
  * OCC claim.
  */
private[graft] final class GraftDeltaWrite(
    path: String, ident: String, cmd: RowLevelOperation.Command,
    pinnedV: Long, info: LogicalWriteInfo)
  extends DeltaWrite with RequiresDistributionAndOrdering {

  private def spark: SparkSession = SparkSession.active

  private val rowSchema: StructType =
    Option(info.schema()).getOrElse(new StructType())

  /** The append-path write machinery for inserted/updated rows,
    * planned at the PINNED version — absent for pure DELETEs (their
    * delta carries no row columns). */
  private val inner: Option[SnapshotWrite] =
    if (rowSchema.fields.isEmpty) None
    else Some(new SnapshotWrite(path, ident, rowSchema,
      Snapshots.V2Append, at = Some(pinnedV)))

  private val fileRef: VExpression =
    Expressions.column(SnapshotBatchScan.MetaFileCol)

  override def requiredDistribution(): Distribution =
    Distributions.clustered(
      inner.map(_.transformExprs).getOrElse(Array.empty) :+ fileRef)

  override def requiredOrdering(): Array[VSortOrder] =
    (inner.map(_.transformExprs).getOrElse(Array.empty)
      .map(t => Expressions.sort(t, SortDirection.ASCENDING)) :+
      Expressions.sort(fileRef, SortDirection.ASCENDING))

  override def requiredNumPartitions(): Int = 0
  override def distributionStrictlyRequired(): Boolean = false

  override def description(): String =
    s"graft-row-level-delta ${cmd.toString.toLowerCase} $ident"

  private def opName: String = cmd match {
    case RowLevelOperation.Command.DELETE => "rowLevelDelete"
    case RowLevelOperation.Command.UPDATE => "rowLevelUpdate"
    case _ => "rowLevelMerge"
  }

  override def toBatch: DeltaBatchWrite = {
    val commitDir = s"data/c-${java.util.UUID.randomUUID()}"
    new GraftDeltaBatchWrite(path, commitDir,
      inner.map(_.writerFactory(commitDir)),
      WriteBridge.parquetWriteSupport(spark, Snapshots.dvWriteSchema,
        Map.empty),
      pinnedV, rowSchema, opName)
  }
}

private[graft] final class GraftDeltaBatchWrite(
    path: String, commitDir: String,
    insertFactory: Option[SnapshotWriterFactory],
    delSupport: WriteBridge.TaskWriteSupport,
    pinnedV: Long, rowSchema: StructType, opName: String)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    GraftDeltaWriterFactory(path, commitDir, insertFactory, delSupport)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map {
      case m: GraftDeltaMessage => m
      case other => throw new IllegalStateException(
        s"graft: unexpected delta commit message $other")
    }
    Snapshots.commitDeltaV2(SparkSession.active, path, commitDir,
      msgs.flatMap(_.dataEntries).toSeq, msgs.flatMap(_.deleteRels).toSeq,
      pinnedV, rowSchema, opName)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$path/$commitDir")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) { f.delete(p, true); () }
  }
}

private[graft] final case class GraftDeltaMessage(
    dataEntries: Array[String], deleteRels: Array[String])
  extends WriterCommitMessage

private[graft] final case class GraftDeltaWriterFactory(
    path: String, commitDir: String,
    insertFactory: Option[SnapshotWriterFactory],
    delSupport: WriteBridge.TaskWriteSupport)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(path, commitDir,
      insertFactory.map(_.createWriter(partitionId, taskId)
        .asInstanceOf[SnapshotDataWriter]),
      delSupport, partitionId, taskId)
}

/** One task's delta writer: inserts delegate to the append path's
  * rolling [[SnapshotDataWriter]]; deletes append (file, pos) rows to
  * ONE lazily-opened positional-delete parquet (order irrelevant —
  * the readers sort or anti-join); updates are delete + insert. A
  * task that deletes nothing writes no delete file.
  */
private[graft] final class GraftDeltaWriter(
    path: String, commitDir: String,
    insertW: Option[SnapshotDataWriter],
    delSupport: WriteBridge.TaskWriteSupport,
    partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private var delWriter
      : org.apache.spark.sql.execution.datasources.OutputWriter = null
  private var delRel: String = null
  // the id row arrives in rowId order: (file string, pos long) - the
  // positional-delete file's exact column order
  private val delProj = UnsafeProjection.create(Seq(
    BoundReference(0, StringType, nullable = false),
    BoundReference(1, LongType, nullable = false)))

  override def insert(row: InternalRow): Unit =
    insertW.getOrElse(throw new IllegalStateException(
      "graft: a pure-delete operation produced an insert row")).write(row)

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (delWriter == null) {
      val ctx = delSupport.context(partitionId,
        (taskId & 0x7fffffffL).toInt)
      val ext = delSupport.fileExtension(ctx)
      delRel = f"$commitDir/del-$partitionId%05d-" +
        s"${java.util.UUID.randomUUID()}$ext"
      delWriter =
        delSupport.newWriter(s"$path/$delRel", Snapshots.dvWriteSchema,
          ctx)
    }
    delWriter.write(delProj(id))
  }

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    if (delWriter != null) { delWriter.close(); delWriter = null }
    val dataEntries = insertW.map(_.commit() match {
      case m: SnapshotWriteMessage => m.entries
      case other => throw new IllegalStateException(
        s"graft: unexpected insert message $other")
    }).getOrElse(Array.empty[String])
    GraftDeltaMessage(dataEntries,
      if (delRel == null) Array.empty else Array(delRel))
  }

  override def abort(): Unit = {
    if (delWriter != null) {
      try delWriter.close() catch { case _: Throwable => () }
      delWriter = null
    }
    // best-effort removal of this task's staged delete file — same
    // zombie-task reasoning as [[SnapshotDataWriter.abort]] (the
    // insert side cleans itself there; the driver sweep remains the
    // backstop for hard kills)
    if (delRel != null) {
      try {
        val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
          delSupport.context(partitionId,
            (taskId & 0x7fffffffL).toInt).getConfiguration)
        f.delete(new org.apache.hadoop.fs.Path(s"$path/$delRel"), false)
        ()
      } catch { case _: Throwable => () }
    }
    insertW.foreach(_.abort())
  }

  override def close(): Unit = {
    if (delWriter != null) { delWriter.close(); delWriter = null }
    insertW.foreach(_.close())
  }
}
