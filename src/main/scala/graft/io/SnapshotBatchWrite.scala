package graft.io

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => VSortOrder, Expression => VExpression}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsDynamicOverwrite, SupportsOverwrite, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.WriteBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The ONE write path into snapshot tables: SQL `INSERT`/CTAS, `writeTo`,
  * row-level DML and every programmatic commit ([[Snapshots]] runs
  * its batches through [[SnapshotWriteTable]]) plan through Spark's
  * own DSv2 write framework:
  *
  *   - the declared `RequiresDistributionAndOrdering` actually PLANS:
  *     Spark resolves the table's transforms (identity natively;
  *     `bucket` / `years/months/days/hours` / `truncate` through
  *     [[TransformFunctions]]) and inserts an AQE
  *     `RebalancePartitions` on the derived directory values plus a
  *     per-task sort — each partition directory is written by ONE
  *     task in one Spark-planned shuffle (files track data size, not
  *     task count × partition count);
  *   - `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`
  *     lands as [[Snapshots.replacePartitions]] semantics (only the
  *     batch's partitions replaced, one atomic commit) — the
  *     reference's monthly-rerun idiom
  *     (conte-etl-step-2-manager.py:817) in plain SQL;
  *   - tasks write parquet through the SAME `OutputWriterFactory`
  *     Spark's `FileFormatWriter` uses
  *     ([[org.apache.spark.sql.graft.WriteBridge]]), directory names
  *     through the same `getPartitionPathString(cast-to-string)`
  *     rule, derived under UTC whatever the session zone;
  *   - each task builds its closed files' manifest entries (byte
  *     length plus footer stats) and ships them in its commit
  *     message, so the driver's `BatchWrite.commit` lists nothing and
  *     reads no footer before it folds them into ONE manifest claim
  *     with the usual OCC ([[Snapshots.commitWrittenV2]]): appends
  *     rebase over interlopers, every overwrite shape refuses
  *     conflicts loudly.
  *
  * A failed/speculative task attempt may leave orphan files under the
  * commit dir; the manifest lists only files from COMMITTED task
  * messages, so orphans are dead bytes `vacuum` sweeps, never rows.
  */
private[graft] final class SnapshotWriteBuilder(
    path: String, ident: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite
  with SupportsDynamicOverwrite {

  private var mode: Snapshots.V2CommitMode = Snapshots.V2Append

  override def truncate(): WriteBuilder = {
    mode = Snapshots.V2Truncate; this
  }

  /** Every overwrite filter must translate EXACTLY — a dropped
    * conjunct would silently replace MORE rows than the caller named.
    * Refusal happens here, at analysis, not mid-job.
    */
  override def overwrite(fs: Array[Filter]): WriteBuilder = {
    if (fs.isEmpty || fs.forall(_.isInstanceOf[sources.AlwaysTrue]))
      mode = Snapshots.V2Truncate
    else {
      val conds = fs.map(f => FilterTranslate.exact(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft: cannot overwrite by filter $f - predicate not " +
            "translatable")))
      mode = Snapshots.V2OverwriteFilter(conds.reduce(_ && _))
    }
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = Snapshots.V2DynamicOverwrite; this
  }

  override def build(): Write =
    new SnapshotWrite(path, ident, info.schema(), mode)
}

/** The planned write: distribution/ordering declarations Spark's
  * write framework turns into a rebalance + sort, and the factory
  * construction (driver-side, at physical planning).
  */
private[graft] final class SnapshotWrite(
    path: String, ident: String, inputSchema: StructType,
    mode: Snapshots.V2CommitMode,
    at: Option[Long] = None,
    stagedState: Option[Snapshots.V2WriteState] = None,
    stagedCollect: Option[(String, Seq[String]) => Unit] = None)
  extends Write with RequiresDistributionAndOrdering {

  private def spark: SparkSession = SparkSession.active

  // table state AT PLANNING (pinned to `at` for the row-level DML
  // path, whose files must match the version its scan read): the
  // physical names, layout and props the task files are written
  // under; commitWrittenV2 re-reads at commit and refuses if a
  // concurrent schema/layout change invalidated them. A STAGED
  // write brings its own state and commit defers to its collector:
  // a CTAS/RTAS has no committed table to read (its state is the
  // staged declaration, published by
  // [[Snapshots.publishStagedTable]]), and a programmatic commit
  // ([[SnapshotWriteTable]]) publishes through its own OCC loop
  private val st = stagedState.getOrElse(
    Snapshots.v2WriteState(spark, path, inputSchema, at))
  private val fields = st.partCols.map(Snapshots.parsePartField)
  private val l2p: Map[String, String] = st.colMap.map(_.swap)
  private def logicalName(phys: String): String =
    st.colMap.getOrElse(phys, phys)

  private val idLogical: Set[String] = fields.collect {
    case f: Snapshots.PIdentity => logicalName(f.source) }.toSet

  // every partition SOURCE must arrive in the batch; every batch
  // column must be a table column (DSv2 analysis guarantees both -
  // belt and braces against programmatic misuse)
  fields.foreach { f =>
    val ln = logicalName(f.source)
    require(inputSchema.fieldNames.contains(ln),
      s"graft: partition source column $ln is missing from the " +
        s"write batch (${inputSchema.fieldNames.mkString(", ")})")
  }
  // rowId metadata columns may ride along in a copy-on-write DML
  // batch ([[GraftReplaceWrite]]) - they are not data, skip them
  inputSchema.fields
    .filterNot(f => SnapshotBatchScan.MetaNames(f.name))
    .foreach { f =>
      val t = st.schema.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"graft: batch column ${f.name} is not in the table schema " +
            s"of $ident"))
      require(t.dataType == f.dataType,
        s"graft: batch column ${f.name} arrives as " +
          s"${f.dataType.catalogString} but $ident stores " +
          s"${t.dataType.catalogString} - cast before writing")
    }

  /** Data-file columns: the TABLE schema minus identity sources
    * (their values live in directory names — the exact complement the
    * DSv2 scan reconstructs), physical names, table order; only
    * columns the batch carries (evolution-added columns the batch
    * lacks null-fill on read).
    */
  private val dataFields = st.schema.fields
    .filter(f => inputSchema.fieldNames.contains(f.name))
    .filterNot(f => idLogical(f.name))
  private val dataSchemaPhys = StructType(dataFields.map(f =>
    f.copy(name = l2p.getOrElse(f.name, f.name), nullable = true)))
  private val dataExprs: Seq[Expression] = dataFields.toSeq.map { f =>
    val i = inputSchema.fieldIndex(f.name)
    BoundReference(i, inputSchema(i).dataType, nullable = true)
  }

  /** Per-field directory-value expressions over the INPUT row: the
    * write-path `derive(col).cast("string")` analyzed verbatim
    * ([[DerivedExprs]]) on the UTC derive session, so time transforms
    * and identity-timestamp directories name the same values the
    * read-side prune derives, whatever the writer's session zone.
    */
  private val dirExprs: Seq[Expression] = fields.map { f =>
    val ln = logicalName(f.source)
    val i = inputSchema.fieldIndex(ln)
    val dt = inputSchema(i).dataType
    val df = Snapshots.utcDeriveSession(spark).createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(org.apache.spark.sql.types.StructField(
        "c", dt, nullable = true))))
    DerivedExprs.analyzedChild(
      df.select(f.derive(col("c"), dt).cast("string").as("d")), i)
  }
  private val dirNames: Seq[String] = fields.map(_.dirName)

  private val transforms: Array[VExpression] = fields.map {
    case Snapshots.PIdentity(s) =>
      Expressions.identity(logicalName(s)): VExpression
    case Snapshots.PTime(k, s) =>
      Expressions.apply(k, Expressions.column(logicalName(s)))
        : VExpression
    case Snapshots.PBucket(n, s) =>
      Expressions.bucket(n, logicalName(s)): VExpression
    case Snapshots.PTruncate(w, s) =>
      Expressions.apply("truncate", Expressions.literal(w),
        Expressions.column(logicalName(s))): VExpression
  }.toArray

  /** Cluster by the table's own transforms — `write.rebalance=false`
    * opts a table out (batches already laid out by the caller). */
  override def requiredDistribution(): Distribution =
    if (transforms.isEmpty ||
        st.props.getOrElse("write.rebalance", "true") == "false")
      Distributions.unspecified()
    else Distributions.clustered(transforms)

  /** Sort each task by the partition transforms (one open file at a
    * time in the writer — the dynamic-partition single-writer
    * contract), then by the table's `write.sort.columns` property so
    * clustered layouts get tight per-file column ranges WITHOUT
    * waiting for a z-order compaction.
    */
  override def requiredOrdering(): Array[VSortOrder] = {
    val sortProp = st.props.get("write.sort.columns").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    sortProp.foreach(c => require(
      inputSchema.fieldNames.contains(c),
      s"graft: write.sort.columns names '$c', which is not a column " +
        s"of $ident (${inputSchema.fieldNames.mkString(", ")})"))
    (transforms.map(t =>
      Expressions.sort(t, SortDirection.ASCENDING)) ++
      sortProp.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING))).toArray
  }

  override def requiredNumPartitions(): Int = 0
  override def distributionStrictlyRequired(): Boolean = false

  override def description(): String =
    s"graft-snapshot write $ident [${st.partCols.mkString(", ")}]"

  /** The table's transforms as V2 expressions — shared with the
    * row-level delta write's distribution/ordering declarations. */
  private[graft] def transformExprs: Array[VExpression] = transforms

  /** The serializable per-task writer factory for `commitDir` — the
    * SAME data-file writing the append path uses, reused by the
    * row-level delta write for its inserted/updated rows. The
    * session's `spark.sql.files.maxRecordsPerFile` caps rows per
    * file, as it does for Spark's own file writer. */
  private[graft] def writerFactory(commitDir: String)
      : SnapshotWriterFactory = {
    val bloomConf: Map[String, String] =
      st.props.get("write.bloom.columns").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        .map(c => s"parquet.bloom.filter.enabled#" +
          l2p.getOrElse(c, c) -> "true").toMap
    val support =
      WriteBridge.parquetWriteSupport(spark, dataSchemaPhys, bloomConf)
    SnapshotWriterFactory(path, commitDir, support, dataExprs,
      dataSchemaPhys, dirExprs, dirNames,
      spark.sessionState.conf.maxRecordsPerFile)
  }

  override def toBatch: BatchWrite = {
    val commitDir = s"data/c-${java.util.UUID.randomUUID()}"
    new SnapshotBatchWrite(path, commitDir,
      writerFactory(commitDir), mode, inputSchema,
      st.colMap, st.partCols, stagedCollect)
  }
}

private[graft] final class SnapshotBatchWrite(
    path: String, commitDir: String,
    factory: SnapshotWriterFactory,
    mode: Snapshots.V2CommitMode, batchSchema: StructType,
    buildColMap: Map[String, String], buildPartCols: Seq[String],
    stagedCollect: Option[(String, Seq[String]) => Unit] = None)
  extends BatchWrite {
  // `stagedCollect` receives the commit dir and the written files'
  // manifest entries

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = factory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val entries = messages.flatMap {
      case m: SnapshotWriteMessage => m.entries
      case other => throw new IllegalStateException(
        s"graft: unexpected commit message $other")
    }.toSeq
    stagedCollect match {
      // staged CTAS/RTAS and programmatic commits: the files exist but
      // stay INVISIBLE (no manifest names them) until the caller
      // publishes them
      case Some(collect) => collect(commitDir, entries)
      case None =>
        Snapshots.commitWrittenV2(SparkSession.active, path, commitDir,
          entries, mode, batchSchema, buildColMap, buildPartCols)
        ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$path/$commitDir")
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) { f.delete(p, true); () }
  }
}

/** A task's written files as manifest entry lines (store-relative
  * path, `__len` and footer stats). */
private[graft] final case class SnapshotWriteMessage(entries: Array[String])
  extends WriterCommitMessage

private[graft] final case class SnapshotWriterFactory(
    path: String, commitDir: String,
    support: WriteBridge.TaskWriteSupport,
    dataExprs: Seq[Expression], dataSchemaPhys: StructType,
    dirExprs: Seq[Expression], dirNames: Seq[String],
    maxRecordsPerFile: Long)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new SnapshotDataWriter(path, commitDir, support, dataExprs,
      dataSchemaPhys, dirExprs, dirNames, partitionId, taskId,
      maxRecordsPerFile)
}

/** A write-only table over ONE planned commit: Spark appends a
  * batch to it ([[WriteBridge.append]]) and the write hands the
  * commit dir and the files' manifest entries to `collect` instead
  * of publishing — the programmatic commits' data write, which
  * publish through their own OCC loops. `state` is the commit's own
  * (schema, partition spec, column map, properties). */
private[graft] final class SnapshotWriteTable(
    path: String, batchSchema: StructType, state: Snapshots.V2WriteState,
    collect: (String, Seq[String]) => Unit)
  extends Table with SupportsWrite {
  override def name(): String = path
  override def schema(): StructType = batchSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new SnapshotWrite(path, path,
        info.schema(), Snapshots.V2Append, stagedState = Some(state),
        stagedCollect = Some(collect))
    }
}

/** One task's writer: rows arrive sorted by the partition transforms
  * (the Write's requiredOrdering), so one parquet file is open at a
  * time — a directory-value switch, or `maxRecordsPerFile` rows when
  * that is positive, closes the current file and opens the next.
  * Unsorted input (a table with `write.rebalance=false` and no
  * ordering honored) stays CORRECT: a revisited directory gets a
  * fresh `-cNNN` file, never a corrupt append. A file opens on its
  * first row, so an empty task writes nothing. Each closed file's
  * manifest entry is built here, from the footer just written.
  */
private[graft] final class SnapshotDataWriter(
    path: String, commitDir: String,
    support: WriteBridge.TaskWriteSupport,
    dataExprs: Seq[Expression], dataSchemaPhys: StructType,
    dirExprs: Seq[Expression], dirNames: Seq[String],
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long = 0L)
  extends DataWriter[InternalRow] {

  private val ctx = support.context(partitionId,
    (taskId & 0x7fffffffL).toInt)
  private val ext = support.fileExtension(ctx)
  private val dataProj = UnsafeProjection.create(dataExprs)
  private val dirProj =
    if (dirExprs.isEmpty) null else UnsafeProjection.create(dirExprs)
  private val uuid = java.util.UUID.randomUUID().toString

  // partition-switch detection compares the projected key row's
  // BYTES (copied only on a roll) - the hot path never builds
  // directory strings or Seqs per row
  private var curKey
      : org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
  private var writer
      : org.apache.spark.sql.execution.datasources.OutputWriter = null
  private var fileCount = 0
  private var curDirs: Seq[String] = Nil
  private var rows = 0L
  private val written = ArrayBuffer.empty[String]
  private val entries = ArrayBuffer.empty[String]

  private def closeFile(): Unit = if (writer != null) {
    writer.close()
    writer = null
    val (entry, bytes) =
      Snapshots.writtenEntry(ctx.getConfiguration, path, written.last)
    entries += entry
    WriteBridge.recordOutput(bytes, rows)
  }

  private def roll(): Unit = {
    closeFile()
    val name =
      f"part-$partitionId%05d-$uuid-c$fileCount%03d$ext"
    fileCount += 1
    rows = 0L
    val rel = (commitDir +: curDirs :+ name).mkString("/")
    // recorded BEFORE the writer opens: a factory that creates the
    // file and then throws must still leave it for abort() to delete
    written += rel
    writer = support.newWriter(s"$path/$rel", dataSchemaPhys, ctx)
  }

  override def write(row: InternalRow): Unit = {
    if (dirNames.nonEmpty) {
      val dr = dirProj(row)
      if (curKey == null || dr != curKey) {
        curKey = dr.copy()
        // the exact dynamic-partition naming rule Spark's own writer
        // uses: cast-to-string value, null/empty -> the default
        // sentinel, Hive path escaping
        curDirs = dirNames.indices.map { i =>
          ExternalCatalogUtils.getPartitionPathString(dirNames(i),
            if (dr.isNullAt(i)) null else dr.getUTF8String(i).toString)
        }
        roll()
      }
    } else if (writer == null) roll()
    if (maxRecordsPerFile > 0 && rows == maxRecordsPerFile) roll()
    writer.write(dataProj(row))
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    closeFile()
    SnapshotWriteMessage(entries.toArray)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Throwable => () }
      writer = null
    }
    // delete THIS task's staged files too, not just the stream: the
    // driver's BatchWrite.abort sweeps the commit dir once, but a
    // task killed asynchronously (job cancellation) can open its next
    // file AFTER that sweep and resurrect the dir — at 100 TB that is
    // a storage leak per failed write, locally it is the staged-dir
    // leftover the CTAS abort spec counts. Task-side cleanup is
    // best-effort (a hard JVM kill still leaves orphans for vacuum);
    // deleting the commit dir itself only when empty keeps concurrent
    // sibling tasks' staged files safe.
    try {
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(ctx.getConfiguration)
      written.foreach { rel =>
        try { f.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false); () }
        catch { case _: Throwable => () }
      }
      val cd = new org.apache.hadoop.fs.Path(s"$path/$commitDir")
      // drop the commit dir only when NO files remain anywhere under
      // it (partitioned writes leave empty partition subdirs behind
      // the per-file deletes) — a sibling task still staging keeps
      // the dir alive, the driver sweep stays the backstop
      def fileless(p: org.apache.hadoop.fs.Path): Boolean =
        f.listStatus(p).forall(s => s.isDirectory && fileless(s.getPath))
      try {
        if (f.exists(cd) && fileless(cd)) { f.delete(cd, true); () }
      } catch { case _: Throwable => () }
    } catch { case _: Throwable => () }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
