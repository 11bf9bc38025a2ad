package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A snapshot store as a DSv2 Table, pinned to one version: the
  * relation [[GraftCatalog]] SQL plans and the one every
  * programmatic read ([[Snapshots.read]] and its siblings, the
  * `graft_snapshot()` table function) returns. Reads go through the
  * manifest-backed DSv2 scan ([[SnapshotScanBuilder]]); a version
  * whose delete files outgrow the per-task shipping budget reads
  * through [[Snapshots.readWhere]]'s anti-join plan instead. Writes
  * go through the DSv2 `BatchWrite` onto append/overwrite/dynamic-
  * replace commits.
  *
  * `state` replaces the pinned version's (schema, partition columns,
  * entries, delete files, column map): a staged append's base plus
  * staged files ([[Snapshots.readStaged]]), or an explicit file set
  * with no delete files — the one relation the snapshot internals
  * open data files through ([[Snapshots.openFiles]]: mutations,
  * change feeds, sketch passes, streaming batches), their row
  * identity read from the metadata columns below.
  */
private[graft] class GraftTable(spark: SparkSession, path: String,
                                ident: String, version: Option[Long],
                                mutable: Boolean = true,
                                state: Option[Snapshots.TableState] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with SupportsMetadataColumns
    with SupportsRowLevelOperations {

  /** The snapshot store's base path. */
  private[graft] def snapshotPath: String = path

  // the pinned version's state, read ONCE (manifests are
  // immutable): schema()/partitioning()/readSchema() are called
  // repeatedly during analysis and each used to re-read the
  // manifest
  private lazy val pinnedV: Long =
    version.orElse(Snapshots.latestVersion(spark, path)).get
  private[graft] lazy val pinnedState: Snapshots.TableState =
    state.getOrElse(Snapshots.stateAt(spark, path, pinnedV))

  /** Whether the pinned version's delete files outgrow the per-task
    * shipping budget ([[Snapshots.overDeleteBudget]]), decided once:
    * past it, reads take [[Snapshots.readWhere]]'s anti-join plan. */
  private[graft] lazy val overDeleteBudget: Boolean =
    Snapshots.overDeleteBudget(spark, path, pinnedState._4)

  /** SQL `DELETE FROM ... WHERE ...` — a copy-on-write
    * [[Snapshots.deleteWhere]] commit (OCC-guarded, history
    * intact); `TRUNCATE TABLE` rides the always-true default.
    * Translation here is EXACT ([[FilterTranslate.exact]]): unlike
    * the scan path, nothing re-applies filters above a delete, so
    * a partially-translated predicate would DELETE TOO MUCH —
    * untranslatable shapes refuse at analysis instead.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    mutable && filters.forall(f => FilterTranslate.exact(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(mutable,
      "graft catalog: cannot DELETE FROM a time-travelled table")
    val cols = filters.map(f => FilterTranslate.exact(f).getOrElse(
      throw new UnsupportedOperationException(
        s"graft catalog: cannot translate delete filter $f")))
    val cond = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the delete.mode table property routes SQL DELETE FROM:
    // 'mor' commits a positional delete file (no data rewrites -
    // the CDC-heavy posture), 'cow' (default) rewrites affected
    // files; either way the result is identical and versioned
    val mode = Snapshots.properties(spark, path)
      .getOrElse("delete.mode", "cow")
    require(mode == "cow" || mode == "mor",
      s"graft catalog: table property delete.mode must be 'cow' " +
        s"or 'mor', got '$mode'")
    Snapshots.deleteWhere(spark, path, cond, mode = mode)
    ()
  }

  override def name(): String = ident

  override def schema(): StructType = pinnedState._1

  override def partitioning(): Array[Transform] = {
    val (_, pc, _, _, cm) = pinnedState
    Snapshots.logicalPartSpecs(pc, cm).map(spec =>
      Snapshots.parsePartField(spec) match {
        case Snapshots.PIdentity(s) => Expressions.identity(s)
        case Snapshots.PTime("years", s) => Expressions.years(s)
        case Snapshots.PTime("months", s) => Expressions.months(s)
        case Snapshots.PTime("days", s) => Expressions.days(s)
        case Snapshots.PTime(_, s) => Expressions.hours(s)
        case Snapshots.PBucket(n, s) => Expressions.bucket(n, s)
        case Snapshots.PTruncate(w, s) => Expressions.apply(
          "truncate", Expressions.literal(w), Expressions.column(s))
      }).toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      // filter-scoped overwrites (static PARTITION (k=v) /
      // writeTo.overwrite(cond)) lower onto
      // Snapshots.overwriteWhere semantics in one atomic manifest
      // claim; OVERWRITE_DYNAMIC routes INSERT OVERWRITE under
      // partitionOverwriteMode=dynamic (and writeTo
      // .overwritePartitions()) onto replacePartitions semantics —
      // only the batch's partitions replaced, one commit
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: Spark's analyzer turns the
      // source's extra columns into alterTable ADD COLUMNS against
      // this catalog (metadata-only here), then resolves the merge
      // against the evolved schema - the programmatic twin is
      // Snapshots.mergeInto(evolve = true)
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def properties(): util.Map[String, String] =
    Snapshots.properties(spark, path, Some(pinnedV)).asJava

  /** Row-identity METADATA COLUMNS: the store-relative data-file
    * path and the row's physical position in it — the same
    * (file, pos) identity every merge-on-read delete names. Queries
    * may select them (`SELECT __graft_file, ...`), and Spark's
    * row-level framework resolves them as the delta rowId
    * ([[GraftRowLevelOperation]]).
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = SnapshotBatchScan.MetaFileCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "store-relative path of the row's data file"
    },
    new MetadataColumn {
      override def name(): String = SnapshotBatchScan.MetaPosCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row position within the data file"
    })

  /** Spark-NATIVE row-level SQL DML (`SupportsRowLevelOperations`):
    * DELETE / UPDATE / MERGE rewrite through Spark's own
    * `RewriteDeleteFromTable` / `RewriteUpdateTable` /
    * `RewriteMergeIntoTable` into a delta plan over the (file, pos)
    * rowId — matched rows become positional delete entries, new and
    * updated rows become ordinary data files, ONE atomic manifest
    * claim pinned to the version the scan read (any concurrent
    * commit refuses: the named positions would be stale). This is
    * the merge-on-read twin of the copy-on-write programmatic API;
    * simple DELETE predicates still take the metadata-only
    * [[SupportsDelete]] path above (Spark's
    * `OptimizeMetadataOnlyDeleteFromTable` prefers it).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(mutable,
      "graft catalog: cannot UPDATE/MERGE/DELETE a time-travelled " +
        "table - DML mutates the live table only")
    // the dml.mode table property picks the physical strategy:
    // 'merge-on-read' (default) commits positional deletes +
    // fresh rows; 'copy-on-write' rewrites the matched files
    // whole (read-optimized; no delete files accumulate)
    val mode = Snapshots.properties(spark, path)
      .getOrElse("dml.mode", "merge-on-read")
    mode match {
      case "merge-on-read" =>
        () => new GraftRowLevelOperation(this, info.command)
      case "copy-on-write" =>
        () => new GraftCowRowLevelOperation(this, info.command)
      case other => throw new IllegalArgumentException(
        s"graft catalog: table property dml.mode must be " +
          s"'merge-on-read' or 'copy-on-write', got '$other'")
    }
  }

  private def scanBuilder(onBuild: SnapshotBatchScan => Unit)
      : ScanBuilder = {
    val (sch, pc, entries, dvs, cm) = pinnedState
    new SnapshotScanBuilder(spark, path, pinnedV, sch, pc, cm,
      entries, dvs, onBuild,
      shardRefs =
        if (state.isDefined) Nil
        else Snapshots.shardRefsAt(spark, path, pinnedV))
  }

  /** The DSv2 scan builder for row-level DML — the one scan shape
    * that can emit the (file, pos) rowId. Refuses when the delete
    * sliver outgrew the shipping budget.
    */
  private[graft] def rowLevelScanBuilder(
      onBuild: SnapshotBatchScan => Unit = _ => ()): ScanBuilder = {
    require(!overDeleteBudget,
      s"graft catalog: $ident carries more delete-file bytes than " +
        "the row-level DML scan can ship per task " +
        s"(${Snapshots.MaxDeleteBytesConf}) - run CALL " +
        "compact first to apply the backlog")
    scanBuilder(onBuild)
  }

  private[graft] def pinnedVersion: Long = pinnedV

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    if (!overDeleteBudget) scanBuilder(_ => ())
    else v1ScanBuilder

  /** Past the delete-shipping budget: the V1 relation over
    * [[Snapshots.readWhere]] ([[Snapshots.readWhereRelation]]), which
    * plans the distributed anti-join. Spark's filters and required
    * columns reach its `buildScan(cols, filters)`, so the manifest
    * skips files there too; every filter is also re-applied above
    * the scan. */
  private def v1ScanBuilder: ScanBuilder = new ScanBuilder
      with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
    private var pushed = Array.empty[Filter]
    private var required = GraftTable.this.schema()
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      pushed = filters
      filters
    }
    override def pushedFilters(): Array[Filter] = pushed
    // whole top-level columns: the relation selects columns by name
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = StructType(GraftTable.this.schema().fields
        .filter(f => requiredSchema.fieldNames.contains(f.name)))
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = required
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T = {
        val rel = Snapshots.readWhereRelation(spark, path, pinnedV, state)
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = required
          override def needConversion: Boolean = false
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
            rel.buildScan(required.fieldNames, pushed)
        }.asInstanceOf[T]
      }
    }
  }

  /** TRUE DSv2 WRITE path ([[SnapshotWriteBuilder]]): the `Write`
    * declares `RequiresDistributionAndOrdering` over the table's
    * own transforms and Spark PLANS it — an AQE rebalance on the
    * derived directory values plus a per-task sort — so an
    * `INSERT INTO` a bucketed table lands bucket-aligned files in
    * one Spark-planned shuffle and a storage-partitioned join reads
    * them back Exchange-free. Overwrites: `truncate` → whole-table
    * commit; `SupportsOverwrite` filters (static `PARTITION (k=v)`
    * / `writeTo.overwrite(cond)`) → single-commit filter-scoped
    * replace; `SupportsDynamicOverwrite`
    * (`partitionOverwriteMode=dynamic` / `overwritePartitions()`) →
    * [[Snapshots.replacePartitions]] semantics. Every shape is one
    * atomic, time-travelable manifest claim with the usual OCC.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(mutable,
      "graft catalog: cannot write to a time-travelled table")
    new SnapshotWriteBuilder(path, ident, info)
  }
}
