package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column => SqlColumn, DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `TableCatalog` over [[Snapshots]] stores — the SQL
  * front door the programmatic API and the `graft_snapshot` TVF
  * don't give: register with
  *
  * {{{
  *   spark.sql.catalog.graft = graft.io.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/warehouse
  * }}}
  *
  * and `SELECT * FROM graft.db.t`, `... VERSION AS OF 3` /
  * `TIMESTAMP AS OF ...` (manifest time travel), `INSERT INTO`
  * (append commit), `INSERT OVERWRITE` (overwrite commit, layout
  * preserved), `CREATE/DROP/SHOW TABLES` all resolve in pure SQL.
  * Layout: `warehouse/<namespace...>/<table>` — each table is an
  * ordinary snapshot store (the same directories the programmatic
  * API reads), so SQL and code share tables with no registration
  * step beyond the catalog conf.
  *
  * Reads go through the DSv2 manifest-backed scan
  * ([[SnapshotBatchScan]]: column pruning, manifest/aggregate
  * pushdown, storage-partitioned joins, in-reader merge-on-read
  * deletes), falling back to a V1 relation only when a table's
  * delete sliver outgrows the shipping budget; unhandled filters are
  * re-applied by Spark above, so pushdown is an IO optimization,
  * never a correctness dependency. Writes go through the DSv2
  * `BatchWrite` ([[SnapshotBatchWrite]]) — Spark plans the
  * layout-aligned rebalance+sort the write declares, and every SQL
  * write is an atomic, time-travelable commit with the same OCC
  * semantics as the programmatic API.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog
    with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
    // configuring the catalog enables its SQL DML: UPDATE and
    // MERGE INTO plan through the strategy, not the built-ins (which
    // refuse non-row-level-op tables at planning)
    graft.plans.GraftDmlStrategy.ensure(spark)
  }

  override def name(): String = catalogName

  /** `CALL <cat>.system.<proc>(...)` — snapshot-store maintenance as
    * SQL stored procedures ([[GraftProcedures]]: compact, vacuum,
    * expire_versions, rollback, tag, drop_tag, maintain).
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft catalog: procedures live in the 'system' namespace " +
        s"(CALL $catalogName.system.<name>), got " +
        s"${(ident.namespace :+ ident.name).mkString(".")}")
    GraftProcedures.load(ident.name, warehouse)
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.identifiers
    else Array.empty

  private def spark: SparkSession = SparkSession.active

  /** The hidden partition transforms as V2 functions
    * ([[TransformFunctions]]). */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = TransformFunctions.listFunctions(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    TransformFunctions.loadFunction(ident)

  /** Identifier segments become path components: '..', '.', empty,
    * '/'-bearing or NUL-bearing segments would escape the warehouse
    * (DROP NAMESPACE `..` CASCADE deleting the warehouse's PARENT is
    * the canonical exploit) — refuse them everywhere a name touches
    * the filesystem.
    */
  private def requireSafeSegment(seg: String): Unit =
    require(seg.nonEmpty && seg != "." && seg != ".." &&
      !seg.contains('/') && !seg.contains('\\') && !seg.contains('\u0000'),
      s"graft catalog: illegal identifier segment '$seg' - path " +
        "separators and relative components are not allowed")

  private def nsDir(namespace: Array[String]): String = {
    namespace.foreach(requireSafeSegment)
    (warehouse +: namespace.toSeq).mkString("/")
  }

  private def tablePath(ident: Identifier): String = {
    (ident.namespace().toSeq :+ ident.name()).foreach(requireSafeSegment)
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")
  }

  private def isTable(path: String): Boolean =
    Snapshots.latestVersion(spark, path).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    val f = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!f.exists(new Path(dir))) Array.empty
    else f.listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory &&
        isTable(s"$dir/${st.getPath.getName}"))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    val v = Snapshots.latestVersion(spark, path).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    // pin the version ONCE at load: schema(), partitioning() and the
    // scan must all see the same snapshot even if a commit lands
    // between analysis and execution (writes/deletes still target
    // the live table - mutable=true)
    new GraftTable(path, ident.toString, Some(v), mutable = true)
  }

  /** `VERSION AS OF n` — n is a snapshot version (or a tag name). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(
      Snapshots.tags(spark, path).getOrElse(version,
        throw new IllegalArgumentException(
          s"snapshot: '$version' is neither a version nor a tag of " +
            s"$path (tags: ${Snapshots.tags(spark, path).keys.toSeq
              .sorted.mkString(", ")})")))
    new GraftTable(path, s"$ident@v$v", Some(v), mutable = false)
  }

  /** `TIMESTAMP AS OF ts` — micros since epoch per the DSv2 contract;
    * resolves through manifest commit times ([[Snapshots.versionAsOf]]).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = tablePath(ident)
    if (!isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val v = Snapshots.versionAsOf(spark, path, timestampMicros / 1000L)
    new GraftTable(path, s"$ident@v$v", Some(v), mutable = false)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val path = tablePath(ident)
    if (isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map(transformToSpec)
    // TBLPROPERTIES persist in the manifest; Spark's own engine-level
    // entries (provider/location/owner/...) are not table semantics
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.toMap -- Seq("provider", "location",
      "owner", "external", "comment")
    // version 1 is a zero-entry manifest carrying schema + layout -
    // partitioned CREATEs included (no empty parquet write needed)
    val v = Snapshots.createEmpty(spark, path, schema, partCols, props)
    new GraftTable(path, ident.toString, Some(v), mutable = true)
  }

  /** ATOMIC `CREATE TABLE ... AS SELECT` / `[CREATE OR] REPLACE
    * TABLE ... AS SELECT` (`StagingTableCatalog`): the staged write
    * lands its data files under the table path with NO manifest —
    * invisible to every reader — and `commitStagedChanges` publishes
    * the whole statement as ONE manifest claim
    * ([[Snapshots.publishStagedTable]]): version 1 for CREATE, the
    * next version (history preserved — the pre-REPLACE table stays
    * time-travelable and rollback-able) for REPLACE. A failed or
    * aborted statement deletes the staged files and the table never
    * (dis)appears — no create-then-drop-on-error window.
    */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : StagedTable = {
    val path = tablePath(ident)
    if (isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    staged(path, ident, schema, partitions, properties,
      allowCreate = true, allowReplace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : StagedTable = {
    val path = tablePath(ident)
    if (!isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    staged(path, ident, schema, partitions, properties,
      allowCreate = false, allowReplace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable =
    staged(tablePath(ident), ident, schema, partitions, properties,
      allowCreate = true, allowReplace = true)

  private def staged(path: String, ident: Identifier,
                     schema: StructType,
                     partitions: Array[Transform],
                     properties: util.Map[String, String],
                     allowCreate: Boolean, allowReplace: Boolean)
      : StagedTable = {
    val partCols = partitions.toSeq.map(transformToSpec)
    val props = properties.asScala.toMap -- Seq("provider", "location",
      "owner", "external", "comment")
    new GraftStagedTable(path, ident.toString, schema, partCols,
      props, allowCreate, allowReplace)
  }

  /** The staged side of an atomic CTAS/RTAS: collects the write's
    * commit dirs + file entries (the data lands invisible — no manifest)
    * and publishes or deletes them wholesale. */
  private final class GraftStagedTable(path: String, ident: String,
                                       schema0: StructType,
                                       partCols: Seq[String],
                                       props: Map[String, String],
                                       allowCreate: Boolean,
                                       allowReplace: Boolean)
      extends Table with SupportsWrite with StagedTable {

    private val commitDirs = scala.collection.mutable.ArrayBuffer
      .empty[String]
    private val entries = scala.collection.mutable.ArrayBuffer
      .empty[String]

    override def name(): String = ident
    override def schema(): StructType = schema0
    override def partitioning(): Array[Transform] =
      partCols.map(spec => Snapshots.parsePartField(spec) match {
        case Snapshots.PIdentity(s) => Expressions.identity(s)
        case Snapshots.PTime("years", s) => Expressions.years(s)
        case Snapshots.PTime("months", s) => Expressions.months(s)
        case Snapshots.PTime("days", s) => Expressions.days(s)
        case Snapshots.PTime(_, s) => Expressions.hours(s)
        case Snapshots.PBucket(n, s) => Expressions.bucket(n, s)
        case Snapshots.PTruncate(w, s) => Expressions.apply(
          "truncate", Expressions.literal(w), Expressions.column(s))
      }).toArray
    override def properties(): util.Map[String, String] =
      props.asJava
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

    override def newWriteBuilder(info: LogicalWriteInfo)
        : WriteBuilder =
      new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
        // a staged table is empty by definition: truncate-before-
        // write (the RTAS shape) is the append it already is
        override def truncate(): WriteBuilder = this
        override def build()
            : org.apache.spark.sql.connector.write.Write =
          new SnapshotWrite(path, ident, info.schema(),
            Snapshots.V2Append,
            stagedState = Some(Snapshots.V2WriteState(0L, schema0,
              partCols, Map.empty, props)),
            stagedCollect = Some((dir, es) =>
              GraftStagedTable.this.synchronized {
                commitDirs += dir
                entries ++= es
              }))
      }

    override def commitStagedChanges(): Unit = {
      Snapshots.publishStagedTable(spark, path, schema0, partCols,
        props, commitDirs.toSeq, entries.toSeq, allowCreate, allowReplace)
      ()
    }

    override def abortStagedChanges(): Unit = {
      val f = new Path(path).getFileSystem(
        spark.sessionState.newHadoopConf())
      commitDirs.foreach(d =>
        f.delete(new Path(s"$path/$d"), true))
    }
  }

  /** A DSv2 `PARTITIONED BY` transform as the store's partition-spec
    * string: identity columns pass through; `bucket(n, col)`,
    * `years/months/days/hours(ts)` and `truncate(w, col)` become the
    * store's HIDDEN transforms (directory-only derivation, source
    * column untouched in the data files). Anything else refuses.
    */
  private def transformToSpec(t: Transform): String = {
    require(t.references().length == 1,
      s"graft catalog: partition transform $t must reference exactly " +
        "one column")
    val ref = t.references()(0).fieldNames().mkString(".")
    def intArg(what: String): Int =
      t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"graft catalog: $what transform needs an integer argument, " +
          s"got $t"))
    t.name() match {
      case "identity" => ref
      case k @ ("years" | "months" | "days" | "hours") => s"$k($ref)"
      case "bucket" => s"bucket${intArg("bucket")}($ref)"
      case "truncate" => s"truncate${intArg("truncate")}($ref)"
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported partition transform $other - " +
          "supported: identity columns, years/months/days/hours, " +
          "bucket(n, col), truncate(w, col)")
    }
  }

  /** ALTER TABLE: rename / drop / add columns map onto ONE atomic
    * metadata-only commit ([[Snapshots.alterColumns]]) — a
    * multi-change statement lands all-or-nothing, never partially
    * (translation and validation both run before anything publishes).
    * Other changes (type updates, comments, properties) refuse — the
    * store has no semantics for them.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    // SET/UNSET TBLPROPERTIES are their own metadata commits (they
    // do not mix with column changes in one SQL statement)
    val setProps = changes.collect {
      case sp: TableChange.SetProperty => sp.property() -> sp.value() }
    val unsetProps = changes.collect {
      case rp: TableChange.RemoveProperty => rp.property() }
    if (setProps.nonEmpty || unsetProps.nonEmpty) {
      require(setProps.size + unsetProps.size == changes.size,
        "graft catalog: property and column changes cannot mix in " +
          "one ALTER TABLE statement")
      if (setProps.nonEmpty)
        Snapshots.setProperties(spark, path, setProps.toMap)
      if (unsetProps.nonEmpty)
        Snapshots.unsetProperties(spark, path, unsetProps.toSeq)
      return loadTable(ident)
    }
    val ops = changes.toSeq.map {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog: only top-level columns can be renamed")
        Snapshots.ColumnChange.Rename(r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog: only top-level columns can be dropped")
        Snapshots.ColumnChange.Drop(d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: only top-level columns can be added")
        require(a.isNullable,
          "graft catalog: ADD COLUMN ... NOT NULL is unsupported - " +
            "existing rows null-fill a new column, so the constraint " +
            "cannot hold; silently committing it nullable would lose " +
            "the declaration")
        Snapshots.ColumnChange.Add(
          org.apache.spark.sql.types.StructField(
            a.fieldNames()(0), a.dataType(), nullable = true))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft catalog: only top-level columns can be widened")
        // ALTER COLUMN ... TYPE is supported exactly for the safe
        // widening lattice (metadata-only; Snapshots.widenColumn
        // semantics) - anything else refuses there, loudly
        Snapshots.ColumnChange.Widen(u.fieldNames()(0), u.newDataType())
      case other =>
        throw new UnsupportedOperationException(
          s"graft catalog: unsupported ALTER TABLE change $other - " +
            "rename/drop/add/widen columns are supported")
    }
    Snapshots.alterColumns(spark, path, ops)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    val f = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    f.exists(new Path(path)) && f.delete(new Path(path), true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val f = new Path(warehouse).getFileSystem(
      spark.sessionState.newHadoopConf())
    val from = new Path(tablePath(oldIdent))
    val to = new Path(tablePath(newIdent))
    if (!f.exists(from))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(oldIdent)
    f.mkdirs(to.getParent)
    // rename WITHOUT overwrite: a concurrent CREATE/rename of the
    // destination must fail this rename, never nest the source
    // inside the freshly-created directory
    try org.apache.hadoop.fs.FileContext
      .getFileContext(to.toUri, f.getConf).rename(from, to)
    catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException) =>
        throw new IllegalArgumentException(
          s"graft catalog: $newIdent already exists", e)
    }
  }

  // ---- namespaces: plain directories under the warehouse ----

  override def listNamespaces(): Array[Array[String]] = {
    val f = new Path(warehouse).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!f.exists(new Path(warehouse))) Array.empty
    else f.listStatus(new Path(warehouse)).toSeq
      .filter(st => st.isDirectory && !isTable(st.getPath.toString))
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsDir(namespace)
    val f = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    f.exists(new Path(dir))
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    val f = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    f.mkdirs(new Path(dir))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    val f = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!f.exists(new Path(dir))) false
    else {
      require(cascade || f.listStatus(new Path(dir)).isEmpty,
        s"graft catalog: namespace ${namespace.mkString(".")} is not " +
          "empty (use CASCADE)")
      f.delete(new Path(dir), true)
    }
  }

  /** A snapshot store as a DSv2 Table: reads through the
    * manifest-backed DSv2 scan (V1 fallback only past the
    * merge-on-read shipping budget); writes through the DSv2
    * `BatchWrite` onto append/overwrite/dynamic-replace commits.
    */
  private[graft] class GraftTable(path: String, ident: String,
                                  version: Option[Long],
                                  mutable: Boolean = true)
      extends Table with SupportsRead with SupportsWrite
      with SupportsDelete with SupportsMetadataColumns
      with SupportsRowLevelOperations {

    /** The snapshot store's base path — [[graft.plans.GraftDmlStrategy]]
      * routes SQL UPDATE / MERGE INTO through [[Snapshots]] with it. */
    private[graft] def snapshotPath: String = path
    /** False for a time-travelled load (`VERSION AS OF`): DML against
      * a pinned historical version must refuse. */
    private[graft] def isMutable: Boolean = mutable

    // the pinned version's state, read ONCE (manifests are
    // immutable): schema()/partitioning()/readSchema() are called
    // repeatedly during analysis and each used to re-read the
    // manifest
    private lazy val pinnedV: Long =
      version.orElse(Snapshots.latestVersion(spark, path)).get
    private lazy val pinnedState = Snapshots.stateAt(spark, path, pinnedV)

    /** SQL `DELETE FROM ... WHERE ...` — a copy-on-write
      * [[Snapshots.deleteWhere]] commit (OCC-guarded, history
      * intact); `TRUNCATE TABLE` rides the always-true default.
      * Translation here is EXACT ([[translateFilterExact]]): unlike
      * the scan path, nothing re-applies filters above a delete, so
      * a partially-translated predicate would DELETE TOO MUCH —
      * untranslatable shapes refuse at analysis instead.
      */
    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      mutable && filters.forall(f => translateFilterExact(f).isDefined)

    override def deleteWhere(filters: Array[Filter]): Unit = {
      require(mutable,
        "graft catalog: cannot DELETE FROM a time-travelled table")
      val cols = filters.map(f => translateFilterExact(f).getOrElse(
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

    /** The DSv2 scan builder for row-level DML — the one scan shape
      * that can emit the (file, pos) rowId. Refuses (rather than
      * falling back to V1, which cannot) when the delete sliver
      * outgrew the shipping budget.
      */
    private[graft] def rowLevelScanBuilder(
        onBuild: SnapshotBatchScan => Unit = _ => ()): ScanBuilder = {
      val (sch, pc, entries, dvs, cm) = pinnedState
      require(dvs.isEmpty ||
        Snapshots.v2DeleteBytes(spark, path, dvs) <=
          spark.conf.get("spark.graft.snapshot.v2.maxDeleteBytes",
            (64L << 20).toString).toLong,
        s"graft catalog: $ident carries more delete-file bytes than " +
          "the row-level DML scan can ship per task " +
          "(spark.graft.snapshot.v2.maxDeleteBytes) - run CALL " +
          "compact first to apply the backlog")
      new SnapshotScanBuilder(spark, path, pinnedV, sch, pc, cm,
        entries, dvs, onBuild,
        shardRefs = Snapshots.shardRefsAt(spark, path, pinnedV))
    }

    private[graft] def pinnedVersion: Long = pinnedV

    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : ScanBuilder = {
      // DSv2 scan path for every table — merge-on-read tables
      // included, as long as their delete sliver fits the shipping
      // budget (see below) — gated ONLY on the store's own opt-out
      // (default ON): the scan
      // is correct with or without Spark's v2-bucketing flag — when
      // that flag is off Spark simply treats the reported
      // KeyGroupedPartitioning as unknown and plans its own
      // Exchanges, while manifest pruning, aggregate pushdown and
      // runtime filtering still apply. (The previous routing read
      // `spark.sql.sources.v2.bucketing.enabled` with a "false"
      // fallback — conf.get ignores the registered ConfigEntry
      // default, so the whole DSv2 path silently never activated on
      // stock sessions.) Bucket-only and identity-only layouts
      // report KeyGroupedPartitioning, so two tables partitioned
      // alike on the join key join with no Exchange
      // (storage-partitioned joins); identity values attach per
      // input partition (the parquet reader reconstructs
      // directory-borne columns); bare COUNT/integral MIN/MAX answer
      // from the manifest as a one-row scan. Tables with live delete
      // files (merge-on-read) ALSO route here — the scan applies the
      // positional/equality deletes inside each reader, so the
      // CDC-heavy tables keep SPJ, runtime filtering and manifest
      // pruning — as long as the delete sliver fits the per-task
      // shipping budget; past it (compaction overdue) the V1 plan's
      // distributed anti-joins take over.
      val (sch, pc, entries, dvs, cm) = pinnedState
      val v2Ready =
        spark.conf.get("spark.graft.snapshot.v2.enabled", "true")
          .toBoolean &&
        (dvs.isEmpty ||
          Snapshots.v2DeleteBytes(spark, path, dvs) <=
            spark.conf.get("spark.graft.snapshot.v2.maxDeleteBytes",
              (64L << 20).toString).toLong)
      if (v2Ready)
        new SnapshotScanBuilder(spark, path, pinnedV, sch, pc, cm,
          entries, dvs,
          shardRefs = Snapshots.shardRefsAt(spark, path, pinnedV))
      else v1ScanBuilder
    }

    private def v1ScanBuilder: ScanBuilder = new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = GraftTable.this.schema()
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val df = Snapshots.read(context.sparkSession, path,
            Some(pinnedV))
          (new BaseRelation with TableScan with PrunedFilteredScan {
            override val sqlContext: SQLContext = context
            override def schema: StructType = df.schema
            override def buildScan()
                : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              df.rdd
            override def buildScan(requiredColumns: Array[String],
                                   filters: Array[Filter])
                : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              // prune + push what translates; Spark re-applies every
              // filter above (unhandledFilters default = all), so a
              // skipped translation costs IO, never correctness.
              // An equality filter first re-plans through the
              // MANIFEST-level point-lookup pruning: hidden partition
              // transforms (bucket/days/truncate dirs) and file stats
              // shrink the entry list before any file opens — SQL
              // `WHERE source = 'x'` reads one directory's sliver of
              // a 100 TB table, not every file
              val sess = context.sparkSession
              val base = filters.collectFirst {
                case sources.EqualTo(att, v)
                    if v != null && df.columns.contains(att) =>
                  Snapshots.readEquals(sess, path, att, v, Some(pinnedV))
              }.getOrElse(df)
              val pruned =
                if (requiredColumns.isEmpty) base
                else base.select(requiredColumns.map(col).toSeq: _*)
              filters.flatMap(translateFilter)
                .foldLeft(pruned)((d, c) => d.filter(c)).rdd
            }
          }).asInstanceOf[T]
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

  private def translateFilterExact(f: Filter): Option[SqlColumn] =
    FilterTranslate.exact(f)

  private def translateFilter(f: Filter): Option[SqlColumn] =
    FilterTranslate.lenient(f)
}

/** The v1 `Filter` subset worth forwarding (equality, ranges, IN,
  * null tests, conjunction); everything else stays NULL and relies
  * on Spark's re-filter above the relation. Shared by the catalog's
  * V1 scan/DELETE paths and the DSv2 write's overwrite-filter
  * translation ([[SnapshotWriteBuilder]]).
  */
private[graft] object FilterTranslate {
  import org.apache.spark.sql.functions.col

  /** EXACT translation (DELETE / overwrite-by-filter): every node
    * must translate — the scan path's lenient And (push whichever
    * half translates) is an IO optimization there but would
    * over-delete or over-replace here, since nothing re-applies the
    * untranslated half.
    */
  def exact(f: Filter): Option[SqlColumn] =
    f match {
      case sources.And(l, r) =>
        for { a <- exact(l); b <- exact(r) } yield a && b
      case sources.Or(l, r) =>
        for { a <- exact(l); b <- exact(r) } yield a || b
      case sources.Not(c) => exact(c).map(!_)
      case leaf => lenient(leaf)
    }

  def lenient(f: Filter): Option[SqlColumn] = f match {
    case sources.AlwaysTrue() =>
      Some(org.apache.spark.sql.functions.lit(true))
    case sources.AlwaysFalse() =>
      Some(org.apache.spark.sql.functions.lit(false))
    case sources.EqualTo(a, v) => Some(col(a) === v)
    case sources.EqualNullSafe(a, v) =>
      Some(col(a) <=> org.apache.spark.sql.functions.lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > v)
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case sources.LessThan(a, v) => Some(col(a) < v)
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
    case sources.In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.And(l, r) =>
      (lenient(l), lenient(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b) // AND halves push independently
      }
    case sources.Or(l, r) =>
      for { a <- lenient(l); b <- lenient(r) }
        yield a || b
    case _ => None
  }
}
