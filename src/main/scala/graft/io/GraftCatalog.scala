package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column => SqlColumn, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
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
  * Each table is a [[GraftTable]], the same version-pinned relation
  * the programmatic reads return: reads go through the DSv2
  * manifest-backed scan ([[SnapshotBatchScan]]: column pruning,
  * manifest/aggregate pushdown, storage-partitioned joins, in-reader
  * merge-on-read deletes); unhandled filters are re-applied by Spark
  * above, so pushdown is an IO optimization, never a correctness
  * dependency. Writes go through the DSv2
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
    new GraftTable(spark, path, ident.toString, Some(v), mutable = true)
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
    new GraftTable(spark, path, s"$ident@v$v", Some(v), mutable = false)
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
    new GraftTable(spark, path, s"$ident@v$v", Some(v), mutable = false)
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
    new GraftTable(spark, path, ident.toString, Some(v), mutable = true)
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
}

/** The v1 `Filter` subset worth forwarding (equality, ranges, IN,
  * null tests, conjunction); everything else stays NULL and relies
  * on Spark's re-filter above the relation. Shared by SQL DELETE,
  * the residual of [[Snapshots.readWhere]] and the DSv2 write's
  * overwrite-filter translation ([[SnapshotWriteBuilder]]).
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
