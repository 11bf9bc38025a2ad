package graft.io

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences, BoundReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.functions.{col, pmod}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The snapshot store's hidden TIME and TRUNCATE transforms as
  * catalog V2 functions — the piece that lets Spark PLAN writes into
  * those layouts: [[SnapshotBatchWrite]] declares
  * `Distributions.clustered(days(ts), ...)` and Spark's
  * `DistributionAndOrderingUtils` resolves each transform through
  * [[TransformFunctions]] into an evaluable expression for its
  * rebalance/sort, exactly like `bucket` ([[GraftBucketFunction]])
  * already resolves for storage-partitioned joins.
  *
  * Parity is load-bearing: `produceResult` must agree with the
  * write-time directory derivation ([[Snapshots.PartField.derive]])
  * on every input, or Spark's clustering would route rows to tasks
  * that write them under a DIFFERENT directory than the cluster key
  * claims — silently multiplying files per partition. The bound
  * expression is therefore built FROM `derive` itself
  * ([[DerivedExprs.bound]] analyzes the real write-path `Column`
  * against a one-column relation and binds the result), not
  * re-implemented.
  */
/** V2 functions backing the hidden partition transforms, as the
  * function catalog of every snapshot write and of [[GraftCatalog]]:
  * Spark's storage-partitioned-join planner loads `bucket` to resolve
  * two scans' reported `bucket(n, col)` partitionings into comparable
  * expressions (same canonical function + same count ⇒ the join needs
  * no Exchange), and the WRITE planner loads every transform to turn
  * [[SnapshotWrite]]'s declared clustering into the rebalance+sort it
  * plans.
  */
private[graft] object TransformFunctions extends FunctionCatalog {
  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = ()
  override def name(): String = "graft_transforms"

  private val names =
    Seq("bucket", "years", "months", "days", "hours", "truncate")

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      names.map(n => Identifier.of(Array.empty[String], n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    else ident.name() match {
      case "bucket" => GraftBucketFunction
      case k @ ("years" | "months" | "days" | "hours") =>
        new GraftTimeFunction(k)
      case "truncate" => GraftTruncateFunction
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }
}

private[graft] object DerivedExprs {

  /** The analyzed, executable catalyst expression of
    * `field.derive(col, dt)` with the source column read from
    * `ordinal` of the eval input row, analyzed under UTC like the
    * writer's directory values. Driver-only (analysis needs the
    * active session); the returned tree is serializable and its
    * `eval` is executor-safe.
    */
  def bound(field: Snapshots.PartField, dt: DataType,
            ordinal: Int = 0): Expression = {
    val spark = Snapshots.utcDeriveSession(SparkSession.active)
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("c", dt, nullable = true))))
    analyzedChild(
      df.select(field.derive(col("c"), dt).as("d")), ordinal)
  }

  /** Same, for any single-output select over `df` whose input
    * attributes are `df`'s columns in order — the first projected
    * expression, bound positionally.
    */
  def analyzedChild(selected: org.apache.spark.sql.DataFrame,
                    ordinalBase: Int): Expression = {
    val plan = selected.queryExecution.analyzed match {
      case p: Project => p
      case other => throw new IllegalStateException(
        s"graft: expected a Project for a derive analysis, got " +
          s"${other.getClass.getSimpleName}")
    }
    val child = plan.projectList.head match {
      case a: Alias => a.child
      case e => e
    }
    val boundE = BindReferences.bindReference(
      child, AttributeSeq(plan.child.output))
    if (ordinalBase == 0) boundE
    else boundE.transform {
      case b: BoundReference => b.copy(ordinal = b.ordinal + ordinalBase)
    }
  }
}

/** `years(ts)` / `months(ts)` / `days(ts)` / `hours(ts)` as V2
  * functions: one argument (timestamp or date), result = the integer
  * directory value the writer derives (`year*100+month` for months,
  * etc. — [[Snapshots.PTime.derive]] verbatim, under UTC).
  */
private[graft] final class GraftTimeFunction(kind: String)
    extends UnboundFunction {
  override def name(): String = kind
  override def description(): String =
    s"$kind(ts): the snapshot store's hidden $kind partition transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"graft $kind(ts) takes 1 argument, got $inputType")
    val dt = inputType.fields(0).dataType
    new GraftDerivedBound(kind, s"graft.$kind",
      DerivedExprs.bound(Snapshots.PTime(kind, "c"), dt),
      Array(dt))
  }
}

/** `truncate(w, col)` as a V2 function: width rides as the FIRST
  * argument per row (the transform's literal), so the bound
  * expression reads both slots — `substring(col, 1, w)` for strings,
  * `col - pmod(col, w)` for integrals, the exact
  * [[Snapshots.PTruncate.derive]] rules with the literal width
  * generalized to an argument.
  */
private[graft] object GraftTruncateFunction extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w, col): the snapshot store's hidden truncate transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft truncate(w, col) takes 2 arguments, got $inputType")
    val dt = inputType.fields(1).dataType
    val spark = SparkSession.active
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("w", IntegerType),
        StructField("c", dt, nullable = true))))
    val derived = dt match {
      case StringType =>
        org.apache.spark.sql.functions.expr("substring(c, 1, w)")
      case ByteType | ShortType | IntegerType | LongType =>
        col("c") - pmod(col("c"), col("w"))
      case other => throw new IllegalArgumentException(
        s"graft: truncate partitioning needs a string or integral " +
          s"column, got ${other.catalogString}")
    }
    new GraftDerivedBound("truncate", "graft.truncate",
      DerivedExprs.analyzedChild(df.select(derived.as("d")), 0),
      Array(IntegerType, dt))
  }
}

/** A bound transform function evaluating a pre-analyzed catalyst
  * expression over the call's argument row — stateless, serializable,
  * executor-safe.
  */
private[graft] final class GraftDerivedBound(
    fname: String, canonical: String, expr: Expression,
    inTypes: Array[DataType])
    extends ScalarFunction[Any] with Serializable {
  override def inputTypes(): Array[DataType] = inTypes
  override def resultType(): DataType = expr.dataType
  override def name(): String = fname
  override def canonicalName(): String = canonical
  override def produceResult(input: InternalRow): Any = expr.eval(input)
}
