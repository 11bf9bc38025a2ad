package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.plans.{CosineSimilarityExpr, TopKStrategy}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst pieces on any session, including pure-SQL ones —
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT graft_cosine(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * (Equivalently: `spark.sql.extensions=graft.GraftExtensions`.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKStrategy)
    // rank-filter window pattern -> bounded-heap TopKPerKeyPlan
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName,
        "graft_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarityExpr(children.head, children(1))))
    // snapshot-store table-valued function: pure-SQL time travel —
    //   SELECT * FROM graft_snapshot('/path')            -- latest
    //   SELECT * FROM graft_snapshot('/path', 3)         -- version
    //   SELECT * FROM graft_snapshot('/path', 'train-v1') -- tag
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo("graft.io.Snapshots", "graft_snapshot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.nonEmpty && children.size <= 2,
          "graft_snapshot(path[, version|tag]) takes 1 or 2 arguments")
        require(children.forall(_.foldable),
          "graft_snapshot arguments must be literals")
        val spark = org.apache.spark.sql.SparkSession.active
        val path = String.valueOf(children.head.eval())
        val v = children.lift(1).map(_.eval()) match {
          case None => graft.io.Snapshots.latestVersion(spark, path)
            .getOrElse(throw new IllegalArgumentException(
              s"snapshot: no committed version under $path"))
          case Some(n: Number) => n.longValue()
          case Some(t) => // a tag name
            val tag = String.valueOf(t)
            graft.io.Snapshots.tags(spark, path).getOrElse(tag,
              throw new IllegalArgumentException(
                s"snapshot: no tag '$tag' under $path"))
        }
        // the same pinned DSv2 relation Snapshots.read returns
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.read(spark, path, Some(v)))
      }))
    // SELECT * FROM graft_snapshot_history('/path') — DESCRIBE
    // HISTORY as a table function (metadata-only local relation)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot_history"),
      new ExpressionInfo("graft.io.Snapshots", "graft_snapshot_history"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 && children.head.foldable,
          "graft_snapshot_history(path) takes one literal argument")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.history(spark,
            String.valueOf(children.head.eval())))
      }))
    // SELECT * FROM graft_snapshot_files('/path'[, version]) — the
    // files metadata table: per-entry path, bytes, partition values
    // (hidden-transform dirs included) and pruning stats
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot_files"),
      new ExpressionInfo("graft.io.Snapshots", "graft_snapshot_files"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.nonEmpty && children.size <= 2 &&
          children.forall(_.foldable),
          "graft_snapshot_files(path[, version]) takes 1 or 2 " +
            "literal arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val v = children.lift(1).map(_.eval()) map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_snapshot_files: version '$other' is not a number")
        }
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.files(spark,
            String.valueOf(children.head.eval()), v))
      }))
    // SELECT * FROM graft_snapshot_detail('/path') — DESCRIBE DETAIL:
    // the one-row operational summary (version, totals, partitioning,
    // delete files, staged appends, tags, properties)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot_detail"),
      new ExpressionInfo("graft.io.Snapshots", "graft_snapshot_detail"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1 && children.head.foldable,
          "graft_snapshot_detail(path) takes one literal argument")
        val spark = org.apache.spark.sql.SparkSession.active
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.detail(spark,
            String.valueOf(children.head.eval())))
      }))
    // SELECT * FROM graft_snapshot_partitions('/path'[, version]) —
    // SHOW PARTITIONS with teeth: per-partition file/byte/row totals
    // from the manifest pseudo-stats, zero data IO
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot_partitions"),
      new ExpressionInfo("graft.io.Snapshots",
        "graft_snapshot_partitions"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.nonEmpty && children.size <= 2 &&
          children.forall(_.foldable),
          "graft_snapshot_partitions(path[, version]) takes 1 or 2 " +
            "literal arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        val v = children.lift(1).map(_.eval()) map {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_snapshot_partitions: version '$other' is not a number")
        }
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.partitions(spark,
            String.valueOf(children.head.eval()), v))
      }))
    // SELECT * FROM graft_snapshot_changes('/path', from, to) — the
    // row-level change data feed in SQL (insert/delete rows with
    // _change_type and _commit_version; merges, mor deletes and
    // compactions included — see Snapshots.changeFeed)
    ext.injectTableFunction((
      new FunctionIdentifier("graft_snapshot_changes"),
      new ExpressionInfo("graft.io.Snapshots", "graft_snapshot_changes"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3 && children.forall(_.foldable),
          "graft_snapshot_changes(path, fromVersion, toVersion) " +
            "takes three literal arguments")
        val spark = org.apache.spark.sql.SparkSession.active
        def longOf(e: org.apache.spark.sql.catalyst.expressions
            .Expression): Long = e.eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_snapshot_changes: version '$other' is not a number")
        }
        org.apache.spark.sql.graft.Bridge.logicalPlan(
          graft.io.Snapshots.changeFeed(spark,
            String.valueOf(children.head.eval()),
            longOf(children(1)), longOf(children(2))))
      }))
  }
}
