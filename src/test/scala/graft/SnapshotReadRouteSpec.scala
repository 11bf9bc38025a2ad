package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, format_string}

import graft.io.Snapshots

/** Every snapshot front door plans the one DSv2 scan, and past the
  * delete-shipping budget the same front doors keep their file
  * skipping on the anti-join plan. */
class SnapshotReadRouteSpec extends SparkSpec {

  private def newStore: String =
    java.nio.file.Files.createTempDirectory("graft_route").toString +
      "/tbl"

  private val rows = 400L

  /** Eight appends of 50 consecutive ids (disjoint per-file id and
    * `s` ranges), a positional delete (id % 7 = 0), an equality
    * delete (id % 11 = 0), `v` renamed to `w`, a tag and a staged
    * append of ids 1000..1049. */
  private lazy val store: String = {
    val path = newStore
    val base = spark.range(0L, rows).toDF("id")
      .withColumn("s", format_string("s%04d", col("id")))
      .withColumn("v", col("id") * 3)
    (0L until rows by 50L).foreach(lo =>
      Snapshots.commitAppend(base.filter(col("id") >= lo &&
        col("id") < lo + 50).coalesce(1), path))
    Snapshots.deleteWhere(spark, path, col("id") % 7 === 0, mode = "mor")
    Snapshots.deleteKeysEq(spark, path,
      base.filter(col("id") % 11 === 0).select("id"), Seq("id"))
    Snapshots.renameColumn(spark, path, "v", "w")
    Snapshots.tag(spark, path, "t1")
    Snapshots.stageAppend(spark.range(1000L, 1050L).toDF("id")
      .withColumn("s", format_string("s%04d", col("id")))
      .withColumn("w", col("id") * 3).coalesce(1), path, "w1")
    path
  }

  /** The relational replay of the live table. */
  private def replay(ids: Seq[Long]): Seq[Row] =
    ids.filter(i => i % 7 != 0 && i % 11 != 0)
      .map(i => Row(i, f"s$i%04d", i * 3)).sortBy(_.getLong(0))

  private val live = replay(0L until rows)

  private def sorted(df: DataFrame): Seq[Row] =
    df.select("id", "s", "w").collect().toSeq.sortBy(_.getLong(0))

  private def frontDoors(path: String): Seq[(String, () => DataFrame,
                                             Seq[Row])] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    org.apache.spark.sql.graft.Bridge.applyExtensions(spark, ext)
    Seq(
      ("read", () => Snapshots.read(spark, path), live),
      ("readAsOf", () => Snapshots.readAsOf(spark, path,
        System.currentTimeMillis()), live),
      ("readTag", () => Snapshots.readTag(spark, path, "t1"), live),
      ("readStaged", () => Snapshots.readStaged(spark, path, "w1"),
        live ++ (1000L until 1050L).map(i => Row(i, f"s$i%04d", i * 3))),
      ("readBetween", () => Snapshots.readBetween(spark, path, "id",
        99.5, 149.5), replay(100L to 149L)),
      ("readBetweenStrings", () => Snapshots.readBetweenStrings(spark,
        path, "s", "s0210", "s0260"), replay(210L to 260L)),
      ("readEquals", () => Snapshots.readEquals(spark, path, "id", 123L),
        replay(Seq(123L))),
      ("graft_snapshot", () => spark.sql(
        s"SELECT * FROM graft_snapshot('$path')"), live))
  }

  private val skipping =
    Set("readBetween", "readBetweenStrings", "readEquals")

  test("every front door plans the join-free DSv2 scan and returns the replay's rows") {
    val path = store
    val total = storeFiles(path)
    assert(total === 8)
    frontDoors(path).foreach { case (name, read, want) =>
      val df = read()
      val plan = df.queryExecution.executedPlan.toString
      assert(df.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan
      }.exists(_.description().startsWith("graft-snapshot")),
        s"$name:\n$plan")
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      assert(sorted(df) === want, name)
      if (skipping(name))
        assert(plannedFiles(df).size < total,
          s"$name planned ${plannedFiles(df).size} of $total files")
    }
  }

  test("past spark.graft.snapshot.v2.maxDeleteBytes every front door " +
    "answers through the anti-join plan and point and range reads " +
    "still skip files") {
    val path = store
    val total = storeFiles(path)
    spark.conf.set(Snapshots.MaxDeleteBytesConf, "1")
    try frontDoors(path).foreach { case (name, read, want) =>
      val df = read()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"$name:\n$plan")
      assert(sorted(df) === want, name)
      // the data files the anti-join plan's scans plan
      val opened = plannedFiles(df)
      assert(opened.nonEmpty, s"$name:\n$plan")
      if (skipping(name))
        assert(opened.size < total,
          s"$name opened ${opened.size} of $total files")
    } finally spark.conf.unset(Snapshots.MaxDeleteBytesConf)
  }

  test("rowCount on a positional-delete table answers from manifest-agg and equals the scanned count") {
    val path = newStore
    Snapshots.commit(spark.range(0L, 300L).toDF("id").coalesce(2), path)
    Snapshots.deleteWhere(spark, path, col("id") % 5 === 0, mode = "mor")
    val plan = Snapshots.read(spark, path).groupBy().count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("manifest-agg"), plan)
    val scanned = Snapshots.read(spark, path).collect().length
    assert(scanned === 240)
    assert(Snapshots.rowCount(spark, path) === scanned.toLong)
  }

  test("format(graft-snapshot) loads of a positional-delete table push filters and columns into the scan") {
    val path = newStore
    (0L until 400L by 100L).foreach(lo => Snapshots.commitAppend(
      spark.range(lo, lo + 100L).toDF("k")
        .withColumn("c", format_string("c%04d", col("k"))).coalesce(1),
      path))
    Snapshots.deleteWhere(spark, path, col("k") % 3 === 0, mode = "mor")
    val total = storeFiles(path)
    assert(total === 4)
    def load(k: Long): DataFrame = spark.read.format("graft-snapshot")
      .option("path", path).load().where(col("k") === k).select("c")
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val got = load(250L).collect().toSeq
    val opened = graft.io.SnapshotReaderFactory.filesOpened.get()
    assert(got === Seq(Row("c0250")))
    assert(opened < total, s"opened $opened of $total files")
    assert(load(252L).collect().isEmpty, "a deleted row stays deleted")
    val all = spark.read.format("graft-snapshot").option("path", path)
      .load().select("c").collect().map(_.getString(0)).sorted.toSeq
    assert(all === (0L until 400L).filter(_ % 3 != 0).map(k => f"c$k%04d"))
  }

  test("catalog SQL past spark.graft.snapshot.v2.maxDeleteBytes pushes its WHERE into the scan") {
    val wh = java.nio.file.Files.createTempDirectory("graft_route_cat")
      .toString
    val cat = s"rcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, c STRING)")
    val path = s"$wh/db/t"
    (0L until 400L by 100L).foreach(lo => Snapshots.commitAppend(
      spark.range(lo, lo + 100L).toDF("k")
        .withColumn("c", format_string("c%04d", col("k"))).coalesce(1),
      path))
    Snapshots.deleteWhere(spark, path, col("k") % 3 === 0, mode = "mor")
    val total = storeFiles(path)
    assert(total === 4)
    spark.conf.set(Snapshots.MaxDeleteBytesConf, "1")
    try {
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val got = spark.sql(s"SELECT c FROM $cat.db.t WHERE k = 250")
        .collect().toSeq
      val opened = graft.io.SnapshotReaderFactory.filesOpened.get()
      assert(got === Seq(Row("c0250")))
      assert(opened < total, s"opened $opened of $total files")
      assert(spark.sql(s"SELECT c FROM $cat.db.t WHERE k = 252")
        .collect().isEmpty, "a deleted row stays deleted")
      val ranged = spark.sql(
        s"SELECT k FROM $cat.db.t WHERE k BETWEEN 95 AND 104")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ranged === (95L to 104L).filter(_ % 3 != 0))
    } finally spark.conf.unset(Snapshots.MaxDeleteBytesConf)
  }

  test("format(graft-snapshot) loads keep manifest column order with or without delete files") {
    val path = newStore
    Snapshots.commit(spark.range(0L, 60L).toDF("k")
      .withColumn("p", col("k") % 3)
      .withColumn("c", format_string("c%04d", col("k")))
      .select("p", "k", "c"), path, Seq("p"))
    def load(): DataFrame =
      spark.read.format("graft-snapshot").option("path", path).load()
    val clean = load().columns.toSeq
    assert(clean === Seq("p", "k", "c"))
    assert(clean === Snapshots.read(spark, path).columns.toSeq)
    Snapshots.deleteWhere(spark, path, col("k") % 5 === 0, mode = "mor")
    assert(load().columns.toSeq === clean)
    assert(Snapshots.read(spark, path).columns.toSeq === clean)
    assert(load().count() === 48L)
  }

  test("a __graft_file-only scan keeps columnar range splits; __graft_pos reads row-based whole files") {
    val path = newStore
    Snapshots.commit(spark.range(0L, 20000L).toDF("k")
      .withColumn("c", format_string("c%08d", col("k"))).coalesce(2),
      path)
    val files = storeFiles(path)
    assert(files === 2)
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "4096") {
      val byFile = Snapshots.read(spark, path).select("k", "__graft_file")
      val filePlan = byFile.queryExecution.executedPlan.toString
      assert(filePlan.contains("ColumnarToRow"), filePlan)
      val fileParts = byFile.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan
      }.collect { case s: graft.io.SnapshotBatchScan =>
        s.planInputPartitions().length }.sum
      assert(fileParts > files, s"$fileParts partitions for $files files")
      val perFile = byFile.groupBy("__graft_file").count().collect()
      assert(perFile.length === files)
      assert(perFile.map(_.getLong(1)).sum === 20000L)
      val byPos = Snapshots.read(spark, path)
        .select("k", "__graft_file", "__graft_pos")
      val posPlan = byPos.queryExecution.executedPlan.toString
      assert(!posPlan.contains("ColumnarToRow"), posPlan)
      val posParts = byPos.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan
      }.collect { case s: graft.io.SnapshotBatchScan =>
        s.planInputPartitions().length }.sum
      assert(posParts === files)
      assert(byPos.select("__graft_file", "__graft_pos").distinct()
        .count() === 20000L)
    }
  }

  test("input_file_name() names each data file on a catalog table") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ifn").toString
    val cat = s"gifn${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (v BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id FROM range(100, 200)")
    val perFile = spark.sql(s"SELECT input_file_name() AS f, count(*) " +
      s"AS n FROM $cat.db.t GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!perFile.contains(""), perFile)
    assert(perFile.keys.forall(_.contains("/db/t/data/")), perFile)
    assert(perFile.size >= 2 && perFile.values.sum === 200L, perFile)
  }
}
