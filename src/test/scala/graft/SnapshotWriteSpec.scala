package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Snapshots

/** DSv2 write path ([[graft.io.GraftCatalog]]'s
  * `RequiresDistributionAndOrdering` + overwrite contracts): Spark's
  * write planner clusters the incoming batch by the table's own
  * transforms, so an `INSERT INTO` a bucketed table lands ONE file
  * per bucket in one Spark-planned shuffle (not task-count × bucket
  * files), and every overwrite shape — truncate, static-partition /
  * filter, dynamic — is a single atomic manifest claim.
  */
class SnapshotWriteSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft_write").toString
    val name = s"gwr${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, wh)
  }

  private def dataFiles(tbl: String): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(s"$tbl/data"))
      .filter(_.getName.endsWith(".parquet"))
  }

  test("INSERT INTO a bucketed table lands ONE file per bucket (clustered write, not task-count x buckets)") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.b (o_orderkey BIGINT, " +
      "o_custkey BIGINT) PARTITIONED BY (bucket(8, o_custkey))")
    // 16 source partitions: an UNclustered insert would write up to
    // 16 x 8 files (one per task per bucket dir); the committer's
    // clustering shuffle routes each bucket to ONE task
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey").repartition(16)
      .createOrReplaceTempView("wr_src16")
    spark.sql(s"INSERT INTO $cat.db.b SELECT * FROM wr_src16")
    val files = dataFiles(s"$wh/db/b")
    assert(files.nonEmpty && files.size <= 8,
      s"expected <=8 bucket-aligned files, got ${files.size}: " +
        files.map(_.getParentFile.getName).distinct.mkString(","))
    // every bucket directory holds exactly one file
    val perDir = files.groupBy(_.getParentFile.getName)
    perDir.foreach { case (dir, fs) =>
      assert(fs.size === 1, s"$dir has ${fs.size} files")
    }
    // rows intact
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.b").head.getLong(0)
      === Tables.t(spark, sf, "orders").count())
  }

  test("write-then-SPJ loop: two freshly inserted bucketed tables join Exchange-free") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.o (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(8, k))")
    spark.sql(s"CREATE TABLE $cat.db.c (k BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(8, k))")
    Tables.t(spark, sf, "orders")
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("wr_o_src")
    Tables.t(spark, sf, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("s"))
      .createOrReplaceTempView("wr_c_src")
    spark.sql(s"INSERT INTO $cat.db.o SELECT * FROM wr_o_src")
    spark.sql(s"INSERT INTO $cat.db.c SELECT * FROM wr_c_src")
    val olds = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .map { case (k, v) =>
        val o = spark.conf.getOption(k); spark.conf.set(k, v); k -> o
      }
    try {
      val j = spark.sql(s"SELECT o.k AS k, o.v AS v, c.s AS s " +
        s"FROM $cat.db.o o JOIN $cat.db.c c ON o.k = c.k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"freshly written tables did not SPJ:\n$plan")
      assert(j.count() === Tables.t(spark, sf, "orders").count())
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("INSERT OVERWRITE PARTITION (static): only the named partition's rows are replaced, one commit") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.d (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
    docs.createOrReplaceTempView("wr_docs_src")
    spark.sql(s"INSERT INTO $cat.db.d SELECT * FROM wr_docs_src")
    val vBefore = Snapshots.latestVersion(spark, s"$wh/db/d").get
    spark.sql(s"INSERT OVERWRITE $cat.db.d PARTITION (lang = 'en') " +
      "SELECT doc_id + 9000000, n_chars " +
      "FROM wr_docs_src WHERE lang = 'en' AND doc_id % 2 = 0")
    // exactly ONE new version
    assert(Snapshots.latestVersion(spark, s"$wh/db/d").get
      === vBefore + 1L)
    val got = spark.sql(
      s"SELECT doc_id, n_chars, lang FROM $cat.db.d")
    val expect = docs.filter(col("lang") =!= "en").unionByName(
      docs.filter(col("lang") === "en" && col("doc_id") % 2 === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          col("n_chars"), col("lang")))
    assert(got.exceptAll(expect).isEmpty &&
      expect.exceptAll(got).isEmpty)
  }

  test("writeTo.overwrite(condition): filter-scoped replace in one commit, untouched files carried") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.w (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING)")
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
    docs.createOrReplaceTempView("wr_w_src")
    spark.sql(s"INSERT INTO $cat.db.w SELECT * FROM wr_w_src")
    val replacement = docs.filter(col("n_chars") < 300)
      .select((col("doc_id") + 7000000L).as("doc_id"),
        (col("n_chars") * 10).as("n_chars"), col("lang"))
    replacement.writeTo(s"$cat.db.w")
      .overwrite(col("n_chars") < lit(3000L))
    // replacement rows (n_chars*10 >= 3000 only when >=300... all
    // land) replace exactly the matching originals
    val got = spark.sql(s"SELECT doc_id, n_chars, lang FROM $cat.db.w")
    val expect = docs.filter(coalesce(col("n_chars") >= 3000L,
        lit(true)))
      .unionByName(replacement)
    assert(got.exceptAll(expect).isEmpty &&
      expect.exceptAll(got).isEmpty,
      s"rows=${got.count()} want=${expect.count()}")
  }

  test("SQL dynamic-partition overwrite: only the batch's partitions replaced, untouched files carried BY REFERENCE, one commit") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.dy (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
    docs.createOrReplaceTempView("wr_dy_src")
    spark.sql(s"INSERT INTO $cat.db.dy SELECT * FROM wr_dy_src")
    val v0 = Snapshots.latestVersion(spark, s"$wh/db/dy").get
    val untouchedBefore = dataFiles(s"$wh/db/dy")
      .filterNot(_.getParentFile.getName == "lang=en").map(_.getPath)
    val old = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode",
      "dynamic")
    try spark.sql(s"INSERT OVERWRITE $cat.db.dy " +
      "SELECT doc_id + 1000000, n_chars, lang FROM wr_dy_src " +
      "WHERE lang = 'en'")
    finally old match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode")
    }
    // exactly ONE new version; untouched partitions' files carried
    // by reference, not rewritten
    assert(Snapshots.latestVersion(spark, s"$wh/db/dy").get === v0 + 1)
    val untouchedAfter = dataFiles(s"$wh/db/dy")
      .filterNot(_.getParentFile.getName == "lang=en").map(_.getPath)
    assert(untouchedAfter.sorted === untouchedBefore.sorted,
      "untouched partitions were rewritten, not carried")
    val got = spark.sql(s"SELECT doc_id, n_chars, lang FROM $cat.db.dy")
    val expect = docs.filter(col("lang") =!= "en").unionByName(
      docs.filter(col("lang") === "en")
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("n_chars"), col("lang")))
    assert(got.exceptAll(expect).isEmpty &&
      expect.exceptAll(got).isEmpty)
    // the programmatic twin stays equivalent: same semantics, one
    // more commit
    Snapshots.replacePartitions(
      docs.filter(col("lang") === "en")
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("n_chars"), col("lang")), s"$wh/db/dy")
    assert(Snapshots.latestVersion(spark, s"$wh/db/dy").get === v0 + 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dy WHERE " +
      "doc_id >= 2000000").head.getLong(0)
      === docs.filter(col("lang") === "en").count())
  }

  test("write.sort.columns: every written file arrives sorted by the property's columns") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ws (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) PARTITIONED BY (lang) " +
      "TBLPROPERTIES ('write.sort.columns' = 'doc_id')")
    // shuffled input: without the declared ordering the files would
    // arrive in arrival order
    Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
      .orderBy(org.apache.spark.sql.functions.rand(7)).repartition(16)
      .createOrReplaceTempView("wr_ws_src")
    spark.sql(s"INSERT INTO $cat.db.ws SELECT * FROM wr_ws_src")
    val files = dataFiles(s"$wh/db/ws")
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted),
        s"${f.getName} is not sorted by doc_id - the declared " +
          "write ordering was not applied")
    }
    // a property naming a non-column refuses at write planning
    spark.sql(s"ALTER TABLE $cat.db.ws SET TBLPROPERTIES " +
      "('write.sort.columns' = 'nope')")
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO $cat.db.ws SELECT * FROM wr_ws_src"))
    assert(e.getMessage.contains("write.sort.columns"), e.getMessage)
  }

  test("the write DECLARES clustering and Spark PLANS it: the INSERT's physical plan carries the rebalance exchange + transform sort") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.pp (o_orderkey BIGINT, " +
      "o_custkey BIGINT) PARTITIONED BY (bucket(8, o_custkey))")
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey").repartition(16)
      .createOrReplaceTempView("wr_pp_src")
    @volatile var writePlan: Option[String] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val s = qe.executedPlan.toString
        if (s.contains("AppendData")) writePlan = Some(s)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"INSERT INTO $cat.db.pp SELECT * FROM wr_pp_src")
      org.apache.spark.graft.ListenerFlush
        .waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val plan = writePlan.getOrElse(fail("no AppendData plan captured"))
    // Spark planned the DECLARED distribution (a rebalance exchange
    // on the bucket transform) and the DECLARED per-task ordering (a
    // sort on the same transform) - not a committer-side shuffle
    assert(plan.contains("REBALANCE_PARTITIONS_BY_COL"),
      s"no write-requested rebalance exchange in the plan:\n$plan")
    assert(plan.contains("Sort ["),
      s"no write-requested sort in the plan:\n$plan")
    // both the exchange and the sort key ON the resolved bucket
    // transform (the catalog's V2 function), not a raw column
    assert(plan.contains("applyfunctionexpression") &&
      plan.contains("GraftBucketBound"),
      s"the exchange does not cluster on the bucket transform:\n$plan")
  }

  test("overwriteWhere refuses untranslatable batches and unknown columns loudly") {
    val path = Files.createTempDirectory("graft_ow").toString + "/t"
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
    Snapshots.commit(docs, path)
    val e = intercept[IllegalArgumentException](
      Snapshots.overwriteWhere(spark, path, col("lang") === "en",
        docs.withColumn("bogus", lit(1))))
    assert(e.getMessage.contains("bogus"))
    // happy path: one commit, predicate-scoped
    val v0 = Snapshots.latestVersion(spark, path).get
    Snapshots.overwriteWhere(spark, path, col("lang") === "en",
      docs.filter(col("lang") === "en").limit(3))
    assert(Snapshots.latestVersion(spark, path).get === v0 + 1)
    assert(Snapshots.read(spark, path).count() ===
      docs.filter(col("lang") =!= "en").count() + 3)
    // nothing-matched overwrite degenerates to a pure append
    val before = Snapshots.read(spark, path).count()
    Snapshots.overwriteWhere(spark, path,
      col("lang") === "no_such_lang", docs.limit(2))
    assert(Snapshots.read(spark, path).count() === before + 2)
  }

  /** Runs `body` with the shared session's zone set to `tz`. */
  private def inZone[A](tz: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val was = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, was)
  }

  // 2024-03-01T03:00Z, which is 2024-02-29 19:00 in Los Angeles
  private val marchFirst3amUtc = 1709262000000000L

  private def countOf(sql: String): Long =
    spark.sql(sql).collect()(0).getLong(0)

  test("a SQL INSERT under a non-UTC session names days(ts) directories " +
    "in UTC, and readEquals and a catalog WHERE ts = ... find the row") {
    val (cat, wh) = freshCatalog()
    val path = s"$wh/db/e"
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.e (ev BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    inZone("America/Los_Angeles") {
      spark.sql(s"INSERT INTO $cat.db.e " +
        s"SELECT 1L, timestamp_micros($marchFirst3amUtc)")
      val dirs = dataFiles(path).map(_.getParentFile.getName).toSet
      assert(dirs === Set("ts_day=20240301"), dirs.toString)
      assert(Snapshots.readEquals(spark, path, "ts",
        new java.sql.Timestamp(marchFirst3amUtc / 1000)).count() === 1L)
      assert(countOf(s"SELECT count(*) FROM $cat.db.e " +
        s"WHERE ts = timestamp_micros($marchFirst3amUtc)") === 1L)
    }
  }

  test("identity-timestamp partition values read back under the " +
    "table's layout zone, not the reader's session zone") {
    val (cat, wh) = freshCatalog()
    val path = s"$wh/db/p"
    Snapshots.commit(spark.range(1).selectExpr("id AS v",
      s"timestamp_micros($marchFirst3amUtc) AS ts"), path,
      partitionBy = Seq("ts"))
    inZone("America/Los_Angeles") {
      assert(Snapshots.read(spark, path).selectExpr("unix_micros(ts)")
        .collect()(0).getLong(0) === marchFirst3amUtc)
      assert(countOf(s"SELECT unix_micros(ts) FROM $cat.db.p") ===
        marchFirst3amUtc)
      assert(countOf(s"SELECT count(*) FROM $cat.db.p " +
        s"WHERE ts = timestamp_micros($marchFirst3amUtc)") === 1L)
      assert(Snapshots.readEquals(spark, path, "ts",
        new java.sql.Timestamp(marchFirst3amUtc / 1000)).count() === 1L)
    }
  }

  test("a SQL INSERT under spark.sql.files.maxRecordsPerFile=2 writes " +
    "no file over 2 rows") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.m (id BIGINT, g BIGINT) " +
      "PARTITIONED BY (g)")
    val key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "2")
    try spark.sql(s"INSERT INTO $cat.db.m SELECT id, id % 2 FROM range(11)")
    finally spark.conf.unset(key)
    val rows = dataFiles(s"$wh/db/m")
      .map(f => spark.read.parquet(f.getPath).count())
    assert(rows.sum === 11L && rows.forall(_ <= 2L), rows.mkString(","))
    assert(countOf(s"SELECT count(*) FROM $cat.db.m") === 11L)
  }

  test("a task whose writer factory creates the file and then throws leaves no staged file after abort()") {
    val path = Files.createTempDirectory("graft_roll").toString
    val commitDir = "_commit_roll"
    // the failure shape under test: the file exists on disk, but no
    // OutputWriter came back for the task to track it by
    val failing = new org.apache.spark.sql.execution.datasources
        .OutputWriterFactory {
      override def getFileExtension(
          ctx: org.apache.hadoop.mapreduce.TaskAttemptContext): String =
        ".parquet"
      override def newInstance(file: String,
          dataSchema: org.apache.spark.sql.types.StructType,
          ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
          : org.apache.spark.sql.execution.datasources.OutputWriter = {
        val p = new org.apache.hadoop.fs.Path(file)
        p.getFileSystem(ctx.getConfiguration).create(p).close()
        throw new java.io.IOException("writer init failed after create")
      }
    }
    val support = org.apache.spark.sql.graft.WriteBridge.TaskWriteSupport(
      failing, new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val id = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.LongType, nullable = false)
    val w = new graft.io.SnapshotDataWriter(path, commitDir, support,
      Seq(id), new org.apache.spark.sql.types.StructType()
        .add("id", "long", nullable = false),
      Nil, Nil, partitionId = 0, taskId = 0L)
    intercept[java.io.IOException](
      w.write(org.apache.spark.sql.catalyst.InternalRow(1L)))
    w.abort()
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val left = files(new java.io.File(s"$path/$commitDir"))
    assert(left.isEmpty, s"abort() left staged files behind: $left")
  }

  test("programmatic commits write on the caller's session: a listener " +
    "and a planner strategy added after the first write reach later writes") {
    // a session of its own: no listener, no graft strategy installed yet
    val s = spark.newSession()
    val dir = Files.createTempDirectory("graft_write_follow").toString
    val rows = s.range(0, 40).select(col("id"), (col("id") % 4).as("g"))
    Snapshots.commit(rows, s"$dir/a")
    @volatile var wrote = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("TopKPerKey") &&
            qe.executedPlan.toString.contains("AppendData")) wrote = true
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      // perKey installs TopKStrategy on `s` now, after the first write;
      // without it the write could not plan the TopK node
      val top = graft.plans.TopK.perKey(rows, Seq(col("g")),
        Seq(col("id").desc), 2)
      Snapshots.commit(top, s"$dir/b")
      org.apache.spark.graft.ListenerFlush
        .waitUntilEmpty(spark.sparkContext)
    } finally s.listenerManager.unregister(listener)
    assert(Snapshots.read(s, s"$dir/b").count() === 8L)
    assert(wrote, "the write's query never reached the parent's listener")
  }
}
