package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Snapshots

/** Storage-partitioned joins (SPARK-37375 posture): two snapshot
  * tables bucket-partitioned alike on the join key join with ZERO
  * Exchange nodes — the write-time bucket layout IS the join
  * distribution. At 100 TB the eliminated shuffle is the entire cost
  * of the join; this suite pins both the no-shuffle plan shape and
  * result exactness against the plain (shuffling) join.
  */
class SnapshotSpjSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshCatalog(): (String, String) = {
    val wh = Files.createTempDirectory("graft_spj").toString
    val name = s"gspj${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, wh)
  }

  private def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def executedPlan(df: DataFrame): String = {
    df.collect() // finalize any adaptive plan before inspecting
    df.queryExecution.executedPlan.toString
  }

  private def setupTables(cat: String): Unit = {
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ord (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE) " +
      "PARTITIONED BY (bucket(8, o_custkey))")
    spark.sql(s"CREATE TABLE $cat.db.cust (c_custkey BIGINT, " +
      "c_name STRING, c_acctbal DOUBLE) " +
      "PARTITIONED BY (bucket(8, c_custkey))")
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("spj_orders_src")
    Tables.t(spark, sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .createOrReplaceTempView("spj_cust_src")
    spark.sql(s"INSERT INTO $cat.db.ord SELECT * FROM spj_orders_src")
    spark.sql(s"INSERT INTO $cat.db.cust SELECT * FROM spj_cust_src")
  }

  private def joinSql(cat: String): String =
    s"SELECT c.c_custkey AS k, o.o_totalprice AS price, " +
      s"c.c_acctbal AS bal FROM $cat.db.ord o " +
      s"JOIN $cat.db.cust c ON o.o_custkey = c.c_custkey"

  test("bucket(8)-aligned tables join with zero Exchange nodes, results exact") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    // sums over DECIMAL: double addition order differs between the
    // shuffled and the partition-aligned plan
    def summarize(df: DataFrame) =
      df.agg(count(lit(1)), sum("k"),
        sum(col("price").cast("decimal(28,2)")),
        sum(col("bal").cast("decimal(28,2)"))).head()
    val expect = summarize(Tables.t(spark, sf, "orders").as("o")
      .join(Tables.t(spark, sf, "customer").as("c"),
        col("o.o_custkey") === col("c.c_custkey"))
      .select(col("c.c_custkey").as("k"),
        col("o.o_totalprice").as("price"),
        col("c.c_acctbal").as("bal")))
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      // broadcast off: a broadcast join is trivially shuffle-free -
      // the pin must prove the PARTITION-ALIGNED join needs none
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(joinSql(cat))
      val p = executedPlan(df)
      assert(p.contains("graft-snapshot spj"), p)
      assert(!p.contains("Exchange"),
        s"storage-partitioned join planned a shuffle:\n$p")
      val got = summarize(df)
      assert(got === expect)
    }
  }

  test("v2 bucketing OFF keeps the DSv2 scan (Spark just plans its own shuffle) and answers exactly") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      val df = spark.sql(joinSql(cat))
      val p = df.queryExecution.executedPlan.toString
      // routing no longer depends on the bucketing flag — the scan
      // path itself (manifest pruning, agg pushdown) stays active;
      // only the reported partitioning goes unexploited
      assert(p.contains("graft-snapshot spj"), p)
      assert(df.count() ===
        Tables.t(spark, sf, "orders").count())
    }
  }

  test("stock session (no bucketing confs set) still routes through the DSv2 scan") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    // the regression this pins: conf.get("...v2.bucketing.enabled",
    // "false") ignored the registered default, so stock sessions
    // silently fell back to V1 forever
    val unset = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    val olds = unset.map(k => k -> spark.conf.getOption(k))
    unset.foreach(spark.conf.unset)
    try {
      val df = spark.sql(s"SELECT * FROM $cat.db.ord")
      assert(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case _ => ()
    }
  }

  test("DSv2 path: equality point lookup prunes to one bucket's files and stays exact") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    val key = Tables.t(spark, sf, "orders")
      .select("o_custkey").head().getLong(0)
    val expect = Tables.t(spark, sf, "orders")
      .filter(col("o_custkey") === key)
      .agg(count(lit(1)), sum("o_totalprice")).head()
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(s"SELECT count(*), sum(o_totalprice) " +
        s"FROM $cat.db.ord WHERE o_custkey = $key")
      assert(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      assert(df.head() === expect)
      // the manifest keeps >1 bucket directory; the pruned scan must
      // plan strictly fewer input partitions than the full read
      val full = spark.sql(s"SELECT * FROM $cat.db.ord")
      val fullParts = full.rdd.getNumPartitions
      val pruned = spark.sql(
        s"SELECT * FROM $cat.db.ord WHERE o_custkey = $key")
      assert(pruned.rdd.getNumPartitions < fullParts,
        s"point lookup did not prune: ${pruned.rdd.getNumPartitions} " +
          s"vs $fullParts")
    }
  }

  test("DSv2 path agrees with the programmatic read on every row (column pruning + filters)") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val v2 = spark.sql(s"SELECT o_orderkey, o_totalprice " +
        s"FROM $cat.db.ord WHERE o_totalprice > 1000.0")
      val prog = Snapshots.read(spark, s"$wh/db/ord")
        .filter(col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_totalprice")
      assert(v2.exceptAll(prog).isEmpty && prog.exceptAll(v2).isEmpty)
      assert(v2.count() === prog.count())
    }
  }

  test("bucket function: catalog-loaded produceResult matches the write-time directory layout") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    import org.apache.spark.sql.types._
    val bound = graft.io.GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("v", LongType))))
    // every stored row must hash into the bucket directory it lives
    // in: recompute with the V2 function and compare to the dirs
    val perBucket = Snapshots.read(spark, s"$wh/db/ord")
      .select("o_custkey").distinct().collect().map(_.getLong(0))
    perBucket.take(200).foreach { k =>
      val viaFn = bound.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions
          .ScalarFunction[Integer]]
        .produceResult(org.apache.spark.sql.catalyst.InternalRow(8, k))
      val viaSql = spark.range(1)
        .select(pmod(xxhash64(lit(k)), lit(8)).cast("int")).head.getInt(0)
      assert(viaFn === viaSql, s"key $k: fn $viaFn vs layout $viaSql")
    }
  }

  test("manifest aggregate pushdown: bare COUNT/MIN/MAX answer from metadata, one-row scan") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(s"SELECT count(*) AS n, min(o_orderkey) AS mn, " +
        s"max(o_orderkey) AS mx FROM $cat.db.ord")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      val expect = Tables.t(spark, sf, "orders")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).head()
      assert(df.head() === expect)
      // the answer is METADATA-ONLY: hide the data directory and the
      // count must still serve (nothing opens a file)
      val dataDir = new java.io.File(s"$wh/db/ord/data")
      val hidden = new java.io.File(s"$wh/db/ord/data_hidden")
      assert(dataDir.renameTo(hidden))
      try assert(spark.sql(s"SELECT count(*) FROM $cat.db.ord")
        .head.getLong(0) === Tables.t(spark, sf, "orders").count())
      finally { hidden.renameTo(dataDir); () }
    }
  }

  test("MIN/MAX(timestamp|date) answer from the manifest 'U'/'L' bounds") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.tl (v BIGINT, ts TIMESTAMP, " +
      "d DATE)")
    (0 until 3).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("v")
        .selectExpr("v", "timestamp_seconds(1700000000 + v * 60) AS ts",
          "date_add(DATE'2021-06-01', cast(v AS INT)) AS d")
        .createOrReplaceTempView("spj_ts_src")
      spark.sql(s"INSERT INTO $cat.db.tl SELECT * FROM spj_ts_src")
    }
    // the table-freshness probe: answers as one metadata row
    val df = spark.sql(s"SELECT min(ts) AS mn_ts, max(ts) AS mx_ts, " +
      s"min(d) AS mn_d, max(d) AS mx_d FROM $cat.db.tl")
    assert(df.queryExecution.executedPlan.toString
      .contains("manifest-agg"), df.queryExecution.executedPlan)
    val r = df.head()
    assert(r.getTimestamp(0) ===
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1700000000L)))
    assert(r.getTimestamp(1) ===
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1700000000L + 299 * 60)))
    assert(r.getDate(2).toString === "2021-06-01")
    assert(r.getDate(3).toString === "2022-03-27") // +299 days
    // metadata-only: hide the data dir, the answer must still serve
    val dataDir = new java.io.File(s"$wh/db/tl/data")
    val hidden = new java.io.File(s"$wh/db/tl/data_hidden")
    assert(dataDir.renameTo(hidden))
    try assert(spark.sql(s"SELECT max(ts) FROM $cat.db.tl")
      .head.getTimestamp(0) === r.getTimestamp(1))
    finally { hidden.renameTo(dataDir); () }
  }

  test("aggregate pushdown refuses when it cannot be exact: filters, strings, grouping") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // filtered count: must NOT answer from the manifest, and stays exact
      val filtered = spark.sql(
        s"SELECT count(*) FROM $cat.db.ord WHERE o_totalprice > 1000.0")
      assert(!filtered.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(filtered.head.getLong(0) === Tables.t(spark, sf, "orders")
        .filter(col("o_totalprice") > 1000.0).count())
      // string min: truncated bounds are inexact - scan, not metadata
      val sMin = spark.sql(s"SELECT min(c_name) FROM $cat.db.cust")
      assert(!sMin.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(sMin.head.getString(0) === Tables.t(spark, sf, "customer")
        .agg(min("c_name")).head.getString(0))
      // grouped count: scan
      val grouped = spark.sql(
        s"SELECT c_name, count(*) FROM $cat.db.cust GROUP BY 1")
      assert(!grouped.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(grouped.count() === Tables.t(spark, sf, "customer")
        .select("c_name").distinct().count())
    }
  }

  test("unpartitioned tables read through the DSv2 per-file scan and agree with the relational replay") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.flat (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE)")
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("spj_flat_src")
    spark.sql(s"INSERT INTO $cat.db.flat SELECT * FROM spj_flat_src")
    val q = s"SELECT o_orderkey, o_totalprice FROM $cat.db.flat " +
      "WHERE o_custkey = 7"
    val v2 = withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(q)
      assert(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      df.collect().toSeq
    }
    val replay = Tables.t(spark, sf, "orders")
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_totalprice").collect().toSeq
    assert(v2.sortBy(_.getLong(0)) === replay.sortBy(_.getLong(0)))
    assert(v2.nonEmpty)
  }

  test("empty table: COUNT pushes to zero, MIN/MAX fall back to the scan's NULL") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.e (x BIGINT)")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val c = spark.sql(s"SELECT count(*) FROM $cat.db.e")
      assert(c.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(c.head.getLong(0) === 0L)
      val m = spark.sql(s"SELECT min(x) FROM $cat.db.e")
      assert(!m.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(m.head.isNullAt(0))
    }
  }

  test("runtime filtering: a dim-filtered star join prunes fact buckets before any IO") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      // one customer key: its orders live in exactly one bucket of 8
      val key = Tables.t(spark, sf, "customer")
        .select("c_custkey").head.getLong(0)
      spark.sql(s"SELECT * FROM $cat.db.cust WHERE c_custkey = $key")
        .collect()
      val q = s"SELECT o.o_orderkey, c.c_custkey FROM $cat.db.ord o " +
        s"JOIN $cat.db.cust c ON o.o_custkey = c.c_custkey " +
        s"WHERE c.c_custkey = $key"
      val expect = Tables.t(spark, sf, "orders")
        .filter(col("o_custkey") === key).count()
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val fullOpened = {
        spark.sql(s"SELECT o_orderkey FROM $cat.db.ord").collect()
        graft.io.SnapshotReaderFactory.filesOpened.get()
      }
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val got = spark.sql(q).count()
      val joinOpened = graft.io.SnapshotReaderFactory.filesOpened.get()
      assert(got === expect)
      // the fact side must have read fewer files than a full scan -
      // the dim's runtime IN-set pruned whole bucket directories
      // (joinOpened includes the dim side's own files)
      assert(joinOpened < fullOpened,
        s"runtime filter pruned nothing: $joinOpened vs $fullOpened")
    }
  }

  test("mismatched bucket counts: bucket(16) joins bucket(8) shuffle-free via gcd reduction") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ord16 (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE) " +
      "PARTITIONED BY (bucket(16, o_custkey))")
    spark.sql(s"CREATE TABLE $cat.db.cust8 (c_custkey BIGINT, " +
      "c_name STRING, c_acctbal DOUBLE) " +
      "PARTITIONED BY (bucket(8, c_custkey))")
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("spj16_ord_src")
    Tables.t(spark, sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .createOrReplaceTempView("spj8_cust_src")
    spark.sql(s"INSERT INTO $cat.db.ord16 SELECT * FROM spj16_ord_src")
    spark.sql(s"INSERT INTO $cat.db.cust8 SELECT * FROM spj8_cust_src")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled"
        -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(s"SELECT o.o_orderkey AS k, c.c_custkey AS c " +
        s"FROM $cat.db.ord16 o JOIN $cat.db.cust8 c " +
        "ON o.o_custkey = c.c_custkey")
      val p = executedPlan(df)
      assert(p.contains("graft-snapshot spj"), p)
      assert(!p.contains("Exchange"),
        s"gcd-reduced join planned a shuffle:\n$p")
      val expect = Tables.t(spark, sf, "orders").as("o")
        .join(Tables.t(spark, sf, "customer").as("c"),
          col("o.o_custkey") === col("c.c_custkey"))
        .agg(count(lit(1)), sum("o.o_orderkey"), sum("c.c_custkey"))
        .head()
      assert(df.agg(count(lit(1)), sum("k"), sum("c")).head() === expect)
    }
  }

  test("per-file scans split oversized files at maxPartitionBytes with no row lost or doubled") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.big (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_totalprice DOUBLE)")
    Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .coalesce(1) // ONE file holding every row
      .createOrReplaceTempView("spj_big_src")
    spark.sql(s"INSERT INTO $cat.db.big SELECT * FROM spj_big_src")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // force many ranges over the single small file
      "spark.sql.files.maxPartitionBytes" -> "16384") {
      val df = spark.sql(s"SELECT o_orderkey FROM $cat.db.big")
      assert(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      assert(df.rdd.getNumPartitions > 1,
        s"oversized file did not split: ${df.rdd.getNumPartitions}")
      // exactly once per row: ranges cover every row group once
      assert(df.count() === Tables.t(spark, sf, "orders").count())
      assert(df.distinct().count() === df.count())
    }
  }

  test("DSv2 path under schema evolution: widened types and renamed columns read exactly") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ev (id INT, v INT)")
    spark.range(0, 100).selectExpr("CAST(id AS INT) AS id",
      "CAST(id * 2 AS INT) AS v").createOrReplaceTempView("spj_ev_a")
    spark.sql(s"INSERT INTO $cat.db.ev SELECT * FROM spj_ev_a")
    // widen v to BIGINT: old int32 pages read under the wide type
    spark.sql(s"ALTER TABLE $cat.db.ev ALTER COLUMN v TYPE BIGINT")
    spark.range(100, 120).selectExpr("CAST(id AS INT) AS id",
      "id * 2 AS v").createOrReplaceTempView("spj_ev_b")
    spark.sql(s"INSERT INTO $cat.db.ev SELECT * FROM spj_ev_b")
    // rename id: the physical name in every file stays, reads map
    spark.sql(s"ALTER TABLE $cat.db.ev RENAME COLUMN id TO key")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        s"SELECT key, v FROM $cat.db.ev WHERE v > 100")
      assert(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      assert(df.count() === (0L until 120L).count(_ * 2 > 100))
      assert(df.agg(sum("key"), sum("v")).head() ===
        spark.range(0, 120).filter(col("id") * 2 > 100)
          .agg(sum("id"), sum(col("id") * 2)).head())
      // aggregate pushdown folds the exact bounds through the rename
      // AND the widening (mixed int32/int64 files)
      val agg = spark.sql(
        s"SELECT count(*), min(key), max(v) FROM $cat.db.ev")
      assert(agg.queryExecution.executedPlan.toString
        .contains("manifest-agg"), agg.queryExecution.executedPlan)
      assert(agg.head() === org.apache.spark.sql.Row(120L, 0, 238L))
    }
  }

  test("VERSION AS OF reads route through the DSv2 scan pinned at that version") {
    val (cat, _) = freshCatalog()
    setupTables(cat)
    val before = Tables.t(spark, sf, "orders").count()
    spark.sql(s"INSERT INTO $cat.db.ord " +
      "SELECT o_orderkey + 9000000, o_custkey, o_totalprice " +
      "FROM spj_orders_src LIMIT 5")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val old = spark.sql(
        s"SELECT count(*) FROM $cat.db.ord VERSION AS OF 2")
      assert(old.queryExecution.executedPlan.toString
        .contains("manifest-agg")) // pinned version, metadata count
      assert(old.head.getLong(0) === before)
      val now = spark.sql(s"SELECT count(*) FROM $cat.db.ord")
      assert(now.head.getLong(0) === before + 5)
    }
  }

  test("identity-partitioned tables: SPJ on the partition column, values reconstructed, pruning exact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.dl (doc_id BIGINT, n_chars BIGINT, " +
      "lang STRING) PARTITIONED BY (lang)")
    spark.sql(s"CREATE TABLE $cat.db.dr (lang STRING, boost DOUBLE) " +
      "PARTITIONED BY (lang)")
    Tables.t(spark, sf, "documents")
      .select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("spj_id_docs")
    Tables.t(spark, sf, "documents").select("lang").distinct()
      .withColumn("boost", length(col("lang")).cast("double"))
      .createOrReplaceTempView("spj_id_dim")
    spark.sql(s"INSERT INTO $cat.db.dl SELECT doc_id, n_chars, lang " +
      "FROM spj_id_docs")
    spark.sql(s"INSERT INTO $cat.db.dr SELECT lang, boost FROM spj_id_dim")
    val docs = Tables.t(spark, sf, "documents")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // identity values reconstructed: full-row parity with the source
      val all = spark.sql(s"SELECT doc_id, n_chars, lang FROM $cat.db.dl")
      assert(all.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      val src0 = docs.select("doc_id", "n_chars", "lang")
      assert(all.exceptAll(src0).isEmpty && src0.exceptAll(all).isEmpty)
      // point lookup prunes to one lang partition
      val one = spark.sql(
        s"SELECT count(*) FROM $cat.db.dl WHERE lang = 'en'")
      assert(one.head.getLong(0) ===
        docs.filter(col("lang") === "en").count())
      // SPJ on the identity column: no Exchange under the join
      val j = spark.sql(s"SELECT l.doc_id AS id, r.boost AS b " +
        s"FROM $cat.db.dl l JOIN $cat.db.dr r ON l.lang = r.lang")
      val plan = executedPlan(j)
      assert(!plan.contains("Exchange"),
        s"identity storage-partitioned join shuffled:\n$plan")
      assert(j.count() === docs.count())
      assert(j.agg(sum("id"), sum("b")).head() ===
        docs.select(col("doc_id").as("id"),
          length(col("lang")).cast("double").as("b"))
          .agg(sum("id"), sum("b")).head())
    }
  }

  test("GROUPED aggregate pushdown: COUNT/MIN/MAX GROUP BY identity partition cols answer from the manifest") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.gd (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
    val docs = Tables.t(spark, sf, "documents")
    docs.select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("spj_gd_src")
    spark.sql(s"INSERT INTO $cat.db.gd SELECT * FROM spj_gd_src")
    // three commits so several files per lang partition must fold
    spark.sql(s"INSERT INTO $cat.db.gd " +
      "SELECT doc_id + 5000000, n_chars + 1, lang FROM spj_gd_src")
    val df = spark.sql(s"SELECT lang, count(*) AS n, " +
      s"min(doc_id) AS mn, max(n_chars) AS mx " +
      s"FROM $cat.db.gd GROUP BY lang")
    assert(df.queryExecution.executedPlan.toString
      .contains("manifest-agg"), df.queryExecution.executedPlan)
    val expect = docs.select("doc_id", "n_chars", "lang")
      .union(docs.select(col("doc_id") + 5000000L,
        col("n_chars") + 1L, col("lang")))
      .groupBy("lang").agg(count(lit(1)).as("n"),
        min("doc_id").as("mn"), max("n_chars").as("mx"))
    assert(df.exceptAll(expect).isEmpty && expect.exceptAll(df).isEmpty)
    // refusals: non-partition group col; grouped + filter; both scan
    val byData = spark.sql(
      s"SELECT n_chars, count(*) FROM $cat.db.gd GROUP BY n_chars")
    assert(!byData.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    val filtered = spark.sql(s"SELECT lang, count(*) FROM $cat.db.gd " +
      "WHERE n_chars > 300 GROUP BY lang")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    assert(filtered.count() === docs.select("lang").distinct().count()
      || filtered.count() > 0) // stays exact via the scan
  }

  test("grouped pushdown works on the MIXED layout too: GROUP BY the identity component") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.gm (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) " +
      "PARTITIONED BY (lang, bucket(4, doc_id))")
    Tables.t(spark, sf, "documents").select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("spj_gm_src")
    spark.sql(s"INSERT INTO $cat.db.gm SELECT * FROM spj_gm_src")
    val df = spark.sql(s"SELECT lang, count(*) AS n " +
      s"FROM $cat.db.gm GROUP BY lang")
    assert(df.queryExecution.executedPlan.toString
      .contains("manifest-agg"), df.queryExecution.executedPlan)
    val expect = Tables.t(spark, sf, "documents")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(df.exceptAll(expect).isEmpty && expect.exceptAll(df).isEmpty)
    // GROUP BY the bucket SOURCE column is NOT identity: scan
    val byBucket = spark.sql(
      s"SELECT doc_id, count(*) FROM $cat.db.gm GROUP BY doc_id")
    assert(!byBucket.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
  }

  test("COUNT(col) pushes via null-count pseudo-stats: rows minus nulls, exact; COUNT(DISTINCT) scans") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.nc (k BIGINT, v BIGINT, " +
      "s STRING)")
    // v null on multiples of 3, s null on multiples of 7
    spark.range(0, 1000).selectExpr("id AS k",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS v",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s")
      .createOrReplaceTempView("spj_nc_src")
    spark.sql(s"INSERT INTO $cat.db.nc SELECT * FROM spj_nc_src")
    spark.sql(s"INSERT INTO $cat.db.nc " +
      "SELECT k + 1000, v, s FROM spj_nc_src")
    val df = spark.sql(s"SELECT count(*) AS n, count(v) AS nv, " +
      s"count(s) AS ns FROM $cat.db.nc")
    assert(df.queryExecution.executedPlan.toString
      .contains("manifest-agg"), df.queryExecution.executedPlan)
    val exp = spark.table("spj_nc_src")
      .agg(count(lit(1)) * 2, count("v") * 2, count("s") * 2).head()
    assert(df.head() === org.apache.spark.sql.Row(
      exp.getLong(0), exp.getLong(1), exp.getLong(2)))
    // DISTINCT cannot answer from counts: scan, still exact
    val d = spark.sql(s"SELECT count(DISTINCT v) FROM $cat.db.nc")
    assert(!d.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    assert(d.head.getLong(0) === spark.table("spj_nc_src")
      .select("v").distinct().filter(col("v").isNotNull).count())
  }

  test("string MIN/MAX push ONLY when provably exact: short bounds answer, 16+-byte bounds refuse") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.s (k BIGINT, s15 STRING, " +
      "s16 STRING, incr STRING)")
    // s15: <=15 bytes (exact); s16: exactly 16 bytes (exact - fits
    // untruncated); incr: >16 bytes whose truncated-increment bound
    // is SHORT - the case the exactness marker exists for
    spark.range(0, 100).selectExpr("id AS k",
      "concat('v', lpad(CAST(id AS STRING), 3, '0')) AS s15",
      "concat('w', lpad(CAST(id AS STRING), 15, '0')) AS s16",
      "concat('abc', repeat('z', 20), lpad(CAST(id AS STRING), 4, '0')) AS incr")
      .createOrReplaceTempView("spj_str_src")
    spark.sql(s"INSERT INTO $cat.db.s SELECT * FROM spj_str_src")
    val push = spark.sql(s"SELECT min(s15) AS a, max(s15) AS b, " +
      s"min(s16) AS c, max(s16) AS d FROM $cat.db.s")
    assert(push.queryExecution.executedPlan.toString
      .contains("manifest-agg"), push.queryExecution.executedPlan)
    assert(push.head() === org.apache.spark.sql.Row(
      "v000", "v099", "w000000000000000", "w000000000000099"))
    // min(incr) is exact only if the 16-byte prefix fit - it did not
    // (23+ bytes); max(incr)'s increment bound ('abczz...{z+1}') is
    // SHORT but marked truncated - both must refuse
    val noPush = spark.sql(
      s"SELECT min(incr) AS a, max(incr) AS b FROM $cat.db.s")
    assert(!noPush.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    assert(noPush.head() === spark.table("spj_str_src")
      .agg(min("incr"), max("incr")).head())
    // and STRING range pruning still works off the same bounds
    val pruned = spark.sql(
      s"SELECT count(*) FROM $cat.db.s WHERE s15 = 'v042'")
    assert(pruned.head.getLong(0) === 1L)
  }

  test("MIXED layout (identity + bucket) reports KeyGroupedPartitioning: join on both keys, zero Exchange") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // the standard 100 TB fact layout: identity date/tenant dir THEN
    // a bucket transform - previously this fell to UnknownPartitioning
    spark.sql(s"CREATE TABLE $cat.db.ml (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) " +
      "PARTITIONED BY (lang, bucket(4, doc_id))")
    spark.sql(s"CREATE TABLE $cat.db.mr (doc_id BIGINT, " +
      "quality DOUBLE, lang STRING) " +
      "PARTITIONED BY (lang, bucket(4, doc_id))")
    val docs = Tables.t(spark, sf, "documents")
    docs.select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("spj_mx_l")
    docs.select(col("doc_id"), (col("n_chars") % 97).cast("double")
      .as("quality"), col("lang"))
      .createOrReplaceTempView("spj_mx_r")
    spark.sql(s"INSERT INTO $cat.db.ml SELECT * FROM spj_mx_l")
    spark.sql(s"INSERT INTO $cat.db.mr SELECT * FROM spj_mx_r")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(s"SELECT l.doc_id AS id, l.n_chars AS nc, " +
        s"r.quality AS q FROM $cat.db.ml l JOIN $cat.db.mr r " +
        "ON l.lang = r.lang AND l.doc_id = r.doc_id")
      val plan = executedPlan(j)
      assert(plan.contains("graft-snapshot spj"), plan)
      assert(!plan.contains("Exchange"),
        s"mixed-layout storage-partitioned join shuffled:\n$plan")
      assert(j.count() === docs.count())
      assert(j.agg(sum("id"), sum("nc"), sum("q")).head() ===
        docs.select(col("doc_id").as("id"), col("n_chars").as("nc"),
          (col("n_chars") % 97).cast("double").as("q"))
          .agg(sum("id"), sum("nc"), sum("q")).head())
      // point lookups prune through BOTH layers: identity dir + stats
      val one = spark.sql(s"SELECT count(*) FROM $cat.db.ml " +
        "WHERE lang = 'en'")
      assert(one.head.getLong(0) ===
        docs.filter(col("lang") === "en").count())
    }
  }

  test("runtime filtering on IDENTITY partitions: a dim-filtered join opens fewer fact files") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.fact (doc_id BIGINT, " +
      "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
    spark.sql(s"CREATE TABLE $cat.db.dim (lang STRING, tier INT)")
    val docs = Tables.t(spark, sf, "documents")
    docs.select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("spj_rf_fact")
    docs.select("lang").distinct()
      .withColumn("tier", length(col("lang")))
      .createOrReplaceTempView("spj_rf_dim")
    spark.sql(s"INSERT INTO $cat.db.fact SELECT * FROM spj_rf_fact")
    spark.sql(s"INSERT INTO $cat.db.dim SELECT * FROM spj_rf_dim")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val expect = docs.filter(col("lang") === "en").count()
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val fullOpened = {
        spark.sql(s"SELECT doc_id FROM $cat.db.fact").collect()
        graft.io.SnapshotReaderFactory.filesOpened.get()
      }
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val got = spark.sql(
        s"SELECT f.doc_id FROM $cat.db.fact f JOIN $cat.db.dim d " +
          "ON f.lang = d.lang WHERE d.lang = 'en'").count()
      val joinOpened = graft.io.SnapshotReaderFactory.filesOpened.get()
      assert(got === expect)
      // the fact side must open fewer files than the full scan: the
      // dim's runtime IN-set drops whole identity partitions
      assert(joinOpened < fullOpened,
        s"identity runtime filter pruned nothing: $joinOpened vs $fullOpened")
    }
  }

  test("runtime filtering on TIME/TRUNCATE layouts: dim IN-set prunes via the manifest point-lookup") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // the 100 TB event-fact shape: day dirs + a truncate transform -
    // NOT key-grouped, so pruning must go through the manifest's
    // hidden-transform directory machinery
    spark.sql(s"CREATE TABLE $cat.db.ev (k BIGINT, src STRING, " +
      "ts TIMESTAMP) PARTITIONED BY (days(ts), truncate(4, src))")
    spark.sql(s"CREATE TABLE $cat.db.sd (src STRING, tier INT)")
    spark.range(0, 3000).selectExpr("id AS k",
      "concat('src', CAST(id % 3 AS STRING), 'x') AS src",
      "timestampadd(DAY, CAST(id % 5 AS INT), " +
        "TIMESTAMP '2024-03-01 00:00:00') AS ts")
      .createOrReplaceTempView("spj_tt_fact")
    spark.sql(s"INSERT INTO $cat.db.ev SELECT * FROM spj_tt_fact")
    spark.range(0, 3).selectExpr(
      "concat('src', CAST(id AS STRING), 'x') AS src",
      "CAST(id AS INT) AS tier")
      .createOrReplaceTempView("spj_tt_dim")
    spark.sql(s"INSERT INTO $cat.db.sd SELECT * FROM spj_tt_dim")
    withConfs(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val expect = spark.table("spj_tt_fact")
        .filter(col("src") === "src1x").count()
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val fullOpened = {
        spark.sql(s"SELECT k FROM $cat.db.ev").collect()
        graft.io.SnapshotReaderFactory.filesOpened.get()
      }
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val got = spark.sql(
        s"SELECT f.k FROM $cat.db.ev f JOIN $cat.db.sd d " +
          "ON f.src = d.src WHERE d.tier = 1").count()
      val joinOpened = graft.io.SnapshotReaderFactory.filesOpened.get()
      assert(got === expect)
      // the fact side opened fewer files: the dim's runtime value
      // pruned the other truncate-dir slivers before any IO
      assert(joinOpened < fullOpened,
        s"time/truncate runtime filter pruned nothing: " +
          s"$joinOpened vs $fullOpened")
    }
  }

  test("merge-on-read tables keep SPJ: a DV-bearing bucketed table joins Exchange-free, rows exact") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    // kill some order rows via positional (mor) deletes AND an
    // equality delete - the table now carries live delete files
    val ordPath = s"$wh/db/ord"
    Snapshots.deleteWhere(spark, ordPath,
      col("o_totalprice") < 50000.0, mode = "mor")
    Snapshots.deleteKeysEq(spark, ordPath,
      Tables.t(spark, sf, "orders")
        .filter(col("o_orderkey") % 9 === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    val expect = Tables.t(spark, sf, "orders")
      .filter(!(col("o_totalprice") < 50000.0) &&
        col("o_orderkey") % 9 =!= 0)
      .join(Tables.t(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)), sum("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(28,2)"))).head()
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(joinSql(cat))
      val p = executedPlan(df)
      assert(p.contains("graft-snapshot spj"), p)
      assert(!p.contains("Exchange"),
        s"DV-bearing storage-partitioned join planned a shuffle:\n$p")
      val got = spark.sql(
        s"SELECT count(*), sum(o.o_orderkey), " +
          s"sum(CAST(o.o_totalprice AS DECIMAL(28,2))) " +
          s"FROM $cat.db.ord o JOIN $cat.db.cust c " +
          "ON o.o_custkey = c.c_custkey").head()
      assert(got === expect)
    }
    // aggregate pushdown REFUSES once an EQUALITY delete is live (its
    // matched-row count is unknowable without a scan; pure-positional
    // tables push - see the dedicated spec) - yet answers exactly
    val agg = spark.sql(s"SELECT count(*) AS n FROM $cat.db.ord")
    assert(!agg.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    assert(agg.head.getLong(0) === Tables.t(spark, sf, "orders")
      .filter(!(col("o_totalprice") < 50000.0) &&
        col("o_orderkey") % 9 =!= 0).count())
  }

  test("delete sliver past the shipping budget falls back to V1 (distributed anti-joins), rows exact") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    Snapshots.deleteWhere(spark, s"$wh/db/ord",
      col("o_totalprice") < 50000.0, mode = "mor")
    val expected = Tables.t(spark, sf, "orders")
      .filter(!(col("o_totalprice") < 50000.0)).count()
    withConfs("spark.graft.snapshot.v2.maxDeleteBytes" -> "1") {
      val df = spark.sql(s"SELECT * FROM $cat.db.ord")
      assert(!df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"))
      assert(df.count() === expected)
    }
    // and within budget the SAME table reads via DSv2, same answer
    val v2 = spark.sql(s"SELECT * FROM $cat.db.ord")
    assert(v2.queryExecution.executedPlan.toString
      .contains("graft-snapshot spj"))
    assert(v2.count() === expected)
  }

  test("in-scan deletes compose with column pruning and filters (key columns pruned away)") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    // equality delete keyed on o_orderkey; the query then SELECTs
    // only o_custkey with a filter - the scan must still read the
    // key column internally and never leak it into the output
    Snapshots.deleteKeysEq(spark, s"$wh/db/ord",
      Tables.t(spark, sf, "orders")
        .filter(col("o_orderkey") % 3 === 0).select("o_orderkey"),
      Seq("o_orderkey"))
    val df = spark.sql(s"SELECT o_custkey FROM $cat.db.ord " +
      "WHERE o_totalprice > 1000.0")
    assert(df.queryExecution.executedPlan.toString
      .contains("graft-snapshot spj"))
    assert(df.columns.toSeq === Seq("o_custkey"))
    val expect = Tables.t(spark, sf, "orders")
      .filter(col("o_orderkey") % 3 =!= 0 &&
        col("o_totalprice") > 1000.0)
      .agg(count(lit(1)), sum("o_custkey")).head()
    assert(df.agg(count(lit(1)), sum("o_custkey")).head() === expect)
  }

  test("partially-clustered distribution: a SKEWED bucketed join splits the hot bucket, stays exact, no Exchange") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.skf (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db.skd (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // hot key 7: half of all fact rows; three commits => three files
    // in the hot bucket (the grain partially-clustered splits at)
    (0 until 3).foreach { i =>
      spark.range(0, 2000)
        .selectExpr("CAST(7 AS BIGINT) AS k", s"id + $i AS v")
        .union(spark.range(0, 2000)
          .selectExpr("id % 40 AS k", s"id * 3 + $i AS v"))
        .createOrReplaceTempView("spj_skf_src")
      spark.sql(s"INSERT INTO $cat.db.skf SELECT * FROM spj_skf_src")
    }
    spark.range(0, 40).selectExpr("id AS k", "id * 7 AS w")
      .createOrReplaceTempView("spj_skd_src")
    spark.sql(s"INSERT INTO $cat.db.skd SELECT * FROM spj_skd_src")
    val expect = {
      val f = (0 until 3).map(i =>
        spark.range(0, 2000)
          .selectExpr("CAST(7 AS BIGINT) AS k", s"id + $i AS v")
          .union(spark.range(0, 2000)
            .selectExpr("id % 40 AS k", s"id * 3 + $i AS v")))
        .reduce(_ union _)
      val d = spark.range(0, 40).selectExpr("id AS k", "id * 7 AS w")
      f.join(d, "k").agg(count(lit(1)), sum(expr("v + w"))).head()
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing." +
        "partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(s"SELECT f.k AS k, f.v AS v, d.w AS w " +
        s"FROM $cat.db.skf f JOIN $cat.db.skd d ON f.k = d.k")
      val plan = executedPlan(j)
      assert(plan.contains("graft-snapshot spj"), plan)
      assert(!plan.contains("Exchange"),
        s"partially-clustered skewed SPJ shuffled:\n$plan")
      assert(j.agg(count(lit(1)), sum(expr("v + w"))).head() === expect)
      // the hot bucket's files stay apart: strictly more input
      // partitions than the 4 bucket groups
      assert(j.rdd.getNumPartitions > 4,
        s"hot bucket not split: ${j.rdd.getNumPartitions} partitions")
    }
  }

  test("skew SPJ x MoR: a DV-bearing hot bucket still splits, joins Exchange-free, rows exact") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.skf (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.db.skd (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    (0 until 3).foreach { i =>
      spark.range(0, 2000)
        .selectExpr("CAST(7 AS BIGINT) AS k", s"id + $i AS v")
        .union(spark.range(0, 2000)
          .selectExpr("id % 40 AS k", s"id * 3 + $i AS v"))
        .createOrReplaceTempView("spj_skm_src")
      spark.sql(s"INSERT INTO $cat.db.skf SELECT * FROM spj_skm_src")
    }
    spark.range(0, 40).selectExpr("id AS k", "id * 7 AS w")
      .createOrReplaceTempView("spj_skm_dsrc")
    spark.sql(s"INSERT INTO $cat.db.skd SELECT * FROM spj_skm_dsrc")
    // the realistic CDC shape: positional deletes land INSIDE the hot
    // bucket (and elsewhere) after the layout was written
    Snapshots.deleteWhere(spark, s"$wh/db/skf",
      col("v") % 3 === 0, mode = "mor")
    val expect = {
      val f = (0 until 3).map(i =>
        spark.range(0, 2000)
          .selectExpr("CAST(7 AS BIGINT) AS k", s"id + $i AS v")
          .union(spark.range(0, 2000)
            .selectExpr("id % 40 AS k", s"id * 3 + $i AS v")))
        .reduce(_ union _)
        .filter(col("v") % 3 =!= 0)
      val d = spark.range(0, 40).selectExpr("id AS k", "id * 7 AS w")
      f.join(d, "k").agg(count(lit(1)), sum(expr("v + w"))).head()
    }
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing." +
        "partiallyClusteredDistribution.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(s"SELECT f.k AS k, f.v AS v, d.w AS w " +
        s"FROM $cat.db.skf f JOIN $cat.db.skd d ON f.k = d.k")
      val plan = executedPlan(j)
      assert(plan.contains("graft-snapshot spj"), plan)
      assert(!plan.contains("Exchange"),
        s"DV-bearing partially-clustered skewed SPJ shuffled:\n$plan")
      assert(j.agg(count(lit(1)), sum(expr("v + w"))).head() === expect)
      // the DV-bearing hot bucket's files STILL stay apart (deletes
      // force whole-file reads, not whole-bucket tasks)
      assert(j.rdd.getNumPartitions > 4,
        s"hot DV bucket not split: ${j.rdd.getNumPartitions} partitions")
    }
  }

  test("aggregate pushdown is EXACT past 2^53: snowflake-scale bigint bounds never transit Double") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.big (id BIGINT, v BIGINT)")
    // 2^62 + odd offsets: any Double transit rounds these to the
    // nearest multiple of 512 and the manifest silently serves a
    // wrong MIN/MAX (the advisor's round-12 'high' finding)
    val base = 1L << 62
    val lo = base + 1L
    val hi = base + 1023L
    spark.range(0, 1023)
      .selectExpr(s"id + ${lo}L AS id", "id AS v")
      .createOrReplaceTempView("spj_big_src")
    spark.sql(s"INSERT INTO $cat.db.big SELECT * FROM spj_big_src")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx " +
          s"FROM $cat.db.big")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      val r = df.head()
      assert(r.getLong(0) === 1023L)
      assert(r.getLong(1) === lo, s"MIN rounded: ${r.getLong(1)} != $lo")
      assert(r.getLong(2) === hi, s"MAX rounded: ${r.getLong(2)} != $hi")
    }
    // the manifest bounds themselves are exact longs (file skipping
    // on such IDs also depends on this)
    val tbl = spark.conf.get(s"spark.sql.catalog.$cat.warehouse") +
      "/db/big"
    val v = Snapshots.latestVersion(spark, tbl).get
    val entries = Snapshots.stateAt(spark, tbl, v)._3
    val bounds = entries.flatMap(e => Snapshots.longStatsOf(e).get("id"))
    assert(bounds.nonEmpty)
    assert(bounds.map(_._1).min === lo)
    assert(bounds.map(_._2).max === hi)
  }

  /** An identity-partitioned docs table with a NULL partition and
    * several files per partition (two inserts), for the absorbed-
    * filter and identity-COUNT specs. */
  private def setupLangTable(cat: String): DataFrame = {
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, " +
      "text STRING, lang STRING, n_chars BIGINT) " +
      "PARTITIONED BY (lang)")
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 50 === 0, lit(null: String))
          .otherwise(col("lang")).as("lang"), col("n_chars"))
    docs.createOrReplaceTempView("spj_lang_src")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM spj_lang_src")
    spark.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, " +
      "text, lang, n_chars FROM spj_lang_src")
    docs.union(docs.select(col("doc_id") + 5000000, col("text"),
      col("lang"), col("n_chars")).toDF(docs.columns: _*))
  }

  test("manifest-absorbed filters: equality on an identity partition column pushes the FILTERED aggregate") {
    val (cat, _) = freshCatalog()
    val expect = setupLangTable(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // WHERE on the identity column is absorbed by the kept entry
      // set -> Spark sees no residual filter -> the grouped count
      // still answers from the manifest
      val df = spark.sql(s"SELECT count(*) AS n, min(doc_id) AS mn " +
        s"FROM $cat.db.docs WHERE lang = 'en'")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      val want = expect.filter(col("lang") === "en")
        .agg(count(lit(1)), min("doc_id")).head()
      assert(df.head() === want)
      // a value matching NO partition: zero, still metadata-only
      val none = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.docs WHERE lang = 'xx'")
      assert(none.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(none.head.getLong(0) === 0L)
      // non-partition residual filter: refuses, answers from the scan
      val res = spark.sql(s"SELECT count(*) FROM $cat.db.docs " +
        "WHERE lang = 'en' AND n_chars > 400")
      assert(!res.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(res.head.getLong(0) === expect.filter(
        col("lang") === "en" && col("n_chars") > 400).count())
    }
  }

  test("absorbed equality is ENFORCED by the kept entry set: plain scans stay exact, null partition excluded") {
    val (cat, _) = freshCatalog()
    val expect = setupLangTable(cat)
    val q = s"SELECT doc_id, n_chars FROM $cat.db.docs WHERE lang = 'zh'"
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.toString
      .contains("graft-snapshot spj"))
    // rows exact vs the relational replay - in particular the NULL
    // partition's rows must NOT leak (nothing above the scan
    // re-applies the absorbed equality)
    val want = expect.filter(col("lang") === "zh")
      .agg(count(lit(1)), sum("doc_id"), sum("n_chars")).head()
    assert(df.agg(count(lit(1)), sum("doc_id"), sum("n_chars"))
      .head() === want)
    // IS NOT NULL alone absorbs too
    val nn = spark.sql(
      s"SELECT count(*) AS n FROM $cat.db.docs WHERE lang IS NOT NULL")
    assert(nn.queryExecution.executedPlan.toString
      .contains("manifest-agg"), nn.queryExecution.executedPlan)
    assert(nn.head.getLong(0) ===
      expect.filter(col("lang").isNotNull).count())
    // and the relational replay agrees on the projected rows
    assert(df.collect().toSeq.sortBy(_.getLong(0)) ===
      expect.filter(col("lang") === "zh").select("doc_id", "n_chars")
        .collect().toSeq.sortBy(_.getLong(0)))
  }

  test("absorbed IN-lists and IS NULL: filtered aggregates stay metadata-only, null semantics exact") {
    val (cat, _) = freshCatalog()
    val expect = setupLangTable(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // IN over the identity partition column: kept set = union of
      // the named partitions, aggregate still answers from metadata
      val in = spark.sql(s"SELECT count(*) AS n, max(doc_id) AS mx " +
        s"FROM $cat.db.docs WHERE lang IN ('en', 'fr', 'xx')")
      assert(in.queryExecution.executedPlan.toString
        .contains("manifest-agg"), in.queryExecution.executedPlan)
      val want = expect.filter(col("lang").isin("en", "fr", "xx"))
        .agg(count(lit(1)), max("doc_id")).head()
      assert(in.head() === want)
      // IS NULL on a STRING identity column must NOT absorb (the
      // default directory collides null with '') - stays exact via
      // the scan
      val isn = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.docs WHERE lang IS NULL")
      assert(!isn.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(isn.head.getLong(0) ===
        expect.filter(col("lang").isNull).count())
      // plain IN scan (no aggregate): rows exact, null partition and
      // unnamed partitions never leak
      val rows = spark.sql(s"SELECT doc_id, n_chars FROM $cat.db.docs " +
        "WHERE lang IN ('de', 'zh')")
      val wantRows = expect.filter(col("lang").isin("de", "zh"))
      assert(rows.count() === wantRows.count())
      assert(rows.agg(sum("doc_id")).head.getLong(0) ===
        wantRows.agg(sum("doc_id")).head.getLong(0))
      // the null-sentinel value must NOT absorb: a literal
      // '__HIVE_DEFAULT_PARTITION__' is indistinguishable on disk
      // from the NULL directory, so absorbing it would wrongly count
      // the null partition's rows - it scans instead and matches
      // nothing (the typed read reconstructs that directory as NULL)
      val sentinel = spark.sql(s"SELECT count(*) AS n FROM " +
        s"$cat.db.docs WHERE lang = '__HIVE_DEFAULT_PARTITION__'")
      assert(!sentinel.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
        "the null-sentinel equality was wrongly absorbed")
      assert(sentinel.head.getLong(0) === 0L)
    }
  }

  test("IS NULL absorption on a NON-STRING identity column: metadata answer, exact") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // bigint partition column with some null values
    Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, lit(null: java.lang.Long))
          .otherwise(col("doc_id") % 4).as("shard"),
        col("n_chars"))
      .createOrReplaceTempView("spj_isn_src")
    spark.sql(s"CREATE TABLE $cat.db.sh (doc_id BIGINT, " +
      "shard BIGINT, n_chars BIGINT) PARTITIONED BY (shard)")
    spark.sql(s"INSERT INTO $cat.db.sh SELECT * FROM spj_isn_src")
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.sh WHERE shard IS NULL")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      assert(df.head.getLong(0) ===
        Tables.t(spark, sf, "documents")
          .filter(col("doc_id") % 10 === 0).count())
      val eq = spark.sql(
        s"SELECT count(*) AS n FROM $cat.db.sh WHERE shard = 2")
      assert(eq.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(eq.head.getLong(0) ===
        Tables.t(spark, sf, "documents")
          .filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 4 === 2)
          .count())
    }
  }

  test("absorption is IDENTITY-only: hidden-transform source filters stay post-scan (dir value != row value)") {
    val (cat, _) = freshCatalog()
    setupTables(cat) // ord: PARTITIONED BY (bucket(8, o_custkey))
    // bucket(o_custkey)=b keeps many custkeys: absorbing o_custkey=7
    // would be wrong - it must stay a residual filter, so the
    // aggregate must NOT push, yet the answer stays exact (manifest
    // pruning remains an IO optimization)
    val df = spark.sql(
      s"SELECT count(*) AS n FROM $cat.db.ord WHERE o_custkey = 7")
    assert(!df.queryExecution.executedPlan.toString
      .contains("manifest-agg"))
    assert(df.head.getLong(0) === Tables.t(spark, sf, "orders")
      .filter(col("o_custkey") === 7).count())
  }

  test("merge-on-read COUNT pushdown: positional deletes subtract exactly; MIN/MAX and COUNT(col) refuse") {
    val (cat, wh) = freshCatalog()
    setupTables(cat)
    Snapshots.deleteWhere(spark, s"$wh/db/ord",
      col("o_totalprice") < 50000.0, mode = "mor")
    val live = Tables.t(spark, sf, "orders")
      .filter(!(col("o_totalprice") < 50000.0))
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // COUNT(*) = sum(__rows) - per-file positional-delete counts,
      // answered from metadata + the driver-bounded delete sliver
      val c = spark.sql(s"SELECT count(*) AS n FROM $cat.db.ord")
      assert(c.queryExecution.executedPlan.toString
        .contains("manifest-agg"), c.queryExecution.executedPlan)
      assert(c.head.getLong(0) === live.count())
      // a deleted row may hold the bound: MIN/MAX must scan (BIGINT,
      // so only the deletes - not the type - force the refusal)
      val m = spark.sql(s"SELECT min(o_orderkey) AS mn " +
        s"FROM $cat.db.ord")
      assert(!m.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(m.head.getLong(0) ===
        live.agg(min("o_orderkey")).head.getLong(0))
      // a deleted row's null-ness is unknowable: COUNT(col) must scan
      val cc = spark.sql(
        s"SELECT count(o_totalprice) AS n FROM $cat.db.ord")
      assert(!cc.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      assert(cc.head.getLong(0) === live.count())
    }
  }

  test("COUNT(identity col) answers from directory values: the NULL partition counts zero, even under deletes") {
    val (cat, wh) = freshCatalog()
    val expect = setupLangTable(cat)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(s"SELECT count(lang) AS n FROM $cat.db.docs")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      assert(df.head.getLong(0) ===
        expect.filter(col("lang").isNotNull).count())
      // now kill some rows positionally: COUNT(lang) still pushes
      // (directory value known for deleted rows too) and subtracts
      Snapshots.deleteWhere(spark, s"$wh/db/docs",
        col("doc_id") % 7 === 0, mode = "mor")
      val after = spark.sql(s"SELECT count(lang) AS n FROM $cat.db.docs")
      assert(after.queryExecution.executedPlan.toString
        .contains("manifest-agg"), after.queryExecution.executedPlan)
      assert(after.head.getLong(0) === expect.filter(
        col("lang").isNotNull && col("doc_id") % 7 =!= 0).count())
    }
  }

  test("grouped pushdown under positional deletes: fully-deleted partitions emit NO group row") {
    val (cat, wh) = freshCatalog()
    val expect = setupLangTable(cat)
    // kill EVERY row of one partition and some of another
    Snapshots.deleteWhere(spark, s"$wh/db/docs",
      col("lang") === "de", mode = "mor")
    Snapshots.deleteWhere(spark, s"$wh/db/docs",
      col("lang") === "en" && col("doc_id") % 3 === 0, mode = "mor")
    val live = expect.filter(col("lang") =!= "de" || col("lang").isNull)
      .filter(!(col("lang") === "en" && col("doc_id") % 3 === 0) ||
        col("lang").isNull)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(s"SELECT lang, count(*) AS n " +
        s"FROM $cat.db.docs GROUP BY lang")
      assert(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"), df.queryExecution.executedPlan)
      val got = df.collect().map(r =>
        Option(r.getString(0)) -> r.getLong(1)).toMap
      val want = live.groupBy("lang").agg(count(lit(1)))
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(got === want)
      assert(!got.contains(Some("de")),
        "the fully-deleted partition leaked a group row")
    }
  }
}
