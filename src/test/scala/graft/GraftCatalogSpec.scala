package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Snapshots

/** DSv2 TableCatalog over snapshot stores: pure-SQL reads, writes,
  * time travel and DDL against the same directories the programmatic
  * API serves — the SQL front door (Delta/Iceberg catalog posture).
  */
class GraftCatalogSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.t(spark, sf, "documents")

  private def freshCatalog(): String = {
    val wh = Files.createTempDirectory("graft_cat").toString
    val name = s"gcat${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    name
  }

  test("SQL round-trip: CREATE, INSERT INTO, SELECT, VERSION AS OF, INSERT OVERWRITE") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t " +
      "(doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT)")
    docs.filter(col("doc_id") % 2 === 0).createOrReplaceTempView("evens")
    docs.filter(col("doc_id") % 2 === 1).createOrReplaceTempView("odds")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM evens")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM odds")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
      .collect()(0).getLong(0) === docs.count())
    // filters + pruning arrive through the fallback scan and stay
    // correct (Spark re-applies everything above the relation)
    assert(spark.sql(
      s"SELECT sum(n_chars) FROM $cat.db.t WHERE doc_id % 2 = 0")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0)
        .agg(sum("n_chars")).collect()(0).getLong(0))
    // time travel: v1 = empty CREATE, v2 = first insert
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 1")
      .collect()(0).getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // a TAG resolves as a version string
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    Snapshots.tag(spark, s"$wh/db/t", "halfway", Some(2L))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.t VERSION AS OF 'halfway'")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // INSERT OVERWRITE = a new overwrite commit; history survives
    spark.sql(s"INSERT OVERWRITE $cat.db.t SELECT * FROM evens")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // pre-overwrite history survives (v3 = both inserts)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 3")
      .collect()(0).getLong(0) === docs.count())
    // the SQL table IS a programmatic snapshot store
    assert(Snapshots.read(spark, s"$wh/db/t").count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // SHOW TABLES and DROP TABLE resolve
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql(s"DROP TABLE $cat.db.t")
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect().isEmpty)
  }

  test("partitioned CREATE defers its first commit; inserts land the declared layout") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.p " +
      "(doc_id BIGINT, lang STRING) PARTITIONED BY (lang)")
    docs.select("doc_id", "lang").createOrReplaceTempView("dl")
    spark.sql(s"INSERT INTO $cat.db.p SELECT * FROM dl")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    // the layout is real: manifest partition pruning proves on lang
    val (kept, total) = plannedBetweenStrings(s"$wh/db/p", "lang", "en", "en")
    assert(kept.nonEmpty && kept.size < total,
      s"no partition layout: kept ${kept.size} of $total")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.p WHERE lang = 'en'")
      .collect()(0).getLong(0) ===
      docs.filter(col("lang") === "en").count())
    // appends keep partitioning (a second insert)
    spark.sql(s"INSERT INTO $cat.db.p SELECT doc_id + 100000, lang FROM dl")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p")
      .collect()(0).getLong(0) === docs.count() * 2)
  }

  test("hidden transforms in SQL: PARTITIONED BY bucket/truncate/days, pruned equality scans") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // Spark's own parser produces the transforms; the catalog lowers
    // them onto the store's hidden partition specs
    spark.sql(s"CREATE TABLE $cat.db.h " +
      "(doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT) " +
      "PARTITIONED BY (bucket(8, doc_id), truncate(4, source))")
    docs.createOrReplaceTempView("hdocs")
    spark.sql(s"INSERT INTO $cat.db.h SELECT * FROM hdocs")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    // the manifest stores the canonical comma-free specs
    val (kept, total) = Snapshots.prunedEntriesEquals(
      spark, s"$wh/db/h", "doc_id", 7L)
    assert(kept.nonEmpty && kept.size < total, s"${kept.size}/$total")
    // a pure-SQL equality scan answers exactly (manifest pruning is
    // IO-only; Spark re-filters above)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.h WHERE source = 'src12'")
      .collect()(0).getLong(0) ===
      docs.filter(col("source") === "src12").count())
    assert(spark.sql(
      s"SELECT sum(n_chars) FROM $cat.db.h WHERE doc_id = 7")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") === 7)
        .agg(sum("n_chars")).collect()(0).getLong(0))
    // the table reports its transforms back through DSv2
    val t = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("db"), "h"))
    val specs = t.partitioning().map(_.toString).toSet
    assert(specs.exists(_.contains("bucket")) &&
      specs.exists(_.contains("truncate")), specs.toString)
    // days(ts) parses from SQL too
    spark.sql(s"CREATE TABLE $cat.db.e (ev BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.db.e VALUES " +
      "(1, TIMESTAMP '2024-01-05 10:00:00')," +
      "(2, TIMESTAMP '2024-01-06 10:00:00')")
    val (k2, t2) = Snapshots.prunedEntriesEquals(spark, s"$wh/db/e",
      "ts", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"))
    assert(k2.size < t2 && k2.forall(_.contains("ts_day=20240105")),
      s"$k2 / $t2")
    // unsupported transforms refuse loudly
    val err = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.bad (x BIGINT, y BIGINT) " +
        "PARTITIONED BY (sort(x))"))
    assert(err.getMessage.contains("unsupported partition transform") ||
      err.getMessage.toLowerCase.contains("transform"), err.getMessage)
  }

  test("ALTER TABLE: rename, add and drop columns in SQL, history intact") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.a (id BIGINT, v BIGINT)")
    spark.sql(s"SELECT 1 AS id, 10 AS v").createOrReplaceTempView("one")
    spark.sql(s"INSERT INTO $cat.db.a SELECT CAST(id AS BIGINT), " +
      "CAST(v AS BIGINT) FROM one")
    spark.sql(s"ALTER TABLE $cat.db.a RENAME COLUMN v TO score")
    assert(spark.sql(s"SELECT score FROM $cat.db.a")
      .collect()(0).getLong(0) === 10L)
    spark.sql(s"ALTER TABLE $cat.db.a ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT note FROM $cat.db.a")
      .collect()(0).isNullAt(0)) // existing rows null-fill
    spark.sql(s"ALTER TABLE $cat.db.a DROP COLUMN score")
    assert(spark.sql(s"SELECT * FROM $cat.db.a").columns.toSeq ===
      Seq("id", "note"))
    // every DDL step is a versioned commit: time travel reads v2's
    // schema (first insert, original names)
    assert(spark.sql(s"SELECT * FROM $cat.db.a VERSION AS OF 2")
      .columns.toSeq === Seq("id", "v"))
    // ALTER COLUMN TYPE is supported exactly for safe widenings:
    // a non-widening change refuses loudly...
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.a ALTER COLUMN id TYPE STRING"))
    assert(e.getMessage.contains("not a safe widening"), e.getMessage)
    // ...and a widening is a metadata-only versioned commit
    spark.sql(s"ALTER TABLE $cat.db.a ADD COLUMNS (cnt INT)")
    spark.sql(s"INSERT INTO $cat.db.a VALUES (2, 'x', 41)")
    spark.sql(s"ALTER TABLE $cat.db.a ALTER COLUMN cnt TYPE BIGINT")
    val widened = spark.sql(s"SELECT cnt FROM $cat.db.a " +
      "WHERE cnt IS NOT NULL").collect()
    assert(widened.map(_.getLong(0)).toSeq === Seq(41L))
    // a multi-change statement is ALL-OR-NOTHING: adding one valid
    // and one colliding column commits neither
    val vBefore = Snapshots.latestVersion(spark,
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse") + "/db/a").get
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.a ADD COLUMNS (fresh STRING, id STRING)"))
    val wh2 = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    assert(Snapshots.latestVersion(spark, s"$wh2/db/a").get === vBefore,
      "a failed multi-change ALTER must commit nothing")
    assert(!spark.sql(s"SELECT * FROM $cat.db.a").columns.contains("fresh"))
  }

  test("identifiers cannot escape the warehouse; NOT NULL adds refuse") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // path-traversal segments refuse everywhere a name touches disk
    val e1 = intercept[Exception](
      spark.sql(s"DROP NAMESPACE $cat.`..` CASCADE"))
    assert(e1.getMessage.contains("illegal identifier"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.`../../esc` (id BIGINT)"))
    assert(e2.getMessage.contains("illegal identifier"), e2.getMessage)
    // ADD COLUMN NOT NULL cannot hold (old rows null-fill): refuse,
    // never silently drop the constraint
    spark.sql(s"CREATE TABLE $cat.db.nn (id BIGINT)")
    val e3 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.nn ADD COLUMNS (x BIGINT NOT NULL)"))
    assert(e3.getMessage.contains("NOT NULL"), e3.getMessage)
  }

  test("DELETE FROM and TRUNCATE TABLE commit copy-on-write versions") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    Snapshots.commit(docs, s"$wh/db/d")
    spark.sql(s"DELETE FROM $cat.db.d WHERE n_chars < 300")
    val want = docs.filter(!coalesce(col("n_chars") < 300, lit(false)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .collect()(0).getLong(0) === want.count())
    // the delete is a versioned commit: v1 still reads complete
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d VERSION AS OF 1")
      .collect()(0).getLong(0) === docs.count())
    // a DELETE whose predicate cannot translate to the metadata-only
    // path routes through the ROW-LEVEL framework
    // ([[graft.io.GraftRowLevelOperation]]) and stays exact - here it
    // matches nothing, so nothing is deleted and (idempotently) no
    // version is committed
    val nBefore = spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .collect()(0).getLong(0)
    val wh2 = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val vBefore = Snapshots.latestVersion(spark, s"$wh2/db/d").get
    spark.sql(
      s"DELETE FROM $cat.db.d WHERE (n_chars = 1 AND text LIKE '%x%') " +
        "OR doc_id = -1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .collect()(0).getLong(0) === nBefore,
      "a nothing-matching DELETE must delete nothing")
    assert(Snapshots.latestVersion(spark, s"$wh2/db/d").get === vBefore,
      "a nothing-matching DELETE must not commit a version")
    spark.sql(s"TRUNCATE TABLE $cat.db.d")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .collect()(0).getLong(0) === 0L)
    // schema survives the truncate; history intact
    assert(spark.sql(s"SELECT * FROM $cat.db.d").columns.toSeq ===
      docs.columns.toSeq)
    assert(Snapshots.read(spark, s"$wh/db/d", Some(2L)).count() ===
      want.count())
  }

  test("a table created programmatically reads through SQL, mor deletes and renames included") {
    val cat = freshCatalog()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val path = s"$wh/db2/t2"
    Snapshots.commit(docs, path)
    Snapshots.deleteWhere(spark, path, col("n_chars") < 300, mode = "mor")
    Snapshots.renameColumn(spark, path, "n_chars", "length")
    val got = spark.sql(s"SELECT sum(length) FROM $cat.db2.t2")
      .collect()(0).getLong(0)
    val want = docs.filter(!coalesce(col("n_chars") < 300, lit(false)))
      .agg(sum("n_chars")).collect()(0).getLong(0)
    assert(got === want)
    // unknown table refuses as a proper analysis error
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"SELECT * FROM $cat.db2.nope").collect())
    assert(e.getMessage.toLowerCase.contains("cannot be found") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
  }

  test("CALL procedures: compact, tag, rollback, expire, vacuum, refusals") {
    val cat = freshCatalog()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    docs.createOrReplaceTempView("proc_src")
    spark.sql(s"CREATE TABLE $cat.db.p (doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT)")
    (0 until 4).foreach(q => spark.sql(
      s"INSERT INTO $cat.db.p SELECT * FROM proc_src " +
        s"WHERE doc_id % 4 = $q"))
    val path = s"$wh/db/p"
    val filesBefore = Snapshots.read(spark, path)
      .select(org.apache.spark.sql.functions
        .input_file_name()).distinct().count()
    assert(filesBefore >= 4L)
    // compact through SQL; one-row (version) result
    val v = spark.sql(s"CALL $cat.system.compact(table => 'db.p')")
      .collect()(0).getLong(0)
    assert(v === 6L) // create + 4 inserts + compact
    assert(Snapshots.read(spark, path)
      .select(org.apache.spark.sql.functions
        .input_file_name()).distinct().count() < filesBefore)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p")
      .collect()(0).getLong(0) === docs.count())
    // SCOPED compact from SQL: the string scope value casts to the
    // column's type inside the pruning; scoping to the one already-
    // packed file is the no-op fast path (same version back)
    val vs = spark.sql(s"CALL $cat.system.compact(table => 'db.p', " +
      "scope_column => 'doc_id', scope_value => '7')")
      .collect()(0).getLong(0)
    assert(vs === 6L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p")
      .collect()(0).getLong(0) === docs.count())
    // tag the compacted version, positionally and by name
    assert(spark.sql(s"CALL $cat.system.tag('db.p', 'gold')")
      .collect()(0).getLong(0) === 6L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p " +
      "VERSION AS OF 'gold'").collect()(0).getLong(0) === docs.count())
    // rollback to the half-loaded v3 (create + 2 inserts)
    val v2 = spark.sql(
      s"CALL $cat.system.rollback(table => 'db.p', version => 3)")
      .collect()(0).getLong(0)
    assert(v2 === 7L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 4 < 2).count())
    // roll forward again, expire history, vacuum with zero grace:
    // the unreferenced pre-compact files get deleted
    spark.sql(s"CALL $cat.system.rollback(table => 'db.p', version => 6)")
    val removed = spark.sql(
      s"CALL $cat.system.expire_versions(table => 'db.p', " +
        "keep_last => 1)").collect()(0).getInt(0)
    assert(removed >= 6)
    val vacuumed = spark.sql(
      s"CALL $cat.system.vacuum(table => 'db.p', grace_minutes => 0)")
      .collect()(0).getInt(0)
    assert(vacuumed > 0, "pre-compact files must be vacuumable")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.p")
      .collect()(0).getLong(0) === docs.count())
    // maintain runs end-to-end and reports
    val m = spark.sql(s"CALL $cat.system.maintain(table => 'db.p')")
      .collect()(0)
    assert(m.schema.fieldNames.toSeq ===
      Seq("compacted", "expired", "vacuumed"))
    // drop_tag (the expire kept only the latest version; tags are
    // independent metadata)
    assert(spark.sql(s"CALL $cat.system.drop_tag('db.p', 'gold')")
      .collect()(0).getBoolean(0))
    // refusals: unknown procedure, traversal in the table argument
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.nope(table => 'db.p')"))
    assert(e.getMessage.contains("unknown procedure") ||
      e.getMessage.toLowerCase.contains("failed to load routine"),
      e.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"CALL $cat.system.vacuum(table => '../../etc')"))
    assert(e2.getMessage.contains("illegal table identifier"),
      e2.getMessage)
  }

  test("TBLPROPERTIES: CREATE ... TBLPROPERTIES, SHOW, SET/UNSET, bloom wiring") {
    val cat = freshCatalog()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('write.bloom.columns' = 'doc_id', " +
      "'owner.team' = 'data')")
    val path = s"$wh/db/t"
    assert(Snapshots.properties(spark, path)("owner.team") === "data")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("owner.team") === Some("data"))
    assert(shown.get("write.bloom.columns") === Some("doc_id"))
    // INSERT inherits the bloom property (files carry the filter)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (42, 'x'), (43, 'y')")
    val dataFile = new java.io.File(s"$path/data").listFiles()(0)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.toString),
        spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val block = rd.getFooter.getBlocks.get(0)
      val idCol = block.getColumns.asScala
        .find(_.getPath.toDotString == "doc_id").get
      assert(rd.getBloomFilterDataReader(block)
        .readBloomFilter(idCol) != null)
    } finally rd.close()
    // SET and UNSET are versioned metadata commits
    spark.sql(s"ALTER TABLE $cat.db.t SET TBLPROPERTIES " +
      "('retention.days' = '30')")
    assert(Snapshots.properties(spark, path)("retention.days") === "30")
    spark.sql(s"ALTER TABLE $cat.db.t UNSET TBLPROPERTIES ('owner.team')")
    assert(!Snapshots.properties(spark, path).contains("owner.team"))
    assert(Snapshots.properties(spark, path)("write.bloom.columns") ===
      "doc_id")
  }

  test("delete.mode property: SQL DELETE FROM commits merge-on-read, zero data rewrites") {
    val cat = freshCatalog()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    docs.createOrReplaceTempView("dm_src")
    spark.sql(s"CREATE TABLE $cat.db.d (doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT) " +
      "TBLPROPERTIES ('delete.mode' = 'mor')")
    spark.sql(s"INSERT INTO $cat.db.d SELECT * FROM dm_src")
    val path = s"$wh/db/d"
    val (_, _, entriesBefore, _, _) = Snapshots.stateAt(spark, path,
      Snapshots.latestVersion(spark, path).get)
    spark.sql(s"DELETE FROM $cat.db.d WHERE doc_id < 60")
    // no data-file rewrites: entries identical, a delete file landed
    val vAfter = Snapshots.latestVersion(spark, path).get
    val (_, _, entriesAfter, dvs, _) = Snapshots.stateAt(spark, path,
      vAfter)
    assert(entriesAfter === entriesBefore)
    assert(dvs.nonEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d " +
      "WHERE doc_id < 60").head().getLong(0) === 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d")
      .head().getLong(0) ===
      docs.filter(col("doc_id") >= 60).count())
    // an invalid mode refuses at delete time, loudly
    spark.sql(s"ALTER TABLE $cat.db.d SET TBLPROPERTIES " +
      "('delete.mode' = 'nope')")
    val e = intercept[Exception](
      spark.sql(s"DELETE FROM $cat.db.d WHERE doc_id = 1"))
    assert(e.getMessage.contains("delete.mode"), e.getMessage)
  }

  test("CALL procedures: write-audit-publish gate from SQL") {
    val cat = freshCatalog()
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    spark.sql(s"CREATE NAMESPACE $cat.db")
    docs.createOrReplaceTempView("wap_src")
    spark.sql(s"CREATE TABLE $cat.db.w (doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.w SELECT * FROM wap_src " +
      "WHERE doc_id % 2 = 0")
    val path = s"$wh/db/w"
    // the audit job stages programmatically (the expensive write)...
    Snapshots.stageAppend(docs.filter(col("doc_id") % 2 === 1),
      path, "nightly-7")
    Snapshots.stageAppend(
      docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 7000000L), path,
      "nightly-8")
    assert(spark.sql(
      s"CALL $cat.system.list_staged(table => 'db.w')")
      .collect()(0).getString(0) === "nightly-7,nightly-8")
    // SQL readers still see only the published half
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.w")
      .collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // ...and the gate publishes one batch, drops the other, from SQL
    val v = spark.sql(s"CALL $cat.system.publish_staged(" +
      "table => 'db.w', wap_id => 'nightly-7')")
      .collect()(0).getLong(0)
    assert(v === 3L) // create + insert + publish
    assert(spark.sql(s"CALL $cat.system.drop_staged(" +
      "table => 'db.w', wap_id => 'nightly-8')")
      .collect()(0).getBoolean(0))
    assert(spark.sql(
      s"CALL $cat.system.list_staged(table => 'db.w')")
      .collect()(0).getString(0) === "")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.w")
      .collect()(0).getLong(0) === docs.count())
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.w " +
      "WHERE doc_id >= 7000000").collect()(0).getLong(0) === 0L)
  }

  test("SQL UPDATE: conditional assignment, old-value semantics, time travel intact") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    docs.createOrReplaceTempView("upd_src")
    spark.sql(s"CREATE TABLE $cat.db.u (doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.u SELECT * FROM upd_src")
    spark.sql(s"UPDATE $cat.db.u SET n_chars = n_chars + doc_id, " +
      "text = upper(text) WHERE n_chars < 300")
    val got = spark.sql(
      s"SELECT doc_id, text, n_chars FROM $cat.db.u")
    val want = docs.select(col("doc_id"),
      when(col("n_chars") < 300, upper(col("text")))
        .otherwise(col("text")).as("text"),
      when(col("n_chars") < 300, col("n_chars") + col("doc_id"))
        .otherwise(col("n_chars")).as("n_chars"))
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // the pre-update version still serves the original rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.u VERSION AS OF 2 " +
      "WHERE text = upper(text)").collect()(0).getLong(0) ===
      docs.filter(col("text") === upper(col("text"))).count())
    // UPDATE against a time-travelled load refuses
    val e = intercept[Exception](spark.sql(
      s"UPDATE $cat.db.u VERSION AS OF 2 SET text = 'x'"))
    // (either the parser refuses the clause or the row-level builder
    // refuses the immutable relation — both are loud failures)
    assert(e != null)
    // a subquery inside UPDATE executes exactly through the native
    // row-level framework (the old custom strategy refused these)
    spark.sql(s"UPDATE $cat.db.u SET n_chars = " +
      s"(SELECT max(n_chars) FROM $cat.db.u) WHERE doc_id = 0")
    val mx = spark.sql(s"SELECT max(n_chars) FROM $cat.db.u")
      .head.getLong(0)
    assert(spark.sql(s"SELECT n_chars FROM $cat.db.u WHERE doc_id = 0")
      .head.getLong(0) === mx)
  }

  test("SQL MERGE INTO: update/delete/insert clauses, star forms, refusals") {
    val cat = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.createDataFrame(Seq((1L, "a", 10L), (2L, "b", 20L),
      (3L, "c", 30L))).toDF("id", "name", "n")
      .createOrReplaceTempView("mrg_base")
    spark.sql(s"CREATE TABLE $cat.db.m (id BIGINT, name STRING, " +
      "n BIGINT)")
    spark.sql(s"INSERT INTO $cat.db.m SELECT * FROM mrg_base")
    spark.sql(
      s"""MERGE INTO $cat.db.m t USING (SELECT * FROM VALUES
         |  (1L, 'x', 100L), (4L, 'd', 40L) AS s(id, name, n)) s
         |ON t.id = s.id
         |WHEN MATCHED AND t.n < 15 THEN UPDATE SET *
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT id, name, n FROM $cat.db.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, "x", 100L), (2L, "b", 20L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // NOT MATCHED BY SOURCE sees only unmatched target rows
    spark.sql(
      s"""MERGE INTO $cat.db.m t USING (SELECT 1L AS sid) s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET name = 'kept'
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 4 THEN DELETE
         |""".stripMargin)
    val got2 = spark.sql(s"SELECT id, name FROM $cat.db.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got2.toSeq === Seq((1L, "kept"), (2L, "b"), (3L, "c")))
    // duplicate source keys for one target row = SQL cardinality
    // error, enforced by Spark's native merge plan (UPDATE clause -
    // an unconditional DELETE alone is exempt by design)
    val e2 = intercept[Exception](spark.sql(
      s"""MERGE INTO $cat.db.m t USING (SELECT * FROM VALUES
         |  (2L, 'p'), (2L, 'q') AS s(sid, sname)) s
         |ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET name = s.sname""".stripMargin))
    assert(e2.getMessage.toUpperCase.contains("CARDINALITY"),
      e2.getMessage)
    // the two merges and the refusal left exactly the committed
    // history: create, insert, merge, merge (no partial commits) -
    // merges ride the native row-level delta path
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val ops = Snapshots.history(spark, s"$wh/db/m")
      .orderBy("version").collect().map(_.getString(2)).toSeq
    assert(ops ===
      Seq("create", "append", "rowLevelMerge", "rowLevelMerge"))
  }
}
