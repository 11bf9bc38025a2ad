package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Snapshots

/** Manifest v4 SHARDING: past the shard threshold a full manifest
  * stores its entries in immutable, content-addressed shard files
  * grouped by partition directory, and every prune proves whole-shard
  * skips from the shard's merged pseudo-stats before reading any
  * entry — the metadata layer's own file skipping. These specs pin
  * the format round-trip, shard reuse across commits, skip proofs,
  * rollback/vacuum interplay, and the v3→v4 threshold crossing.
  */
class SnapshotShardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.t(spark, sf, "documents")
  private def newStore: String =
    Files.createTempDirectory("graft_shard").toString + "/tbl"

  private def withShardSize[A](n: Int)(body: => A): A = {
    val prev = Snapshots.shardSizeOverride
    Snapshots.shardSizeOverride = Some(n)
    try body finally Snapshots.shardSizeOverride = prev
  }

  private def manifestHeader(path: String, v: Long): String = {
    val p = java.nio.file.Paths.get(
      path, "_manifests", f"v$v%09d.manifest")
    java.nio.file.Files.readAllLines(p).get(0)
  }

  private def shardFiles(path: String): Set[String] = {
    val d = new java.io.File(s"$path/_manifests/shards")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName)
      .filter(_.endsWith(".shard")).toSet
  }

  test("v4 round-trip: sharded manifest reads back exactly; " +
      "small tables stay v3") {
    withShardSize(2) {
      val path = newStore
      // one commit of several files -> one directory group, chunked
      val v1 = Snapshots.commit(docs.repartition(8), path)
      assert(manifestHeader(path, v1) === "graft-snapshot-v4")
      assert(shardFiles(path).nonEmpty)
      assert(Snapshots.read(spark, path).count() === docs.count())
      assert(Snapshots.read(spark, path)
        .select(sum("doc_id")).head().getLong(0) ===
        docs.select(sum("doc_id")).head().getLong(0))
      // below threshold: the plain v3 encoding is untouched
      val small = newStore
      val sv = Snapshots.commit(docs.limit(5).coalesce(1), small)
      assert(manifestHeader(small, sv) === "graft-snapshot-v3")
    }
  }

  test("appends REUSE untouched shards (content-addressed): only " +
      "the new commit's group writes") {
    withShardSize(2) {
      val path = newStore
      Snapshots.commit(docs.repartition(6), path)
      val before = shardFiles(path)
      assert(before.nonEmpty)
      Snapshots.commitAppend(
        docs.withColumn("doc_id", col("doc_id") + 1000000)
          .repartition(4), path)
      val after = shardFiles(path)
      // every v1 shard survives by NAME (same group -> same content
      // -> same hash); the append added only its own group's shards
      assert(before.subsetOf(after))
      assert(after.size > before.size)
      assert(Snapshots.read(spark, path).count() === 2 * docs.count())
    }
  }

  test("whole-shard skips: a range prune loads only the commits " +
      "whose merged stats overlap") {
    withShardSize(2) {
      val path = newStore
      // four disjoint doc_id bands, one commit (= one group) each
      (0 until 4).foreach { i =>
        val part = docs
          .select((col("doc_id") + i * 10000000L).as("doc_id"),
            col("n_chars"))
          .repartition(3)
        if (i == 0) Snapshots.commit(part, path)
        else Snapshots.commitAppend(part, path)
      }
      Snapshots.shardsLoaded.set(0L)
      Snapshots.shardsSkipped.set(0L)
      val got = Snapshots.readBetween(spark, path, "doc_id",
        10000000.0, 10005000.0)
      val expect = docs
        .filter(col("doc_id") + 10000000L <= 10005000L)
        .count()
      assert(got.count() === expect)
      assert(Snapshots.shardsSkipped.get() > 0L,
        "the disjoint bands' shards must skip at shard level")
    }
  }

  test("equality prune through shards stays exact; rollback " +
      "republishes v4 verbatim; vacuum keeps referenced shards " +
      "and sweeps orphans") {
    withShardSize(2) {
      val path = newStore
      val v1 = Snapshots.commit(docs.repartition(6), path)
      val probe = docs.select(min("doc_id")).head().getLong(0)
      assert(Snapshots.readEquals(spark, path, "doc_id", probe)
        .count() === docs.filter(col("doc_id") === probe).count())
      // overwrite with a DIFFERENT sharded snapshot, then roll back
      // to v1 — the rollback's verbatim republish references v1's
      // shard files by name, while v2's shards become orphans the
      // moment expire drops v2
      Snapshots.commit(docs.filter(col("doc_id") % 2 === 0)
        .repartition(5), path)
      val v3 = Snapshots.rollback(spark, path, v1)
      assert(manifestHeader(path, v3) === "graft-snapshot-v4")
      assert(Snapshots.read(spark, path).count() === docs.count())
      // expire history, vacuum with zero grace: every shard the
      // surviving manifest references survives; reads still work
      Snapshots.expire(spark, path, keepLast = 1)
      Snapshots.vacuum(spark, path, graceMs = 0L)
      assert(Snapshots.read(spark, path).count() === docs.count())
      val live = shardFiles(path)
      val referenced = Snapshots
        .shardRefsAt(spark, path,
          Snapshots.latestVersion(spark, path).get)
        .map(_.file).toSet
      assert(referenced.subsetOf(live))
      // an orphaned shard (no surviving manifest references it)
      // sweeps on the next vacuum once out of grace
      assert(live === referenced,
        s"orphaned shards survived vacuum: ${live -- referenced}")
    }
  }

  test("aggregate pushdown answers from SHARD pseudo-stats: bare and " +
      "grouped COUNT/MIN/MAX without touching entries; string MIN " +
      "falls back to the entry tier and still answers") {
    withShardSize(2) {
      val wh = Files.createTempDirectory("graft_shard_agg").toString
      val cat = "gshagg" + math.abs(wh.hashCode).toString
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.io.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      docs.createOrReplaceTempView("shard_agg_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.d (doc_id BIGINT, " +
        "lang STRING, source STRING, n_chars BIGINT) " +
        "PARTITIONED BY (lang)")
      (0 until 3).foreach { i =>
        spark.sql(s"INSERT INTO $cat.db.d SELECT doc_id + ${i}000000," +
          " lang, source, n_chars FROM shard_agg_src")
      }
      val tbl = s"$wh/db/d"
      assert(Snapshots.shardRefsAt(spark, tbl,
        Snapshots.latestVersion(spark, tbl).get).nonEmpty,
        "fixture must shard")
      val n = docs.count()
      // bare COUNT(*): a one-row metadata scan, exact
      val cnt = spark.sql(s"SELECT count(*) AS n FROM $cat.db.d")
      assert(cnt.queryExecution.executedPlan.toString
        .contains("manifest-agg"), "COUNT(*) must push to metadata")
      assert(cnt.head().getLong(0) === 3 * n)
      // grouped COUNT over the identity partition column: one row
      // per live lang, counts exact (shard groups are dir-grouped)
      val grouped = spark.sql(s"SELECT lang, count(*) AS n " +
        s"FROM $cat.db.d GROUP BY lang")
      assert(grouped.queryExecution.executedPlan.toString
        .contains("manifest-agg"), "grouped COUNT must push")
      val got = grouped.collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap
      val want = docs.groupBy(col("lang")).count().collect()
        .map(r => r.getString(0) -> 3 * r.getLong(1)).toMap
      assert(got === want)
      // integral MIN/MAX: exact from the shard-merged 'L' bounds
      val mm = spark.sql(s"SELECT min(doc_id) AS lo, max(doc_id) " +
        s"AS hi FROM $cat.db.d")
      assert(mm.queryExecution.executedPlan.toString
        .contains("manifest-agg"))
      val (lo, hi) = (mm.head().getLong(0), mm.head().getLong(1))
      assert(lo === docs.agg(min("doc_id")).head().getLong(0))
      assert(hi === docs.agg(max("doc_id")).head().getLong(0) + 2000000)
      // string MIN on a DATA column: shard 'T' bounds are never
      // exact, so the push falls back to the ENTRY tier — and still
      // answers from metadata (exact untruncated per-file bounds)
      val sm = spark.sql(s"SELECT min(source) AS lo FROM $cat.db.d")
      assert(sm.queryExecution.executedPlan.toString
        .contains("manifest-agg"), "string MIN must still push " +
        "(entry tier)")
      assert(sm.head().getString(0) ===
        docs.agg(min("source")).head().getString(0))
    }
  }

  test("threshold crossing mid-history: v3 versions stay readable " +
      "beside v4 ones; SQL scans prune through shards") {
    withShardSize(2) {
      val path = newStore
      Snapshots.shardSizeOverride = Some(1000) // v1 stays small/v3
      val v1 = Snapshots.commit(docs.coalesce(1), path)
      Snapshots.shardSizeOverride = Some(2)
      Snapshots.commitAppend(
        docs.withColumn("doc_id", col("doc_id") + 1000000)
          .repartition(6), path)
      assert(manifestHeader(path, v1) === "graft-snapshot-v3")
      assert(manifestHeader(path, 2L) === "graft-snapshot-v4")
      assert(Snapshots.read(spark, path, Some(v1)).count() ===
        docs.count())
      assert(Snapshots.read(spark, path).count() === 2 * docs.count())
    }
  }

  test("aggregate pushdown never stats a pseudo-entry: a stat-less " +
      "shard member degrades through the tiers to a real scan, not " +
      "a FileNotFoundException on '<dir>/_'") {
    withShardSize(2) {
      import scala.jdk.CollectionConverters._
      val wh = Files.createTempDirectory("graft_shard_legacy").toString
      val cat = "gshleg" + math.abs(wh.hashCode).toString
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.io.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      docs.createOrReplaceTempView("shard_legacy_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      spark.sql(s"CREATE TABLE $cat.db.d (doc_id BIGINT, " +
        "n_chars BIGINT)")
      (0 until 5).foreach { i =>
        spark.sql(s"INSERT INTO $cat.db.d SELECT doc_id + " +
          s"${i}000000, n_chars FROM shard_legacy_src")
      }
      val tbl = s"$wh/db/d"
      val v = Snapshots.latestVersion(spark, tbl).get
      assert(Snapshots.shardRefsAt(spark, tbl, v).nonEmpty,
        "fixture must shard")
      val n = docs.count()
      // TAMPER the store into the legacy shape: strip every stat
      // from one shard member (an entry committed before stats were
      // collected has none) and from its shard's pseudo-entry (one
      // stat-less member drops ALL merged pseudo-stats). The agg
      // pushdown's pseudo tier must answer None here — never hand
      // the bare '<dir>/_' rel to getFileStatus
      val mp = java.nio.file.Paths.get(tbl, "_manifests",
        f"v$v%09d.manifest")
      val lines = java.nio.file.Files.readAllLines(mp)
        .asScala.toList
      val idx = lines.indexWhere(_.startsWith("#shard="))
      assert(idx >= 0, "v4 manifest must carry shard lines")
      val parts = lines(idx).stripPrefix("#shard=").split("\\|", 3)
      val (sName, sCnt, pseudo) = (parts(0), parts(1), parts(2))
      val sp = java.nio.file.Paths.get(tbl, "_manifests", "shards",
        sName)
      val members = java.nio.file.Files.readAllLines(sp)
        .asScala.toList.drop(1).filter(_.nonEmpty)
      val tampered =
        members.head.takeWhile(_ != '\t') +: members.tail
      val newShard = s"s-legacy0000deadbeef00-${members.size}.shard"
      java.nio.file.Files.write(sp.getParent.resolve(newShard),
        (("graft-snapshot-shard-1" +: tampered) :+ "")
          .mkString("\n").getBytes("UTF-8"))
      val newLine =
        s"#shard=$newShard|$sCnt|${pseudo.takeWhile(_ != '\t')}"
      java.nio.file.Files.write(mp,
        lines.updated(idx, newLine).mkString("\n").getBytes("UTF-8"))
      // the raw rewrite bypassed Hadoop's ChecksumFileSystem: drop
      // the stale .crc sidecar or the next read fails its checksum
      java.nio.file.Files.deleteIfExists(
        mp.getParent.resolve("." + mp.getFileName.toString + ".crc"))
      // bare COUNT(*): pseudo tier unanswerable (no __rows), entry
      // tier unanswerable (the tampered member), so the push is
      // REFUSED and a real scan answers — exactly, with no throw
      val cnt = spark.sql(s"SELECT count(*) AS n FROM $cat.db.d")
      assert(cnt.head().getLong(0) === 5 * n)
      assert(!cnt.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
        "an unanswerable push must refuse, not guess")
      // COUNT(col) and MIN/MAX walk the same tiers
      val mm = spark.sql(s"SELECT count(n_chars) AS c, " +
        s"min(doc_id) AS lo FROM $cat.db.d")
      assert(mm.head().getLong(0) === 5 * n)
    }
  }

  test("small appends write only TAIL shards (O(delta) commit " +
      "metadata IO) and accrete; reshard()/maintain() heal back to " +
      "canonical with reads identical") {
    withShardSize(2) {
      val path = newStore
      val base = docs
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val v1 = Snapshots.commit(base, path,
        partitionBy = Seq("lang"))
      val refs1 = Snapshots.shardRefsAt(spark, path, v1)
      assert(refs1.nonEmpty, "fixture must shard")
      // five sliver appends to ONE partition: each commit's manifest
      // must carry every prior shard BY NAME plus tail shard(s) for
      // just the fresh entries — commit IO scales with the sliver
      val oneLang = base.agg(min("lang")).head().getString(0)
      var prevNames = refs1.map(_.file).toSet
      var v = v1
      (1 to 5).foreach { i =>
        v = Snapshots.commitAppend(
          base.filter(col("lang") === oneLang).limit(2)
            .withColumn("doc_id", col("doc_id") + i * 100000000L),
          path)
        val names = Snapshots.shardRefsAt(spark, path, v)
          .map(_.file).toSet
        assert(prevNames.subsetOf(names),
          s"append $i rewrote a prior shard instead of reusing it")
        val fresh = names -- prevNames
        assert(fresh.size === 1,
          s"a 2-row append must write exactly one tail shard, " +
            s"wrote ${fresh.size}")
        prevNames = names
      }
      val expect = Snapshots.read(spark, path)
        .orderBy("doc_id").collect().toSeq
      // the touched partition accreted five sub-size tails
      val refsBefore = Snapshots.shardRefsAt(spark, path, v)
      assert(refsBefore.size >= refs1.size + 5)
      // maintain (via reshard) heals: per-group shard count drops to
      // canonical ceil(entries/shardSize), reads byte-identical
      val healed = Snapshots.reshard(spark, path)
      assert(healed.nonEmpty, "accreted table must reshard")
      val refsAfter =
        Snapshots.shardRefsAt(spark, path, healed.get)
      assert(refsAfter.size < refsBefore.size,
        s"reshard must drop shard count " +
          s"(${refsBefore.size} -> ${refsAfter.size})")
      val total = refsAfter.map(_.count.toLong).sum
      assert(refsAfter.size <= (total / 2 + 1 +
        base.select("lang").distinct().count()).toInt,
        "healed layout must be near-canonical per partition")
      assert(Snapshots.read(spark, path)
        .orderBy("doc_id").collect().toSeq === expect)
      // healed table is canonical: a second reshard is a no-op
      assert(Snapshots.reshard(spark, path).isEmpty)
    }
  }

  test("appendDelta answers from SHARD refs: an append touching one " +
      "partition loads only that partition's changed shards — the " +
      "per-trigger streaming diff is O(delta), not O(files)") {
    withShardSize(2) {
      val path = newStore
      val base = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      val v1 = Snapshots.commit(base, path, partitionBy = Seq("lang"))
      assert(Snapshots.shardRefsAt(spark, path, v1).size >= 4,
        "fixture must shard with one group per lang dir")
      val oneLang = base.agg(min("lang")).head().getString(0)
      val appended = base.filter(col("lang") === oneLang)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val v2 = Snapshots.commitAppend(appended, path)
      val totalShards = Snapshots.shardRefsAt(spark, path, v2).size
      Snapshots.shardsLoaded.set(0L)
      Snapshots.shardsSkipped.set(0L)
      // changes() runs through appendDelta — the same diff the
      // streaming source polls every trigger
      val delta = Snapshots.changes(spark, path, v1, v2)
      assert(delta.count() === appended.count())
      assert(delta.agg(min("doc_id")).head().getLong(0) >= 1000000L)
      val loaded = Snapshots.shardsLoaded.get()
      val skipped = Snapshots.shardsSkipped.get()
      assert(skipped > 0L,
        "the version diff proved no whole-shard skips - it walked " +
          "every shard")
      assert(loaded < totalShards,
        s"the version diff loaded $loaded of $totalShards shards - " +
          "untouched partitions' shards should never load")
      // and the refusal posture survives the shard path: an
      // overwrite in the range still refuses loudly
      val v3 = Snapshots.commit(base.limit(10).coalesce(1), path)
      val e = intercept[IllegalArgumentException] {
        Snapshots.changes(spark, path, v2, v3).count()
      }
      assert(e.getMessage.contains("not append-only"))
    }
  }
}
