package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Snapshots

/** Manifest-based snapshot store: atomic visibility, structural
  * sharing, time travel, rollback, retention. The history-bearing
  * store posture (Delta/Iceberg's core) over plain parquet + rename.
  */
class SnapshotsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.t(spark, sf, "documents")
  private def newStore: String =
    Files.createTempDirectory("graft_snap").toString + "/tbl"

  private def dataFiles(path: String): Seq[String] = {
    val base = new java.io.File(s"$path/data")
    if (!base.exists()) Nil
    else base.listFiles().flatMap(d => d.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${d.getName}/${f.getName}")).toSeq.sorted
  }

  test("commit, latest read, and time travel across an overwrite") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    assert(v1 === 1L)
    assert(Snapshots.latestVersion(spark, path) === Some(1L))
    val v2 = Snapshots.commit(docs, path)
    assert(v2 === 2L)
    // latest is the full table; v1 pins the even half forever
    assert(Snapshots.read(spark, path).count() === docs.count())
    assert(Snapshots.read(spark, path, Some(v1)).count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(Snapshots.versions(spark, path) === Seq(1L, 2L))
  }

  test("append shares the previous snapshot's files (writes only the delta)") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val before = dataFiles(path)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    val after = dataFiles(path)
    // old files untouched, new files are strictly additive
    assert(before.toSet.subsetOf(after.toSet))
    assert(after.size > before.size)
    // and the latest snapshot is the union
    assert(Snapshots.read(spark, path).select(sum("doc_id")).collect()(0)
      .getLong(0) ===
      docs.select(sum("doc_id")).collect()(0).getLong(0))
  }

  test("rollback is metadata-only and itself versioned") {
    val path = newStore
    val v1 = Snapshots.commit(docs, path)
    Snapshots.commit(docs.filter(col("n_chars") > 500), path)
    val filesBefore = dataFiles(path)
    val v3 = Snapshots.rollback(spark, path, v1)
    assert(v3 === 3L)
    assert(dataFiles(path) === filesBefore) // no data IO
    assert(Snapshots.read(spark, path).count() === docs.count())
    // the rolled-back-from snapshot is still readable history
    assert(Snapshots.read(spark, path, Some(2L)).count() ===
      docs.filter(col("n_chars") > 500).count())
  }

  test("empty commit keeps its schema; unknown version refuses loudly") {
    val path = newStore
    // the manifest carries the schema, so an empty snapshot reads
    // back as 0 rows with the right columns
    Snapshots.commit(docs.filter(lit(false)), path)
    val got = Snapshots.read(spark, path)
    assert(got.count() === 0L)
    assert(got.columns.toSeq === docs.columns.toSeq)
    val e = intercept[IllegalArgumentException](
      Snapshots.read(spark, path, Some(99L)))
    assert(e.getMessage.contains("99"), e.getMessage)
  }

  test("expire + vacuum keep every file a surviving manifest references") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path) // v1
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path) // v2 shares v1
    Snapshots.commit(docs.filter(col("n_chars") > 500), path) // v3 fresh
    assert(Snapshots.expire(spark, path, keepLast = 2) === 1) // v1 manifest gone
    val removed = Snapshots.vacuum(spark, path, graceMs = 0)
    // v1's files are still referenced by v2 — nothing to collect
    assert(removed === 0)
    assert(Snapshots.read(spark, path, Some(2L)).count() === docs.count())
    // drop v2 as well: now v1-era files are truly orphaned
    assert(Snapshots.expire(spark, path, keepLast = 1) === 1)
    assert(Snapshots.vacuum(spark, path, graceMs = 0) > 0)
    assert(Snapshots.read(spark, path).count() ===
      docs.filter(col("n_chars") > 500).count())
  }

  test("vacuum collects crashed-commit orphans") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") < 100), path) // v1
    val v = Snapshots.commit(docs, path)
    assert(v === 2L)
    // every manifest on disk protects its files from vacuum
    assert(Snapshots.vacuum(spark, path, graceMs = 0) === 0)
    // a crash BEFORE the manifest publish leaves a commit dir no
    // manifest names - pure garbage, collected
    docs.limit(5).write.parquet(s"$path/data/c-orphan")
    assert(Snapshots.vacuum(spark, path, graceMs = 0) > 0)
    assert(!new java.io.File(s"$path/data/c-orphan").exists())
    // an abandoned _tmp_ manifest (crash mid-activate of the hint)
    // is not a version
    Files.writeString(java.nio.file.Paths.get(
      s"$path/_manifests/_tmp_v000000009.manifest"), "junk")
    assert(Snapshots.latestVersion(spark, path) === Some(2L))
  }

  test("a manifest headed by anything but v3 or v4 refuses on read, naming the accepted headers") {
    Seq("graft-snapshot-v1", "graft-snapshot-v2",
        "graft-snapshot-delta-1").foreach { header =>
      val path = newStore
      Snapshots.commit(docs.filter(col("doc_id") < 100), path)
      val v1 = java.nio.file.Paths.get(
        s"$path/_manifests/v000000001.manifest")
      // the v1 manifest's own schema/partition/body lines under the
      // retired header: only the header decides
      val lines = new String(Files.readAllBytes(v1),
        java.nio.charset.StandardCharsets.UTF_8).split('\n').toSeq
      Files.writeString(java.nio.file.Paths.get(
        s"$path/_manifests/v000000002.manifest"),
        (header +: lines.tail).mkString("", "\n", "\n"))
      assert(Snapshots.latestVersion(spark, path) === Some(2L))
      val e = intercept[IllegalArgumentException](
        Snapshots.read(spark, path))
      assert(e.getMessage.contains(
        "accepted headers: graft-snapshot-v3, graft-snapshot-v4"),
        s"$header: ${e.getMessage}")
    }
  }

  test("a commit whose first write task is empty lists no 0-row file") {
    import spark.implicits._
    val path = newStore
    // slice 0 of a 2-row, 3-slice parallelize is empty, and Spark's
    // file writer still writes a (schema-only) file for task 0
    val df = spark.sparkContext.parallelize(Seq(1L -> "a", 2L -> "b"), 3)
      .toDF("id", "s")
    Snapshots.commit(df, path)
    val rows = Snapshots.files(spark, path).select("rows")
      .as[Option[Long]].collect().toSeq
    assert(rows === Seq(Some(1L), Some(1L)),
      "a committed entry holds no rows")
    assert(dataFiles(path).size === 2, "the empty file was left on disk")
    assert(Snapshots.read(spark, path).count() === 2L)
  }

  test("concurrent appends: the publish loser rebases and both survive") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 3 === 0), path)
    // deterministic interleave: while append A sits between its data
    // write and its manifest publish, append B lands a full commit -
    // A's first claim fails and it must rebase onto B's files
    val interloper = docs.filter(col("doc_id") % 3 === 1)
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.commitAppend(interloper, path)
      ()
    }
    try Snapshots.commitAppend(docs.filter(col("doc_id") % 3 === 2), path)
    finally Snapshots.onBeforePublish = () => ()
    assert(Snapshots.versions(spark, path) === Seq(1L, 2L, 3L))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    assert(got.exceptAll(docs).count() === 0L)
  }

  test("genuinely parallel appends from many threads all survive") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 5 === 0), path)
    val threads = (1 to 4).map { r =>
      new Thread(() => {
        Snapshots.commitAppend(docs.filter(col("doc_id") % 5 === r), path)
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(Snapshots.versions(spark, path).size === 5)
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    assert(got.exceptAll(docs).count() === 0L)
  }

  test("rewrites rebase over concurrent appends (WriteSerializable); overwrite refuses") {
    val path = newStore
    Snapshots.commit(docs, path)
    // each interloper appends 2 fresh rows with distinct negative ids
    var nextId = 500L
    def interleaveAppend(): Unit = {
      val id = nextId; nextId += 10
      Snapshots.onBeforePublish = () => {
        Snapshots.onBeforePublish = () => ()
        Snapshots.commitAppend(
          docs.limit(2).select(
            (-monotonically_increasing_id() - id).as("doc_id"),
            col("text"), col("lang"), col("source"),
            lit(1000000L).as("n_chars")), path)
        ()
      }
    }
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    // MERGE vs interleaved append: BOTH land — the merge result plus
    // the appended rows (serial order: merge, then append)
    interleaveAppend()
    val v1 =
      try Snapshots.merge(spark, path, updates, Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ()
    assert(v1 === 3L) // append claimed v2, merge rebased onto v3
    val afterMerge = Snapshots.read(spark, path)
    assert(afterMerge.count() === docs.count() + 2)
    assert(afterMerge.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") >= 0 && col("text") =!= upper(col("text")))
      .count() === 0L)
    // DELETE vs interleaved append whose rows MATCH the predicate:
    // the appended rows survive (they were never examined — the
    // serial order is [delete, then append]; WriteSerializable)
    interleaveAppend()
    val v2 =
      try Snapshots.deleteWhere(spark, path, col("n_chars") >= 1000000L)
      finally Snapshots.onBeforePublish = () => ()
    assert(v2 === 5L)
    val afterDelete = Snapshots.read(spark, path)
    // the FIRST append's 2 rows (n_chars=1000000) were deleted; the
    // second append's 2 rows match the predicate but arrived after
    // the delete's read - they survive
    assert(afterDelete.filter(col("n_chars") >= 1000000L).count() === 2L)
    // COMPACT vs interleaved append: both land; the appended files
    // ride along uncompacted and no row is lost or duplicated
    interleaveAppend()
    val v3 =
      try Snapshots.compact(spark, path, targetFileBytes = 16L << 10,
        sortBy = Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ()
    assert(v3 === 7L)
    val afterCompact = Snapshots.read(spark, path)
    assert(afterCompact.count() === afterDelete.count() + 2)
    assert(afterCompact.exceptAll(
      afterDelete.unionByName(Snapshots.changes(spark, path, 5L, 6L)))
      .count() === 0L)
    // OVERWRITE vs interleaved append still refuses: the overwrite
    // defines the whole table's contents
    interleaveAppend()
    val e = intercept[java.util.ConcurrentModificationException](
      try Snapshots.commit(docs.limit(5), path)
      finally Snapshots.onBeforePublish = () => ())
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    // the refused overwrite left no stray files (fresh files deleted)
    assert(Snapshots.vacuum(spark, path, graceMs = 0) === 0)
  }

  test("rewrites refuse a concurrent REWRITE, a schema-evolving append, and a mor delete") {
    val path = newStore
    Snapshots.commit(docs, path)
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    // concurrent cow DELETE rewrote files the merge read: refuse
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.deleteWhere(spark, path, col("doc_id") % 7 === 3)
      ()
    }
    val e1 = intercept[java.util.ConcurrentModificationException](
      try Snapshots.merge(spark, path, updates, Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ())
    assert(e1.getMessage.contains("cannot be rebased"), e1.getMessage)
    // concurrent schema-EVOLVING append: rebase refuses (this
    // commit's manifest would truncate the evolved schema)
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.commitAppend(docs.limit(1)
        .withColumn("extra", lit(1L)), path)
      ()
    }
    val e2 = intercept[java.util.ConcurrentModificationException](
      try Snapshots.merge(spark, path, updates, Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ())
    assert(e2.getMessage.contains("schema change"), e2.getMessage)
    // concurrent MOR delete: a cow rewrite would resurrect its rows
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.deleteKeys(spark, path,
        docs.filter(col("doc_id") % 11 === 1).select("doc_id"),
        Seq("doc_id"), mode = "mor")
      ()
    }
    val e3 = intercept[java.util.ConcurrentModificationException](
      // sortBy forces the rewrite even if the table is already packed
      try Snapshots.compact(spark, path, targetFileBytes = 16L << 10,
        sortBy = Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ())
    assert(e3.getMessage.contains("merge-on-read delete"), e3.getMessage)
    // after re-reading, the same logical update applies cleanly on
    // the new base (column-sparse form: the interleaved append
    // evolved the schema, so whole-row merge no longer fits)
    Snapshots.mergeUpdate(spark, path,
      updates.select("doc_id", "text"), Seq("doc_id"), Seq("text"))
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") % 10 === 0 && col("doc_id") >= 0 &&
        col("text") =!= upper(col("text"))).count() === 0L)
  }

  test("concurrent mor deletes compose by DV union") {
    val path = newStore
    Snapshots.commit(docs, path)
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.deleteKeys(spark, path,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"),
        Seq("doc_id"), mode = "mor")
      ()
    }
    val v =
      try Snapshots.deleteWhere(spark, path, col("doc_id") % 10 === 7,
        mode = "mor")
      finally Snapshots.onBeforePublish = () => ()
    assert(v === 3L) // interloper claimed v2, this delete rebased to v3
    val got = Snapshots.read(spark, path)
    assert(got.filter(col("doc_id") % 10 === 3 ||
      col("doc_id") % 10 === 7).count() === 0L)
    assert(got.count() ===
      docs.filter(col("doc_id") % 10 =!= 3 &&
        col("doc_id") % 10 =!= 7).count())
  }

  test("merge and deleteKeys refuse NULL keys loudly") {
    val path = newStore
    Snapshots.commit(docs, path)
    val nullKeyed = docs.limit(1)
      .select(lit(null).cast("long").as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val e1 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path, nullKeyed, Seq("doc_id")))
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.deleteKeys(spark, path,
        nullKeyed.select("doc_id"), Seq("doc_id")))
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // nothing committed by either refusal
    assert(Snapshots.versions(spark, path) === Seq(1L))
  }

  test("streaming ingestion: one append commit per micro-batch, v1 pinned") {
    val staged = graft.io.Scratch.dir("graft_snapspec_docs_")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 2 === 0), staged, "even.parquet")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 2 === 1), staged, "odd.parquet")
    val store = newStore
    val q = graft.streaming.Streams.snapshotStream(
      graft.streaming.Streams.fileStream(spark, staged.toString,
        graft.streaming.Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1)), store)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches === 2, s"expected 2 non-empty micro-batches, got $batches")
    assert(Snapshots.versions(spark, store) === Seq(1L, 2L))
    // latest = everything; v1 pins exactly the first batch
    assert(Snapshots.read(spark, store).count() === docs.count())
    // (file arrival order is the source's choice — v1 is whichever
    // half landed first, never the union)
    val v1 = Snapshots.read(spark, store, Some(1L)).count()
    val halves = Seq(0, 1).map(p =>
      docs.filter(col("doc_id") % 2 === p).count())
    assert(halves.contains(v1), s"v1=$v1 not one of $halves")
  }

  test("string file skipping: clustered scans prune, straddles stay exact, partitions prove") {
    val path = newStore
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    Snapshots.compact(spark, path, targetFileBytes = 8L << 10,
      sortBy = Seq("source"))
    // a selective source range provably keeps fewer files than total
    val (kept, total) = plannedBetweenStrings(path, "source", "src10", "src13")
    assert(total > 1, s"compact produced $total file(s) - widen the spec")
    assert(kept.nonEmpty && kept.size < total,
      s"no string prune: kept ${kept.size} of $total")
    // exactness, including a boundary-straddling range (bounds fall
    // mid-file): pruned read ≡ full filter
    for ((lo, hi) <- Seq(("src10", "src13"), ("src15", "src4"),
        ("src0", "src1"))) {
      val got = Snapshots.readBetweenStrings(spark, path, "source", lo, hi)
      val want = docs.filter(col("source") >= lo && col("source") <= hi)
      assert(got.count() === want.count(), s"range [$lo,$hi]")
      assert(got.exceptAll(want).count() === 0L, s"range [$lo,$hi]")
    }
    // a disjoint range prunes EVERYTHING yet reads exactly empty
    val none = Snapshots.readBetweenStrings(
      spark, path, "source", "zzz", "zzzz")
    assert(none.count() === 0L)
    // string PARTITION values prove whole-partition skips with no
    // stats at all
    val parted = newStore
    Snapshots.commit(docs, parted, partitionBy = Seq("lang"))
    val (keptP, totalP) = plannedBetweenStrings(parted, "lang", "en", "en")
    assert(keptP.nonEmpty && keptP.size < totalP)
    assert(Snapshots.readBetweenStrings(spark, parted, "lang",
      "en", "en").count() === docs.filter(col("lang") === "en").count())
    // non-string columns refuse (numeric ranges go to readBetween)
    val e = intercept[IllegalArgumentException](
      Snapshots.readBetweenStrings(spark, path, "doc_id", "a", "b"))
    assert(e.getMessage.contains("not string"), e.getMessage)
  }

  test("string bounds truncate at 16 bytes without wrong prunes") {
    val path = newStore
    import spark.implicits._
    val prefix = "aaaaaaaaaaaaaaaaaaaa" // 20 bytes, beyond the 16-byte cut
    val low = (0 until 50).map(i => (i.toLong, f"$prefix-lo-$i%03d"))
    val high = (0 until 50).map(i => (i + 100L, f"$prefix-zz-$i%03d"))
    Snapshots.commitAppend(low.toDF("id", "k").coalesce(1), path)
    Snapshots.commitAppend(high.toDF("id", "k").coalesce(1), path)
    // both files' bounds share the >16-byte prefix, so their
    // truncated stats are IDENTICAL ranges - a query inside the zone
    // must keep both files (never wrongly prune) and stay exact
    val inZone = Snapshots.readBetweenStrings(spark, path, "k",
      s"$prefix-lo-000", s"$prefix-lo-049")
    assert(inZone.count() === 50L)
    // below the common prefix everything provably prunes
    val (kept, total) = plannedBetweenStrings(path, "k", "a", "aaaa")
    assert(total === 2 && kept.isEmpty,
      s"expected full prune below the prefix, kept $kept")
    // above it too ('b' > every 'aaaa...' string)
    val (kept2, _) = plannedBetweenStrings(path, "k", "b", "c")
    assert(kept2.isEmpty, s"expected full prune above, kept $kept2")
  }

  test("renameColumn: metadata-only, old files serve, writes map, time travel keeps old names") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val before = dataFiles(path)
    val v2 = Snapshots.renameColumn(spark, path, "n_chars", "length")
    assert(v2 === v1 + 1)
    assert(dataFiles(path) === before) // zero data IO
    val got = Snapshots.read(spark, path)
    assert(got.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "length"))
    // old files' values surface under the new name
    assert(got.agg(sum("length")).collect()(0).getLong(0) ===
      docs.filter(col("doc_id") % 2 === 0)
        .agg(sum("n_chars")).collect()(0).getLong(0))
    // time travel reads v1 under ITS OWN name
    assert(Snapshots.read(spark, path, Some(v1)).columns
      .contains("n_chars"))
    // an append under the NEW name writes the unchanged physical and
    // rounds the table out
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1)
      .withColumnRenamed("n_chars", "length"), path)
    val full = Snapshots.read(spark, path)
    assert(full.count() === docs.count())
    assert(full.agg(sum("length")).collect()(0).getLong(0) ===
      docs.agg(sum("n_chars")).collect()(0).getLong(0))
    // merge keyed through the renamed landscape still works
    val upd = docs.limit(1)
      .withColumnRenamed("n_chars", "length")
      .withColumn("text", lit("renamed-merge"))
      .select(full.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, upd, Seq("doc_id"))
    assert(Snapshots.read(spark, path)
      .filter(col("text") === "renamed-merge").count() === 1L)
    // a->b->a round-trips to identity
    Snapshots.renameColumn(spark, path, "length", "n_chars")
    assert(Snapshots.read(spark, path).columns.contains("n_chars"))
    // refusals: unknown from, existing to, separator chars
    val e1 = intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, path, "nope", "x"))
    assert(e1.getMessage.contains("nope"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, path, "text", "lang"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    intercept[IllegalArgumentException](
      Snapshots.renameColumn(spark, path, "text", "a:b"))
  }

  test("renameColumn on a partition column: pruning and replacePartitions follow the logical name") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    Snapshots.renameColumn(spark, path, "bucket", "shard")
    val got = Snapshots.read(spark, path)
    assert(got.columns.contains("shard"))
    assert(got.filter(col("shard") === 2).count() ===
      parted.filter(col("bucket") === 2).count())
    // manifest-level partition pruning still proves on the renamed
    // column (stats/paths stay keyed by the physical name)
    val (kept, total) = plannedBetween(path, "shard", 2.0, 2.0)
    assert(kept.nonEmpty && kept.size < total,
      s"no partition prune after rename: $kept of $total")
    // dynamic partition overwrite under the new logical name
    val rerun = parted.filter(col("bucket") === 2)
      .withColumn("text", lit("replaced"))
      .withColumnRenamed("bucket", "shard")
    Snapshots.replacePartitions(rerun, path)
    val after = Snapshots.read(spark, path)
    assert(after.count() === parted.count())
    assert(after.filter(col("shard") === 2 &&
      col("text") =!= "replaced").count() === 0L)
    // an append under the new name lands in the SAME physical dirs
    Snapshots.commitAppend(parted.limit(1)
      .withColumn("doc_id", col("doc_id") + 777000)
      .withColumnRenamed("bucket", "shard"), path)
    assert(Snapshots.read(spark, path).count() === parted.count() + 1)
  }

  test("mor delete: zero data-file rewrites, read agrees with copy-on-write") {
    val morPath = newStore
    val cowPath = newStore
    Snapshots.commit(docs, morPath)
    Snapshots.commit(docs, cowPath)
    val before = dataFiles(morPath)
    val v2 = Snapshots.deleteWhere(spark, morPath,
      col("n_chars") < 500, mode = "mor")
    assert(v2 === 2L)
    // every pre-delete data file is still on disk untouched; the only
    // additions are the delete file(s)
    val after = dataFiles(morPath)
    assert(before.toSet.subsetOf(after.toSet))
    Snapshots.deleteWhere(spark, cowPath, col("n_chars") < 500)
    val mor = Snapshots.read(spark, morPath)
    val cow = Snapshots.read(spark, cowPath)
    assert(mor.count() === cow.count())
    assert(mor.exceptAll(cow).count() === 0L)
    assert(cow.exceptAll(mor).count() === 0L)
    // time travel: the pre-delete version reads complete
    assert(Snapshots.read(spark, morPath, Some(1L)).count() === docs.count())
    // an idempotent re-delete of the same predicate commits nothing
    assert(Snapshots.deleteWhere(spark, morPath,
      col("n_chars") < 500, mode = "mor") === v2)
  }

  test("mor deletes stack, don't resurrect under merge, and compact applies them") {
    val path = newStore
    Snapshots.commit(docs, path)
    Snapshots.deleteWhere(spark, path, col("n_chars") < 300, mode = "mor")
    // a key delete stacks on the predicate delete
    Snapshots.deleteKeys(spark, path,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
      Seq("doc_id"), mode = "mor")
    val expect = docs.filter(
      !coalesce(col("n_chars") < 300, lit(false)) &&
        col("doc_id") % 7 =!= 0)
    assert(Snapshots.read(spark, path).count() === expect.count())
    // merging an update for a DELETED key INSERTS it fresh (the dead
    // row is not live, so it cannot match) - no resurrection of the
    // old row, exactly one live row after
    val cols = docs.columns.map(col).toSeq
    val deadKey = docs.filter(col("doc_id") % 7 === 0 &&
        coalesce(col("n_chars") >= 300, lit(false))).limit(1)
      .withColumn("text", lit("revived")).select(cols: _*)
    Snapshots.merge(spark, path, deadKey, Seq("doc_id"))
    val keyVal = deadKey.select("doc_id").collect()(0).getLong(0)
    val live = Snapshots.read(spark, path)
      .filter(col("doc_id") === keyVal).collect()
    assert(live.length === 1)
    assert(live(0).getAs[String]("text") === "revived")
    // appends remain visible alongside pending deletes
    Snapshots.commitAppend(docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 900000), path)
    val nBefore = Snapshots.read(spark, path).count()
    // changes() across a mor delete refuses - rows were removed
    val e = intercept[IllegalArgumentException](
      Snapshots.changes(spark, path, 1L, 2L))
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    // compact applies the deletes physically: same rows, no #dv left,
    // and after retention the delete files are vacuumable
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    assert(Snapshots.read(spark, path).count() === nBefore)
    Snapshots.expire(spark, path, keepLast = 1)
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.read(spark, path).count() === nBefore)
  }

  test("changeFeed: merges, mor deletes and compactions emit exact row changes") {
    val path = newStore
    Snapshots.commit(docs, path) // v1
    val cols = docs.columns.map(col).toSeq
    val upd = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit("!"))).select(cols: _*)
    val ins = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("doc_id", col("doc_id") + 1000000).select(cols: _*)
    Snapshots.merge(spark, path, upd.unionByName(ins), Seq("doc_id")) // v2
    Snapshots.deleteKeys(spark, path,
      docs.filter(col("doc_id") % 10 === 7).select("doc_id"),
      Seq("doc_id"), mode = "mor") // v3
    val v4 = Snapshots.compact(spark, path) // v4: applies, rewrites
    val feed = Snapshots.changeFeed(spark, path, 1L, v4).persist()
    try {
      // v2: delete+insert pairs for updated keys, inserts for fresh
      val n0 = docs.filter(col("doc_id") % 10 === 0).count()
      assert(feed.filter(col("_commit_version") === 2 &&
        col("_change_type") === "delete").count() === n0)
      assert(feed.filter(col("_commit_version") === 2 &&
        col("_change_type") === "insert").count() ===
        n0 + docs.filter(col("doc_id") % 10 === 3).count())
      // the updated rows' new image carries the merged text
      assert(feed.filter(col("_commit_version") === 2 &&
        col("_change_type") === "insert" && col("doc_id") < 1000000 &&
        !col("text").endsWith("!")).count() === 0L)
      // v3: the mor delete's dead rows, nothing else
      assert(feed.filter(col("_commit_version") === 3 &&
        col("_change_type") === "insert").count() === 0L)
      assert(feed.filter(col("_commit_version") === 3).count() ===
        docs.filter(col("doc_id") % 10 === 7).count())
      // v4: a compaction moves bytes, not rows - ZERO changes
      assert(feed.filter(col("_commit_version") === 4).count() === 0L)
      // applying the feed to v1 reproduces v4 (sanity of the diff)
      val v1rows = Snapshots.read(spark, path, Some(1L))
      val dels = feed.filter(col("_change_type") === "delete")
        .select(cols: _*)
      val adds = feed.filter(col("_change_type") === "insert")
        .select(cols: _*)
      val replayed = v1rows.exceptAll(dels).unionByName(adds)
      val now = Snapshots.read(spark, path, Some(v4))
      assert(replayed.exceptAll(now).count() === 0L)
      assert(now.exceptAll(replayed).count() === 0L)
    } finally { feed.unpersist(); () }
    // a rename inside the range refuses loudly
    val v5 = Snapshots.renameColumn(spark, path, "n_chars", "length")
    val e = intercept[IllegalArgumentException](
      Snapshots.changeFeed(spark, path, v4, v5).count())
    assert(e.getMessage.contains("schema changed"), e.getMessage)
    // empty range is empty but typed
    val none = Snapshots.changeFeed(spark, path, v4, v4)
    assert(none.count() === 0L)
    assert(none.columns.contains("_change_type"))
  }

  test("transactional append: a replayed (appId, batchId) no-ops, markers survive other commits") {
    val path = newStore
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val v1 = Snapshots.commitAppend(even, path, txn = Some(("app", 0L)))
    val n1 = Snapshots.read(spark, path).count()
    // replay of batch 0: no new version, no new rows, no stray files
    assert(Snapshots.commitAppend(even, path,
      txn = Some(("app", 0L))) === v1)
    assert(Snapshots.versions(spark, path) === Seq(v1))
    assert(Snapshots.read(spark, path).count() === n1)
    assert(Snapshots.vacuum(spark, path, graceMs = 0L) === 0)
    // the next batch commits normally
    val v2 = Snapshots.commitAppend(odd, path, txn = Some(("app", 1L)))
    assert(v2 === v1 + 1)
    assert(Snapshots.read(spark, path).count() === docs.count())
    // markers are carried forward by OTHER commits: a compact lands
    // in between, then batch 1 replays - still a no-op
    val v3 = Snapshots.compact(spark, path)
    assert(v3 > v2)
    assert(Snapshots.commitAppend(odd, path,
      txn = Some(("app", 1L))) === v3)
    assert(Snapshots.read(spark, path).count() === docs.count())
    // a DIFFERENT appId with the same batchId is independent
    val v4 = Snapshots.commitAppend(docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 100000), path,
      txn = Some(("other", 0L)))
    assert(v4 === v3 + 1)
    assert(Snapshots.read(spark, path).count() === docs.count() + 1)
  }

  test("snapshotStream replay from a stale checkpoint converges (exactly-once appends)") {
    val staged = graft.io.Scratch.dir("graft_snapspec_txn_")
    graft.io.Scratch.stageSingleParquetFile(docs, staged, "all.parquet")
    val store = newStore
    def run(ck: String): Unit = {
      graft.streaming.Streams.snapshotStream(
        graft.streaming.Streams.fileStream(spark, staged.toString,
          graft.streaming.Streams.DocsRawSchema), store,
        checkpoint = Some(ck), txnAppId = Some("specapp"))
      ()
    }
    run(graft.io.Scratch.dir("graft_snapspec_ck1_").toString)
    val n = Snapshots.read(spark, store).count()
    assert(n === docs.count())
    // total checkpoint loss - the stale-restart extreme: the same
    // logical query re-delivers batch 0 in full; the txn marker
    // proves it already landed and the table converges
    run(graft.io.Scratch.dir("graft_snapspec_ck2_").toString)
    assert(Snapshots.read(spark, store).count() === n)
    assert(Snapshots.versions(spark, store).size === 1)
  }

  test("changes(v1, v2) reads exactly the appended delta files") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val v2 = Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 === 1), path)
    val delta = Snapshots.changes(spark, path, v1, v2)
    assert(delta.count() ===
      docs.filter(col("doc_id") % 2 === 1).count())
    assert(delta.agg(min("doc_id") % 2).collect()(0).getLong(0) === 1L)
    // same version -> empty delta, schema intact
    val none = Snapshots.changes(spark, path, v2, v2)
    assert(none.count() === 0L && none.columns.toSeq === docs.columns.toSeq)
    // an overwrite in the range refuses (added-rows is ill-defined)
    val v3 = Snapshots.commit(docs.filter(col("n_chars") > 500), path)
    val e = intercept[IllegalArgumentException](
      Snapshots.changes(spark, path, v1, v3))
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("merge upserts: matching keys replaced, fresh keys inserted, history intact") {
    val path = newStore
    val v1 = Snapshots.commit(docs, path)
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      .select(docs.columns.map(col).toSeq: _*)
    val v2 = Snapshots.merge(spark, path, updates, Seq("doc_id"))
    val got = Snapshots.read(spark, path)
    val want = docs.join(updates.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(updates)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // every updated row actually carries the new text
    assert(got.filter(col("doc_id") % 10 === 0 && col("doc_id") >= 0)
      .filter(col("text") =!= upper(col("text"))).count() === 0L)
    // the pre-merge version still reads the original rows
    assert(Snapshots.read(spark, path, Some(v1)).exceptAll(docs).count() === 0L)
    assert(v2 === v1 + 1)
  }

  test("merge rewrites only affected files; untouched files are carried by reference") {
    val path = newStore
    // two commits → two disjoint file sets (evens in c1, odds in c2)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val evenFiles = dataFiles(path).toSet
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    // updates touch only ODD keys → every even-commit file must
    // survive the merge physically untouched and still be referenced
    val updates = docs.filter(col("doc_id") % 2 === 1)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, updates, Seq("doc_id"))
    assert(evenFiles.subsetOf(dataFiles(path).toSet))
    val latest = Snapshots.read(spark, path)
    assert(latest.count() === docs.count())
    assert(latest.filter(col("doc_id") % 2 === 1)
      .filter(col("text") =!= upper(col("text"))).count() === 0L)
    // pure insert: no table file holds the key → nothing rewritten
    val before = dataFiles(path).toSet
    val insert = docs.limit(1)
      .select((-col("doc_id") - 1000000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
      .select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, insert, Seq("doc_id"))
    assert(before.subsetOf(dataFiles(path).toSet))
    assert(Snapshots.read(spark, path).count() === docs.count() + 1)
  }

  test("merge refuses duplicate update keys and mismatched columns") {
    val path = newStore
    Snapshots.commit(docs, path)
    val dup = docs.limit(1).unionByName(docs.limit(1))
    val e1 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path, dup, Seq("doc_id")))
    assert(e1.getMessage.contains("duplicate"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path, docs.drop("text"), Seq("doc_id")))
    assert(e2.getMessage.contains("columns"), e2.getMessage)
    // same names, drifted type: refuse BEFORE writing mixed-type files
    val e3 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path,
        docs.limit(1).withColumn("n_chars", col("n_chars").cast("string")),
        Seq("doc_id")))
    assert(e3.getMessage.contains("cast before mutating"), e3.getMessage)
    // a drifted KEY type would implicit-cast the equi-join: refuse
    val e4 = intercept[IllegalArgumentException](
      Snapshots.deleteKeys(spark, path,
        docs.limit(1).select(col("doc_id").cast("string").as("doc_id")),
        Seq("doc_id")))
    assert(e4.getMessage.contains("cast before mutating"), e4.getMessage)
  }

  test("deleteWhere removes TRUE rows, retains NULL rows, no-ops when nothing matches") {
    val path = newStore
    // plant a NULL-predicate row: n_chars NULL must SURVIVE the delete
    val withNull = docs.unionByName(docs.limit(1)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"), col("lang"),
        col("source"), lit(null).cast("long").as("n_chars"))
      .select(docs.columns.map(col).toSeq: _*))
    val v1 = Snapshots.commit(withNull, path)
    val v2 = Snapshots.deleteWhere(spark, path, col("n_chars") < 300)
    assert(v2 === v1 + 1)
    val got = Snapshots.read(spark, path)
    assert(got.filter(col("n_chars") < 300).count() === 0L)
    assert(got.filter(col("n_chars").isNull).count() === 1L)
    assert(got.count() ===
      withNull.filter(!coalesce(col("n_chars") < 300, lit(false))).count())
    // pre-delete version still reads everything
    assert(Snapshots.read(spark, path, Some(v1)).count() === withNull.count())
    // nothing matches → same version back, no new commit
    assert(Snapshots.deleteWhere(spark, path, col("n_chars") < -1) === v2)
    assert(Snapshots.versions(spark, path).last === v2)
  }

  test("compact bin-packs fragments, preserves rows, and no-ops when already packed") {
    val path = newStore
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    val fragments = dataFiles(path).size
    assert(fragments >= 4) // one+ file per append commit
    val v = Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    assert(v === 5L)
    // everything fits one 1 GiB file → one packed file in the manifest
    val packed = Snapshots.read(spark, path)
    assert(packed.count() === docs.count())
    assert(packed.select(input_file_name()).distinct().count() === 1L)
    // pre-compaction version still reads (history intact) ...
    assert(Snapshots.read(spark, path, Some(4L)).count() === docs.count())
    // ... and compacting a packed table is a no-op, not a new version
    assert(Snapshots.compact(spark, path, targetFileBytes = 1L << 30) === v)
    assert(Snapshots.versions(spark, path).last === v)
    // after expiry+vacuum the fragment files are reclaimed
    Snapshots.expire(spark, path, keepLast = 1)
    assert(Snapshots.vacuum(spark, path, graceMs = 0) >= fragments)
    assert(Snapshots.read(spark, path).count() === docs.count())
  }

  test("streaming upsert: first batch commits, later batches merge by key") {
    val store = newStore
    Snapshots.commit(docs, store)
    val staged = graft.io.Scratch.dir("graft_snapspec_upsert_")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", upper(col("text")))
        .select(docs.columns.map(col).toSeq: _*),
      staged, "a_updates.parquet")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", -col("doc_id") - 1)
        .select(docs.columns.map(col).toSeq: _*),
      staged, "b_inserts.parquet")
    val q = graft.streaming.Streams.snapshotUpsertStream(
      graft.streaming.Streams.fileStream(spark, staged.toString,
        graft.streaming.Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1)), store, Seq("doc_id"))
    assert(q.recentProgress.count(_.numInputRows > 0) === 2)
    // base + two merges = three committed versions
    assert(Snapshots.versions(spark, store).size === 3)
    val got = Snapshots.read(spark, store)
    val nUpd = docs.filter(col("doc_id") % 10 === 0).count()
    val nIns = docs.filter(col("doc_id") % 10 === 5).count()
    assert(got.count() === docs.count() + nIns)
    assert(got.filter(col("doc_id") % 10 === 0 && col("doc_id") >= 0 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    assert(got.filter(col("doc_id") < 0).count() === nIns)
    assert(nUpd > 0 && nIns > 0)
  }

  test("schema evolution: added column null-fills old files, each version keeps ITS schema") {
    val path = newStore
    val v1 = Snapshots.commit(
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang", "source"), path)
    // append the odd half WITH n_chars: evolution, not drift
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    val latest = Snapshots.read(spark, path)
    assert(latest.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(latest.filter(col("doc_id") % 2 === 0 &&
      col("n_chars").isNotNull).count() === 0L)
    assert(latest.filter(col("doc_id") % 2 === 1 &&
      col("n_chars").isNull).count() === 0L)
    assert(latest.count() === docs.count())
    // time travel reads v1 with v1's four-column schema
    assert(Snapshots.read(spark, path, Some(v1)).columns.toSeq ===
      Seq("doc_id", "text", "lang", "source"))
    // the reverse append (batch LACKS a column) null-fills new files
    val path2 = newStore
    Snapshots.commit(docs, path2)
    Snapshots.commitAppend(
      docs.limit(3).select((-col("doc_id") - 1).as("doc_id"), col("text"),
        col("lang"), col("source")), path2)
    val got2 = Snapshots.read(spark, path2)
    assert(got2.columns.toSeq === docs.columns.toSeq)
    assert(got2.filter(col("doc_id") < 0 && col("n_chars").isNull)
      .count() === 3L)
  }

  test("schema drift (changed type on a shared name) refuses the append loudly") {
    val path = newStore
    Snapshots.commit(docs, path)
    val drifted = docs.limit(1)
      .withColumn("n_chars", col("n_chars").cast("string"))
    val e = intercept[IllegalArgumentException](
      Snapshots.commitAppend(drifted, path))
    assert(e.getMessage.contains("type drift"), e.getMessage)
    // nothing committed: still one version
    assert(Snapshots.versions(spark, path) === Seq(1L))
  }

  test("merge after evolution rewrites pre-evolution files under the evolved schema") {
    val path = newStore
    // v1: evens, 4 columns; v2 append: odds with n_chars (evolution)
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "lang", "source"), path)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    // merge touches EVEN keys → rewrites pre-evolution files; updates
    // must carry the EVOLVED 5-column shape
    val updates = docs.filter(col("doc_id") % 2 === 0 &&
        col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, updates, Seq("doc_id"))
    val got = Snapshots.read(spark, path)
    assert(got.columns.toSeq === docs.columns.toSeq)
    // updated rows now carry their n_chars; untouched even rows from
    // the rewritten files keep the null fill
    assert(got.filter(col("doc_id") % 10 === 0 &&
      col("n_chars").isNull).count() === 0L)
    assert(got.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") % 10 =!= 0 && col("n_chars").isNotNull)
      .count() === 0L)
    assert(got.count() === docs.count())
    // a 4-column update batch against the evolved table refuses
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path,
        updates.drop("n_chars"), Seq("doc_id")))
    assert(e.getMessage.contains("columns"), e.getMessage)
  }

  test("merge discovery scans only the key columns, never the payload") {
    val path = newStore
    Snapshots.commit(docs, path)
    // merge discovers over the relation its internals open: the
    // snapshot scan over the version's files with no delete files
    val (schema, partCols, entries, _, colMap) =
      Snapshots.stateAt(spark, path, 1L)
    val table = Snapshots.readWhere(spark, path, 1L,
      state = Some((schema, partCols, entries, Nil, colMap)))
    val qe = Snapshots.affectedFilesPlan(
      table, docs.limit(10), Seq("doc_id")).queryExecution
    val plan = qe.executedPlan.toString
    // the table-side snapshot scan must prune to doc_id (+ the file
    // path); reading `text` for file discovery would scan the 100 TB
    // payload
    val tableScan = qe.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2
        .BatchScanExec => b.scan
    }.collect { case s: graft.io.SnapshotBatchScan =>
      s.readSchema().catalogString }.mkString("\n")
    assert(tableScan.contains("doc_id"), plan)
    assert(!tableScan.contains("text"), s"payload read in discovery:\n$plan")
  }

  test("clustered compaction: disjoint per-file key ranges, rows intact") {
    val path = newStore
    // 4 interleaved appends: every file spans nearly the full key range
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    // tiny byte budget → several output files, clustered on doc_id
    Snapshots.compact(spark, path, targetFileBytes = 16L << 10,
      sortBy = Seq("doc_id"))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    val ranges = got
      .select(col("doc_id"), input_file_name().as("f"))
      .groupBy("f").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, s"want several files, got ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"overlapping file ranges: ${ranges.toSeq}")
      case _ =>
    }
    // sort column must exist
    val e = intercept[IllegalArgumentException](
      Snapshots.compact(spark, path, sortBy = Seq("nope")))
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("clustered compaction of a PARTITIONED table keeps disjoint per-file ranges (no rebalance re-shuffle)") {
    val path = newStore
    // partition by lang, interleave appends so every file spans the
    // doc_id range within each lang dir
    Snapshots.commit(docs.filter(col("doc_id") % 4 === 0), path,
      partitionBy = Seq("lang"))
    (1 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    Snapshots.compact(spark, path, targetFileBytes = 8L << 10,
      sortBy = Seq("doc_id"))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    // within EVERY partition dir, file key ranges must be disjoint -
    // the writer's AQE rebalance hint used to re-shuffle on the dir
    // columns after the range partitioning and destroy this
    val perLang = got
      .select(col("lang"), col("doc_id"), input_file_name().as("f"))
      .groupBy("lang", "f")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().groupBy(_.getString(0))
    val multi = perLang.filter(_._2.length > 1)
    assert(multi.nonEmpty,
      s"want a lang with several files: ${perLang.view.mapValues(_.length).toMap}")
    multi.foreach { case (lang, rows) =>
      val ranges = rows.map(r => (r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2,
            s"$lang: overlapping file ranges ${ranges.toSeq}")
        case _ =>
      }
    }
  }

  test("deleteKeys removes by distributed key set; copy-on-write; idempotent no-op") {
    val path = newStore
    // evens and odds land in different commits → different files
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val evenFiles = dataFiles(path).toSet
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    // doomed keys: odd multiples of 5 — only odd-commit files affected
    val doomed = docs.filter(col("doc_id") % 2 === 1 &&
      col("doc_id") % 5 === 0).select("doc_id")
    val v = Snapshots.deleteKeys(spark, path, doomed, Seq("doc_id"))
    assert(evenFiles.subsetOf(dataFiles(path).toSet)) // untouched
    val got = Snapshots.read(spark, path)
    assert(got.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0)
      .count() === 0L)
    assert(got.count() === docs.count() - doomed.count())
    // a key set matching nothing → same version back
    val none = docs.limit(1).select((-col("doc_id") - 99).as("doc_id"))
    assert(Snapshots.deleteKeys(spark, path, none, Seq("doc_id")) === v)
  }

  test("CDC stream with deleteMode=eq: delete batches rewrite zero data files") {
    val store = newStore
    Snapshots.commit(docs, store)
    val staged = graft.io.Scratch.dir("graft_snapspec_cdceq_")
    val up = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("u"))
    val del = docs.filter(col("doc_id") % 10 === 7)
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("d"))
    graft.io.Scratch.stageSingleParquetFile(up, staged, "a.parquet")
    graft.io.Scratch.stageSingleParquetFile(del, staged, "b.parquet")
    val cdcSchema = org.apache.spark.sql.types.StructType(
      graft.streaming.Streams.DocsRawSchema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    graft.streaming.Streams.snapshotCdcStream(
      graft.streaming.Streams.fileStream(spark, staged.toString,
        cdcSchema, maxFilesPerTrigger = Some(1)), store, Seq("doc_id"),
      deleteMode = "eq")
    // same converged table as the copy-on-write CDC sink...
    val got = Snapshots.read(spark, store)
    assert(got.filter(col("doc_id") % 10 === 7).count() === 0L)
    assert(got.filter(col("doc_id") % 10 === 0 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    assert(got.count() ===
      docs.count() - docs.filter(col("doc_id") % 10 === 7).count())
    // ...but the delete commit touched NO data entries: it is the
    // newest version, carries an eq marker, and its entry list is
    // byte-identical to the merge commit before it
    val vLast = Snapshots.latestVersion(spark, store).get
    val (_, _, entriesDel, dvsDel, _) =
      Snapshots.stateAt(spark, store, vLast)
    val (_, _, entriesMerge, dvsMerge, _) =
      Snapshots.stateAt(spark, store, vLast - 1L)
    assert(dvsMerge.isEmpty && dvsDel.nonEmpty &&
      dvsDel.forall(_.startsWith("eq:")))
    assert(entriesDel === entriesMerge)
    // and a compact later applies the kill physically
    Snapshots.compact(spark, store, targetFileBytes = 1L << 30)
    val (_, _, _, dvsC, _) = Snapshots.stateAt(spark, store,
      Snapshots.latestVersion(spark, store).get)
    assert(dvsC.isEmpty)
    assert(Snapshots.read(spark, store).count() === got.count())
  }

  test("CDC stream routes upserts to merge and deletes to deleteKeys; clash refuses") {
    val store = newStore
    Snapshots.commit(docs, store)
    val staged = graft.io.Scratch.dir("graft_snapspec_cdc_")
    val up = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("u"))
    val del = docs.filter(col("doc_id") % 10 === 7)
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("d"))
    graft.io.Scratch.stageSingleParquetFile(up, staged, "a.parquet")
    graft.io.Scratch.stageSingleParquetFile(del, staged, "b.parquet")
    val cdcSchema = org.apache.spark.sql.types.StructType(
      graft.streaming.Streams.DocsRawSchema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    graft.streaming.Streams.snapshotCdcStream(
      graft.streaming.Streams.fileStream(spark, staged.toString,
        cdcSchema, maxFilesPerTrigger = Some(1)), store, Seq("doc_id"))
    val got = Snapshots.read(spark, store)
    assert(got.filter(col("doc_id") % 10 === 7).count() === 0L)
    assert(got.filter(col("doc_id") % 10 === 0 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    assert(got.count() ===
      docs.count() - docs.filter(col("doc_id") % 10 === 7).count())
    // same key under upsert AND delete in ONE batch refuses loudly
    val clashStore = newStore
    Snapshots.commit(docs, clashStore)
    val clashStaged = graft.io.Scratch.dir("graft_snapspec_cdc_clash_")
    graft.io.Scratch.stageSingleParquetFile(
      up.limit(1).unionByName(
        up.limit(1).withColumn("op", lit("d"))),
      clashStaged, "clash.parquet")
    val e = intercept[Exception] {
      graft.streaming.Streams.snapshotCdcStream(
        graft.streaming.Streams.fileStream(spark, clashStaged.toString,
          cdcSchema, maxFilesPerTrigger = Some(1)),
        clashStore, Seq("doc_id"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("compact the feed")),
      e.toString)
    // unknown op code refuses too
    val badStore = newStore
    Snapshots.commit(docs, badStore)
    val badStaged = graft.io.Scratch.dir("graft_snapspec_cdc_bad_")
    graft.io.Scratch.stageSingleParquetFile(
      up.limit(1).withColumn("op", lit("zap")), badStaged, "bad.parquet")
    val e2 = intercept[Exception] {
      graft.streaming.Streams.snapshotCdcStream(
        graft.streaming.Streams.fileStream(spark, badStaged.toString,
          cdcSchema, maxFilesPerTrigger = Some(1)),
        badStore, Seq("doc_id"))
    }
    assert(causes(e2).exists(c =>
      c.getMessage != null && c.getMessage.contains("unknown op")),
      e2.toString)
    // a NULL op is unknown too — it must refuse, never silently drop
    val nullStore = newStore
    Snapshots.commit(docs, nullStore)
    val nullStaged = graft.io.Scratch.dir("graft_snapspec_cdc_null_")
    graft.io.Scratch.stageSingleParquetFile(
      up.limit(1).withColumn("op", lit(null).cast("string")),
      nullStaged, "null.parquet")
    val e3 = intercept[Exception] {
      graft.streaming.Streams.snapshotCdcStream(
        graft.streaming.Streams.fileStream(spark, nullStaged.toString,
          cdcSchema, maxFilesPerTrigger = Some(1)),
        nullStore, Seq("doc_id"))
    }
    assert(causes(e3).exists(c =>
      c.getMessage != null && c.getMessage.contains("unknown op")),
      e3.toString)
  }

  test("a copy-on-write CDC batch of upserts, inserts and deletes lands as one version") {
    val store = newStore
    Snapshots.commit(docs, store)
    val cols = docs.columns.map(col).toSeq
    val up = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text"))).select(cols: _*)
    val ins = docs.filter(col("doc_id") % 10 === 5)
      .withColumn("doc_id", -col("doc_id") - 1).select(cols: _*)
    val del = docs.filter(col("doc_id") % 10 === 7).select(cols: _*)
    val twice = del.limit(1)
    val staged = graft.io.Scratch.dir("graft_snapspec_cdc_one_")
    graft.io.Scratch.stageSingleParquetFile(
      up.withColumn("op", lit("u"))
        .unionByName(ins.withColumn("op", lit("c")))
        .unionByName(del.withColumn("op", lit("d")))
        .unionByName(twice.withColumn("op", lit("delete"))),
      staged, "batch.parquet")
    val cdcSchema = org.apache.spark.sql.types.StructType(
      graft.streaming.Streams.DocsRawSchema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    graft.streaming.Streams.snapshotCdcStream(
      graft.streaming.Streams.fileStream(spark, staged.toString,
        cdcSchema), store, Seq("doc_id"))
    assert(Snapshots.versions(spark, store) === Seq(1L, 2L))
    assert(Snapshots.history(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ===
      Map(1L -> "overwrite", 2L -> "merge"))
    val want = docs.join(up.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(del.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(up).unionByName(ins)
    val got = Snapshots.read(spark, store)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
  }

  test("manifest stats skip files a range scan cannot need; no-stats columns never prune") {
    val path = newStore
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    Snapshots.compact(spark, path, targetFileBytes = 16L << 10,
      sortBy = Seq("doc_id"))
    val (kept, total) = plannedBetween(path, "doc_id",
      10, 30)
    assert(total > 1, s"want a multi-file table, got $total")
    assert(kept.size < total,
      s"clustered range scan must skip files: kept ${kept.size}/$total")
    // exactness incl. boundary-straddling files
    val got = Snapshots.readBetween(spark, path, "doc_id", 10, 30)
    val want = docs.filter(col("doc_id").between(10, 30))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0L)
    // an empty range reads nothing but keeps the schema
    val none = Snapshots.readBetween(spark, path, "doc_id", -50, -40)
    assert(none.count() === 0L)
    assert(none.columns.toSeq === docs.columns.toSeq)
    // a STRING column carries no stats — pruning keeps every file
    val (keptS, totalS) = plannedBetween(path, "lang", 0, 1)
    assert(keptS.size === totalS)
    // a double column containing NaN: stats must be dropped for that
    // file so it can never be WRONGLY pruned (NaN compares false
    // against every range)
    import spark.implicits._
    val nanPath = newStore
    Snapshots.commit(Seq((1L, 1.0), (2L, Double.NaN), (3L, 9.0))
      .toDF("id", "v").coalesce(1), nanPath)
    val (keptN, totalN) = plannedBetween(nanPath, "v",
      100, 200)
    assert(keptN.size === totalN,
      "NaN-bearing stats must keep the file, not prune it")
    assert(Snapshots.readBetween(spark, nanPath, "v", 0, 2).count() === 1L)
    // the id column's stats are unaffected by its neighbor's NaN
    val (keptI, _) = plannedBetween(nanPath, "id", 100, 200)
    assert(keptI.isEmpty, "clean long stats still prune")
    // unknown column refuses
    val e = intercept[IllegalArgumentException](
      Snapshots.readBetween(spark, path, "nope", 0, 1))
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("model-based random walk: 55 mixed ops (mor/eq deletes, txn replays, staging, props) track a reference exactly") {
    runModelWalk(seed = 7)
  }

  test("model-based random walk under one-entry shards: commits of two or more files are v4 manifests") {
    // a shard size of 1 makes every manifest of two or more entries
    // v4, so the walk's appends (tail-shard reuse), rewrites
    // (re-chunk) and rollbacks (verbatim republish) run on sharded
    // manifests against the same reference model; only commits left
    // with one file (a full compaction) stay inline v3
    Snapshots.shardSizeOverride = Some(1)
    val path =
      try runModelWalk(seed = 11)
      finally Snapshots.shardSizeOverride = None
    val headers = Snapshots.versions(spark, path)
      .map(v => manifestLinesOf(path, v).head)
    val v4 = headers.count(_ == "graft-snapshot-v4")
    info(s"$v4 of ${headers.size} manifests are v4")
    assert(v4 * 2 > headers.size, headers.groupBy(identity).map {
      case (h, hs) => s"$h: ${hs.size}" }.mkString(", "))
    // history's encoding column names each version's manifest shape
    val enc = Snapshots.history(spark, path).orderBy("version")
      .select("encoding").collect().map(_.getString(0)).toSeq
    assert(enc === headers.map(h =>
      if (h == "graft-snapshot-v4") "sharded" else "full"))
  }

  /** Runs the walk and returns its store's path. */
  private def runModelWalk(seed: Int): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed) // seeded: failures reproduce
    val path = newStore
    def df(m: Map[Long, Long]) =
      m.toSeq.sortBy(_._1).toDF("doc_id", "payload")
    def freshIds(n: Int, taken: Set[Long]): Seq[Long] =
      Iterator.from(0).map(_ => rnd.nextLong().abs % 1000)
        .filterNot(taken).distinct.take(n).toSeq
    var model = (0L until 20L).map(i => i -> i * 10).toMap
    Snapshots.commit(df(model), path)
    // committed history for time-travel checks: version -> model state
    var history = Map(1L -> model)
    var txnBatch = 0L
    for (step <- 1 to 55) {
      val op = rnd.nextInt(12)
      op match {
        case 0 => // overwrite commit with a random subset
          model = model.filter(_ => rnd.nextBoolean())
          if (model.isEmpty) model = Map(9999L -> 0L)
          history += Snapshots.commit(df(model), path) -> model
        case 1 => // append fresh ids
          val add = freshIds(1 + rnd.nextInt(4), model.keySet)
            .map(id => id -> id).toMap
          model ++= add
          history += Snapshots.commitAppend(df(add), path) -> model
        case 2 => // merge: update half the survivors + insert fresh
          val upd = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean())
            .map(id => id -> (model(id) + 1000)).toMap
          val ins = freshIds(rnd.nextInt(3), model.keySet)
            .map(id => id -> -id).toMap
          val batch = upd ++ ins
          if (batch.nonEmpty) {
            model ++= batch
            history += Snapshots.merge(spark, path, df(batch),
              Seq("doc_id")) -> model
          }
        case 3 => // predicate delete
          val r = rnd.nextInt(7)
          val survivors = model.filterNot(_._2 % 7 == r)
          val v = Snapshots.deleteWhere(spark, path,
            col("payload") % 7 === r)
          if (survivors.size != model.size) {
            model = survivors; history += v -> model
          }
        case 4 => // key delete
          val doomed = model.keys.toSeq.sorted.filter(_ => rnd.nextInt(4) == 0)
          val v = Snapshots.deleteKeys(spark, path,
            doomed.toDF("doc_id"), Seq("doc_id"))
          if (doomed.nonEmpty) {
            model --= doomed; history += v -> model
          }
        case 5 => // rollback to a random committed version, or compact
          if (rnd.nextBoolean() && history.size > 1) {
            val target = history.keys.toSeq.sorted
              .apply(rnd.nextInt(history.size))
            model = history(target)
            history += Snapshots.rollback(spark, path, target) -> model
          } else {
            val v = Snapshots.compact(spark, path,
              targetFileBytes = 1L << 30)
            history += v -> model // same rows whether or not it packed
          }
        case 6 => // merge-on-read predicate delete
          val r = rnd.nextInt(7)
          val survivors = model.filterNot(_._2 % 7 == r)
          val v = Snapshots.deleteWhere(spark, path,
            col("payload") % 7 === r, mode = "mor")
          if (survivors.size != model.size) {
            model = survivors; history += v -> model
          }
        case 7 => // merge-on-read key delete
          val doomed = model.keys.toSeq.sorted.filter(_ => rnd.nextInt(4) == 0)
          val v = Snapshots.deleteKeys(spark, path,
            doomed.toDF("doc_id"), Seq("doc_id"), mode = "mor")
          if (doomed.nonEmpty) {
            model --= doomed; history += v -> model
          }
        case 8 => // transactional append, DELIVERED TWICE (replay)
          val add = freshIds(1 + rnd.nextInt(3), model.keySet)
            .map(id => id -> id).toMap
          model ++= add
          val v1 = Snapshots.commitAppend(df(add), path,
            txn = Some(("walk", txnBatch)))
          val v2 = Snapshots.commitAppend(df(add), path,
            txn = Some(("walk", txnBatch)))
          assert(v2 === v1, s"replayed txn batch $txnBatch committed twice")
          txnBatch += 1
          history += v1 -> model
        case 9 => // EQUALITY delete (zero-scan key file)
          val doomed = model.keys.toSeq.sorted
            .filter(_ => rnd.nextInt(4) == 0)
          if (doomed.nonEmpty) {
            val v = Snapshots.deleteKeysEq(spark, path,
              doomed.toDF("doc_id"), Seq("doc_id"))
            model --= doomed; history += v -> model
          }
        case 10 => // table properties toggle (bloom writes included)
          val v =
            if (rnd.nextBoolean())
              Snapshots.setProperties(spark, path,
                Map("write.bloom.columns" -> "doc_id",
                  "walk.step" -> step.toString))
            else {
              val cur = Snapshots.properties(spark, path)
              if (cur.isEmpty) Snapshots.setProperties(spark, path,
                Map("walk.step" -> step.toString))
              else Snapshots.unsetProperties(spark, path,
                Seq(cur.keys.toSeq.sorted.head))
            }
          history += v -> model
        case 11 => // write-audit-publish: stage, audit, publish or drop
          val add = freshIds(1 + rnd.nextInt(3), model.keySet)
            .map(id => id -> id).toMap
          val wid = s"walk-$step"
          Snapshots.stageAppend(df(add), path, wid)
          val mid = Snapshots.read(spark, path)
            .select("doc_id", "payload").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(mid === model, s"step $step: staging leaked")
          if (rnd.nextBoolean()) {
            model ++= add
            history += Snapshots.publishStaged(spark, path, wid) -> model
          } else Snapshots.dropStaged(spark, path, wid)
      }
      // latest must equal the model after EVERY op
      val got = Snapshots.read(spark, path)
        .select("doc_id", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === model, s"step $step diverged (op $op)")
      // and a random committed version must still read as it did then
      val (v, m) = history.toSeq.sortBy(_._1)
        .apply(rnd.nextInt(history.size))
      val tt = Snapshots.read(spark, path, Some(v))
        .select("doc_id", "payload").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(tt === m, s"step $step: version $v no longer time-travels")
    }
    // change-feed telescoping over the WHOLE walk (rollbacks, mor
    // deletes, compactions, replays): v1 + all inserts - all deletes
    // must reproduce the final table as a multiset
    val latest = Snapshots.latestVersion(spark, path).get
    val feed = Snapshots.changeFeed(spark, path, 1L, latest).persist()
    try {
      val cols = Seq(col("doc_id"), col("payload"))
      val replayed = Snapshots.read(spark, path, Some(1L))
        .select(cols: _*)
        .unionByName(feed.filter(col("_change_type") === "insert")
          .select(cols: _*))
        .exceptAll(feed.filter(col("_change_type") === "delete")
          .select(cols: _*))
      val now = Snapshots.read(spark, path).select(cols: _*)
      assert(replayed.exceptAll(now).count() === 0L, "feed over-replays")
      assert(now.exceptAll(replayed).count() === 0L, "feed under-replays")
    } finally { feed.unpersist(); () }
    path
  }

  test("tags pin versions through retention; retag refuses; drop releases") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    assert(Snapshots.tag(spark, path, "train-v1") === v1)
    Snapshots.commit(docs, path)
    Snapshots.commit(docs.filter(col("n_chars") > 500), path)
    // retention keeps the latest AND the tagged snapshot
    Snapshots.expire(spark, path, keepLast = 1)
    Snapshots.vacuum(spark, path, graceMs = 0)
    assert(Snapshots.readTag(spark, path, "train-v1").count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(Snapshots.tags(spark, path) === Map("train-v1" -> v1))
    // a tag is a permanent record: retag refuses, drop is explicit
    val e = intercept[IllegalArgumentException](
      Snapshots.tag(spark, path, "train-v1"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(Snapshots.dropTag(spark, path, "train-v1"))
    // released: the next retention pass may reclaim it
    Snapshots.expire(spark, path, keepLast = 1)
    Snapshots.vacuum(spark, path, graceMs = 0)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.readTag(spark, path, "train-v1"))
    assert(e2.getMessage.contains("no tag"), e2.getMessage)
    // unknown version and bad names refuse
    val e3 = intercept[IllegalArgumentException](
      Snapshots.tag(spark, path, "x", Some(99L)))
    assert(e3.getMessage.contains("99"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      Snapshots.tag(spark, path, "bad/name"))
    assert(e4.getMessage.contains("tag name"), e4.getMessage)
  }

  test("a replayed merge batch is idempotent (the at-least-once sink contract)") {
    // foreachBatch sinks are at-least-once: a crash between the store
    // commit and the checkpoint commit replays the batch. The upsert
    // sink's scaladoc claims replay safety BY MERGE SEMANTICS — same
    // keys, same rows, same table — so applying the identical batch
    // twice must leave the rows exactly as after the first apply
    // (one more version in history, which is the honest record).
    val path = newStore
    Snapshots.commit(docs, path)
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    val v1 = Snapshots.merge(spark, path, updates, Seq("doc_id"))
    val first = Snapshots.read(spark, path).collect().toSet
    val v2 = Snapshots.merge(spark, path, updates, Seq("doc_id"))
    assert(v2 === v1 + 1)
    assert(Snapshots.read(spark, path).collect().toSet === first)
    // deleteKeys replay: second apply is the documented no-op
    val doomed = docs.filter(col("doc_id") % 10 === 7).select("doc_id")
    val v3 = Snapshots.deleteKeys(spark, path, doomed, Seq("doc_id"))
    assert(Snapshots.deleteKeys(spark, path, doomed, Seq("doc_id")) === v3)
  }

  test("mergeUpdate: named columns only, matched-condition, unmatched insert") {
    val path = newStore
    Snapshots.commit(docs, path)
    // update ONLY text (n_chars/lang/source must survive), and only
    // where the TARGET row's n_chars >= 300
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"))
    Snapshots.mergeUpdate(spark, path, updates, Seq("doc_id"),
      Seq("text"), condition = Some(col("n_chars") >= 300))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    val want = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0 && col("n_chars") >= 300,
        upper(col("text"))).otherwise(col("text")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // unmatched keys are IGNORED without insertUnmatched ...
    val strays = docs.limit(2)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"))
    val v = Snapshots.mergeUpdate(spark, path, strays, Seq("doc_id"),
      Seq("text"))
    assert(Snapshots.read(spark, path).count() === docs.count())
    // (and matching nothing at all commits nothing)
    assert(Snapshots.mergeUpdate(spark, path, strays, Seq("doc_id"),
      Seq("text")) === v)
    // ... and INSERT with NULL-filled unset columns when asked
    Snapshots.mergeUpdate(spark, path, strays, Seq("doc_id"),
      Seq("text"), insertUnmatched = true)
    val after = Snapshots.read(spark, path)
    assert(after.count() === docs.count() + 2)
    assert(after.filter(col("doc_id") < 0 && col("lang").isNull &&
      col("n_chars").isNull).count() === 2L)
  }

  test("mergeUpdate refuses extra columns, key-as-set, dup and NULL keys") {
    val path = newStore
    Snapshots.commit(docs, path)
    val e1 = intercept[IllegalArgumentException](
      Snapshots.mergeUpdate(spark, path,
        docs.select("doc_id", "text", "lang"), Seq("doc_id"), Seq("text")))
    assert(e1.getMessage.contains("neither key nor set"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.mergeUpdate(spark, path, docs.select("doc_id"),
        Seq("doc_id"), Seq("doc_id")))
    assert(e2.getMessage.contains("both key and set"), e2.getMessage)
    val dup = docs.limit(1).select("doc_id", "text")
    val e3 = intercept[IllegalArgumentException](
      Snapshots.mergeUpdate(spark, path, dup.unionByName(dup),
        Seq("doc_id"), Seq("text")))
    assert(e3.getMessage.contains("duplicate"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      Snapshots.mergeUpdate(spark, path,
        docs.limit(1).select(lit(null).cast("long").as("doc_id"),
          col("text")), Seq("doc_id"), Seq("text")))
    assert(e4.getMessage.contains("NULL"), e4.getMessage)
    // type drift on a set column refuses before any write
    val e5 = intercept[IllegalArgumentException](
      Snapshots.mergeUpdate(spark, path,
        docs.limit(1).select(col("doc_id"),
          col("n_chars").cast("string").as("n_chars")),
        Seq("doc_id"), Seq("n_chars")))
    assert(e5.getMessage.contains("cast before mutating"), e5.getMessage)
    assert(Snapshots.versions(spark, path) === Seq(1L))
  }

  test("mergeUpdate rewrites only files holding a matched key") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val evenFiles = dataFiles(path).toSet
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    val updates = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), upper(col("text")).as("text"))
    Snapshots.mergeUpdate(spark, path, updates, Seq("doc_id"), Seq("text"))
    assert(evenFiles.subsetOf(dataFiles(path).toSet))
    val got = Snapshots.read(spark, path)
    assert(got.filter(col("doc_id") % 2 === 1 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    assert(got.filter(col("doc_id") % 2 === 0 && col("n_chars").isNull)
      .count() === 0L)
  }

  test("partitioned store: Hive layout, manifest-level partition pruning") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    // files live under bucket=N dirs and read back complete
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    assert(got.columns.contains("bucket"))
    assert(got.filter(col("bucket") =!= col("doc_id") % 4).count() === 0L)
    // a one-partition range scan keeps ONLY that partition's files -
    // proved from the manifest alone, no footer logic involved
    val (kept, total) = plannedBetween(path, "bucket", 2, 2)
    assert(total >= 4, s"want >=4 partition files, got $total")
    assert(kept.nonEmpty && kept.size < total,
      s"partition prune kept ${kept.size}/$total")
    assert(kept.forall(_.contains("bucket=2")), kept.mkString("\n"))
    val one = Snapshots.readBetween(spark, path, "bucket", 2, 2)
    assert(one.count() === docs.filter(col("doc_id") % 4 === 2).count())
    // appends inherit the partition spec
    val extra = docs.limit(3)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .withColumn("bucket", lit(7L))
    Snapshots.commitAppend(extra, path)
    assert(Snapshots.read(spark, path).count() === docs.count() + 3)
    val (kept7, _) = plannedBetween(path, "bucket", 7, 7)
    assert(kept7.nonEmpty && kept7.forall(_.contains("bucket=7")))
  }

  test("partitioned store: merge, deleteKeys and compact keep the layout") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    val updates = parted.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(parted.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, updates, Seq("doc_id"))
    val afterMerge = Snapshots.read(spark, path)
    assert(afterMerge.count() === docs.count())
    assert(afterMerge.filter(col("doc_id") % 10 === 0 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    // rewritten files still carry Hive partition dirs (pruning works)
    val (kept, total) = plannedBetween(path, "bucket", 1, 1)
    assert(kept.size < total && kept.forall(_.contains("bucket=1")))
    Snapshots.deleteKeys(spark, path,
      parted.filter(col("doc_id") % 10 === 3).select("doc_id"),
      Seq("doc_id"))
    assert(Snapshots.read(spark, path).count() ===
      docs.count() - docs.filter(col("doc_id") % 10 === 3).count())
    // compaction keeps partition dirs and rows
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    val compacted = Snapshots.read(spark, path)
    assert(compacted.count() ===
      docs.count() - docs.filter(col("doc_id") % 10 === 3).count())
    val (keptC, totalC) = plannedBetween(path, "bucket", 0, 0)
    assert(keptC.size < totalC && keptC.forall(_.contains("bucket=0")))
  }

  test("vacuum grace protects an in-flight commit's files; readAsOf picks by commit time") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") < 100), path)
    // an "in-flight commit": data files written, manifest not yet
    // published. The DEFAULT vacuum must leave them alone (the OCC
    // race a blind unreferenced sweep would create); graceMs = 0 is
    // the explicit no-writers spelling that collects them
    docs.filter(col("doc_id") >= 100).write
      .parquet(s"$path/data/c-inflight")
    assert(Snapshots.vacuum(spark, path) === 0,
      "grace must protect young unreferenced files")
    assert(new java.io.File(s"$path/data/c-inflight").exists())
    assert(Snapshots.vacuum(spark, path, graceMs = 0) > 0)
    assert(!new java.io.File(s"$path/data/c-inflight").exists())
    // timestamp time travel: v1's and v2's manifest mtimes are pushed
    // apart artificially, then readAsOf between them pins v1
    val v2 = Snapshots.commit(docs, path)
    val m1 = java.nio.file.Paths.get(
      s"$path/_manifests/v000000001.manifest")
    val m2 = java.nio.file.Paths.get(
      f"$path/_manifests/v$v2%09d.manifest")
    val t1 = 1700000000000L
    val t2 = 1700000200000L
    java.nio.file.Files.setLastModifiedTime(m1,
      java.nio.file.attribute.FileTime.fromMillis(t1))
    java.nio.file.Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(t2))
    assert(Snapshots.versionAsOf(spark, path, t1 + 100000) === 1L)
    assert(Snapshots.readAsOf(spark, path, t1 + 100000).count() ===
      docs.filter(col("doc_id") < 100).count())
    assert(Snapshots.versionAsOf(spark, path, t2) === v2)
    val e = intercept[IllegalArgumentException](
      Snapshots.versionAsOf(spark, path, t1 - 100000))
    assert(e.getMessage.contains("no version"), e.getMessage)
  }

  test("streaming source: full first batch, O(delta) increments, checkpointed resume, loud overwrite refusal") {
    import org.apache.spark.sql.streaming.Trigger
    val store = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), store)
    val ckpt = Files.createTempDirectory("graft_snapsrc_ckpt").toString
    val batchCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val q = graft.streaming.Streams.snapshotSource(spark, store)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          if (n > 0) batchCounts += n
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: the initial batch is the full snapshot at latest
    runOnce()
    val even = docs.filter(col("doc_id") % 2 === 0).count()
    val odd = docs.filter(col("doc_id") % 2 === 1).count()
    assert(batchCounts.toSeq === Seq(even), batchCounts.toSeq.toString)
    // run 2 (same checkpoint): only the appended delta arrives
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), store)
    runOnce()
    assert(batchCounts.toSeq === Seq(even, odd), batchCounts.toSeq.toString)
    // run 3: nothing new arrived - no non-empty batch
    runOnce()
    assert(batchCounts.toSeq === Seq(even, odd), batchCounts.toSeq.toString)
    // an overwrite between polls makes the range non-append-only: the
    // stream must FAIL loudly, never silently skip
    Snapshots.commit(docs.filter(col("n_chars") > 500), store)
    val e = intercept[Exception](runOnce())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("append-only")), e.toString)
  }

  test("streaming source over a PARTITIONED store carries partition values") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val store = newStore
    Snapshots.commit(docs.withColumn("bucket", col("doc_id") % 4), store,
      partitionBy = Seq("bucket"))
    val got = graft.streaming.Streams.runToTable(
      graft.streaming.Streams.snapshotSource(spark, store),
      "snapsrc_parted", OutputMode.Append())
    assert(got.count() === docs.count())
    assert(got.filter(col("bucket") =!= col("doc_id") % 4).count() === 0L)
  }

  test("""format("graft-snapshot"): batch reads with version/tag/timestamp travel""") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.tag(spark, path, "base")
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    val even = docs.filter(col("doc_id") % 2 === 0).count()
    // shortName resolves via META-INF/services registration
    assert(spark.read.format("graft-snapshot").load(path).count() ===
      docs.count())
    assert(spark.read.format("graft-snapshot")
      .option("version", v1).load(path).count() === even)
    assert(spark.read.format("graft-snapshot")
      .option("tag", "base").load(path).count() === even)
    val e = intercept[Exception](spark.read.format("graft-snapshot")
      .option("tag", "nope").load(path).count())
    assert(e.getMessage.contains("no tag"), e.getMessage)
    // streaming through the same short name
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val got = graft.streaming.Streams.runToTable(
      spark.readStream.format("graft-snapshot").option("path", path).load(),
      "snapsrc_short", OutputMode.Append())
    assert(got.count() === docs.count())
  }

  test("z-order compaction: 2-D layout prunes selective scans on either dimension") {
    val path = newStore
    // interleaved appends: every file spans both key ranges
    val keyed = docs.select(col("doc_id"),
      (col("doc_id") * 37 % 1000).as("k2"), col("text"))
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(keyed.filter(col("doc_id") % 4 === q), path))
    Snapshots.compact(spark, path, targetFileBytes = 8L << 10,
      zorderBy = Seq("doc_id", "k2"))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    assert(got.columns.toSeq === Seq("doc_id", "k2", "text"))
    // a selective range on EACH dimension must skip files
    val (k1, t1) = plannedBetween(path, "doc_id", 0, 40)
    assert(t1 > 2, s"want a multi-file table, got $t1")
    assert(k1.size < t1, s"doc_id prune kept ${k1.size}/$t1")
    val (k2, t2) = plannedBetween(path, "k2", 0, 40)
    assert(k2.size < t2, s"k2 prune kept ${k2.size}/$t2")
    // exactness survives the re-layout
    val want = keyed.filter(col("doc_id").between(100, 199))
    val scan = Snapshots.readBetween(spark, path, "doc_id", 100, 199)
    assert(scan.count() === want.count())
    assert(scan.exceptAll(want).count() === 0L)
    // guards: both cluster modes at once, wrong arity, unknown column
    val e1 = intercept[IllegalArgumentException](Snapshots.compact(
      spark, path, sortBy = Seq("doc_id"), zorderBy = Seq("doc_id", "k2")))
    assert(e1.getMessage.contains("ONE of"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.compact(spark, path, zorderBy = Seq("doc_id")))
    assert(e2.getMessage.contains("two to four"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Snapshots.compact(spark, path, zorderBy = Seq("doc_id", "nope")))
    assert(e3.getMessage.contains("nope"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](Snapshots.compact(
      spark, path, zorderBy = Seq("doc_id", "k2", "doc_id", "k2",
        "doc_id")))
    assert(e4.getMessage.contains("two to four"), e4.getMessage)
  }

  test("z-order compaction: 3-D layout prunes selective scans on every dimension") {
    val path = newStore
    // three mutually-scrambled keys: a file clustered on any ONE of
    // them would span the other two's full ranges
    val keyed = docs.select(col("doc_id"),
      (col("doc_id") * 37 % 1000).as("k2"),
      (col("doc_id") * 101 % 1000).as("k3"), col("text"))
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(keyed.filter(col("doc_id") % 4 === q), path))
    Snapshots.compact(spark, path, targetFileBytes = 8L << 10,
      zorderBy = Seq("doc_id", "k2", "k3"))
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    Seq("doc_id", "k2", "k3").foreach { c =>
      val (kept, total) = plannedBetween(path, c, 0, 40)
      assert(total > 2, s"want a multi-file table, got $total")
      assert(kept.size < total, s"$c prune kept ${kept.size}/$total")
    }
    // exactness survives the re-layout on a non-leading dimension
    val want = keyed.filter(col("k3").between(100, 199))
    val scan = Snapshots.readBetween(spark, path, "k3", 100, 199)
    assert(scan.count() === want.count())
    assert(scan.exceptAll(want).count() === 0L)
  }

  test("z-order compaction: 4-D key stays non-negative (no sign-bit split) and prunes") {
    val path = newStore
    // enough rows that ~30 files give each dimension >1 interleaved
    // prefix bit (9 doc files would leave <1 bit/dim in 4-D — no
    // pruning guarantee exists at that granularity)
    val keyed = spark.range(0L, 8000L).toDF("doc_id").select(
      col("doc_id"),
      (col("doc_id") * 37 % 1000).as("k2"),
      (col("doc_id") * 101 % 1000).as("k3"),
      (col("doc_id") * 211 % 1000).as("k4"),
      org.apache.spark.sql.functions.expr(
        "repeat('t', 40)").as("text"))
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(keyed.filter(col("doc_id") % 4 === q), path))
    // the 4th dimension's top bit would land on long bit 63 at 16
    // bits/dim: verify the key itself never goes negative (a signed
    // key would sort half the space before the other half)
    val mm = keyed.agg(
      org.apache.spark.sql.functions.min(col("doc_id")),
      org.apache.spark.sql.functions.max(col("doc_id")),
      org.apache.spark.sql.functions.min(col("k2")),
      org.apache.spark.sql.functions.max(col("k2")),
      org.apache.spark.sql.functions.min(col("k3")),
      org.apache.spark.sql.functions.max(col("k3")),
      org.apache.spark.sql.functions.min(col("k4")),
      org.apache.spark.sql.functions.max(col("k4"))).head()
    val z = keyed.select(graft.io.Sinks.zOrderKeyN(
      Seq(col("doc_id"), col("k2"), col("k3"), col("k4")),
      Seq(lit(mm.getLong(0)), lit(mm.getLong(2)), lit(mm.getLong(4)),
        lit(mm.getLong(6))),
      Seq(lit(mm.getLong(1)), lit(mm.getLong(3)), lit(mm.getLong(5)),
        lit(mm.getLong(7)))).as("z"))
    assert(z.filter(col("z") < 0L).count() === 0L,
      "4-D z-keys must never be negative")
    Snapshots.compact(spark, path, targetFileBytes = 8L << 10,
      zorderBy = Seq("doc_id", "k2", "k3", "k4"))
    assert(Snapshots.read(spark, path).count() === 8000L)
    Seq("doc_id", "k2", "k3", "k4").foreach { c =>
      val (kept, total) = plannedBetween(path, c, 0, 30)
      assert(total > 2, s"want a multi-file table, got $total")
      assert(kept.size < total, s"$c prune kept ${kept.size}/$total")
    }
  }

  test("replacePartitions: atomic single-partition rerun, untouched partitions carried") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    val before = dataFiles(path)
    val untouched = before.filterNot(_.contains("bucket=2")).toSet
    // corrected rerun of bucket 2: text upper-cased
    val rerun = parted.filter(col("bucket") === 2)
      .withColumn("text", upper(col("text")))
      .select(parted.columns.map(col).toSeq: _*)
    val v2 = Snapshots.replacePartitions(rerun, path)
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count())
    assert(got.filter(col("bucket") === 2 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    assert(got.filter(col("bucket") =!= 2 &&
      col("text") === upper(col("text")) &&
      lower(col("text")) =!= upper(col("text"))).count() === 0L)
    // untouched partitions' files survive BY REFERENCE
    assert(untouched.subsetOf(dataFiles(path).toSet))
    // pre-replace version still time-travels to the original
    assert(Snapshots.read(spark, path, Some(v2 - 1))
      .filter(col("bucket") === 2 &&
        col("text") === upper(col("text")) &&
        lower(col("text")) =!= upper(col("text"))).count() === 0L)
    // a REPLAYED rerun converges (idempotent): same rows again
    Snapshots.replacePartitions(rerun, path)
    val again = Snapshots.read(spark, path)
    assert(again.count() === docs.count())
    assert(again.exceptAll(got).count() === 0L)
    // an unpartitioned table refuses
    val flat = newStore
    Snapshots.commit(docs, flat)
    val e = intercept[IllegalArgumentException](
      Snapshots.replacePartitions(docs, flat))
    assert(e.getMessage.contains("not partitioned"), e.getMessage)
  }

  test("dropColumns: metadata-only narrow, mapped re-add never resurrects, compact removes physically") {
    val path = newStore
    val v1 = Snapshots.commit(docs, path)
    val before = dataFiles(path)
    val v2 = Snapshots.dropColumns(spark, path, Seq("lang"))
    assert(v2 === v1 + 1)
    // metadata-only: not one data file moved
    assert(dataFiles(path) === before)
    val got = Snapshots.read(spark, path)
    assert(got.columns.toSeq === Seq("doc_id", "text", "source", "n_chars"))
    assert(got.count() === docs.count())
    // time travel still reads the wide schema
    assert(Snapshots.read(spark, path, Some(v1)).columns.contains("lang"))
    // a lang-less append works and the tombstone survives the commit
    Snapshots.commitAppend(docs.limit(2)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"),
        col("source"), col("n_chars")), path)
    // RE-ADDING the dropped name is safe under column mapping: the
    // fresh column gets a fresh PHYSICAL name, so the old files'
    // values stay dead - every pre-re-add row reads NULL lang, only
    // the re-adding append's row carries a value
    Snapshots.commitAppend(docs.limit(1)
      .select((-col("doc_id") - 500).as("doc_id"), col("text"),
        lit("zz").as("lang"), col("source"), col("n_chars")), path)
    val relang = Snapshots.read(spark, path)
    assert(relang.columns.contains("lang"))
    assert(relang.filter(col("lang").isNotNull).count() === 1L)
    assert(relang.filter(col("lang") === "zz").count() === 1L)
    // compaction rewrites only the surviving columns: physical removal
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    val packedFile = Snapshots.read(spark, path)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(packedFile.length === 1)
    assert(!spark.read.parquet(packedFile(0)).columns.contains("lang"))
    // guards: unknown column, partition column, dropping everything
    val e3 = intercept[IllegalArgumentException](
      Snapshots.dropColumns(spark, path, Seq("nope")))
    assert(e3.getMessage.contains("nope"), e3.getMessage)
    val parted = newStore
    Snapshots.commit(docs.withColumn("bucket", col("doc_id") % 4),
      parted, partitionBy = Seq("bucket"))
    val e4 = intercept[IllegalArgumentException](
      Snapshots.dropColumns(spark, parted, Seq("bucket")))
    assert(e4.getMessage.contains("partition"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException](
      Snapshots.dropColumns(spark, path,
        Seq("doc_id", "text", "source", "n_chars", "lang")))
    assert(e5.getMessage.contains("every column"), e5.getMessage)
  }

  test("retryOnConflict reruns an OCC loser against the new base; exhaustion rethrows") {
    val path = newStore
    Snapshots.commit(docs, path)
    // first merge attempt loses to an interleaved append; the retry
    // recomputes against the appended base and lands
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.commitAppend(
        docs.limit(1).select((-col("doc_id") - 900).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")), path)
      ()
    }
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .select(docs.columns.map(col).toSeq: _*)
    try {
      val v = Snapshots.retryOnConflict(attempts = 3, backoffMs = 1L) {
        Snapshots.merge(spark, path, updates, Seq("doc_id"))
      }
      assert(v === 3L) // v1 commit, v2 interleaved append, v3 merge
    } finally Snapshots.onBeforePublish = () => ()
    val got = Snapshots.read(spark, path)
    assert(got.count() === docs.count() + 1) // append's row survived
    assert(got.filter(col("doc_id") % 10 === 0 && col("doc_id") >= 0 &&
      col("text") =!= upper(col("text"))).count() === 0L)
    // exhaustion: a conflict on EVERY attempt rethrows the last one
    var n = 0
    val e = intercept[java.util.ConcurrentModificationException](
      Snapshots.retryOnConflict(attempts = 3, backoffMs = 1L) {
        n += 1
        throw new java.util.ConcurrentModificationException("always")
      })
    assert(n === 3 && e.getMessage === "always")
  }

  test("streaming source maxVersionsPerTrigger bounds each post-catch-up batch") {
    import org.apache.spark.sql.streaming.Trigger
    val store = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 4 === 0), store)
    val ckpt = Files.createTempDirectory("graft_snapsrc_rate").toString
    val batchCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", store)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val c = b.count(); if (c > 0) batchCounts += c
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // initial catch-up: one full batch
    val q0 = docs.filter(col("doc_id") % 4 === 0).count()
    assert(batchCounts.toSeq === Seq(q0), batchCounts.toSeq.toString)
    // three appends land while the consumer is away: with the cap,
    // the next run must deliver them as THREE version-sized batches
    (1 to 3).foreach(r => Snapshots.commitAppend(
      docs.filter(col("doc_id") % 4 === r), store))
    runOnce()
    val expected = (1 to 3).map(r =>
      docs.filter(col("doc_id") % 4 === r).count())
    assert(batchCounts.toSeq === q0 +: expected,
      batchCounts.toSeq.toString)
  }

  test("""format("graft-snapshot") writes: batch save modes and the streaming sink""") {
    val path = newStore
    // default errorifexists claims v1 (empty create - the race-safe
    // bootstrap mutex) and appends as v2; append folds in; rerun
    // refuses
    docs.filter(col("doc_id") % 2 === 0).write
      .format("graft-snapshot").save(path)
    docs.filter(col("doc_id") % 2 === 1).write
      .format("graft-snapshot").mode("append").save(path)
    assert(spark.read.format("graft-snapshot").load(path).count() ===
      docs.count())
    val e = intercept[Exception](
      docs.limit(1).write.format("graft-snapshot").save(path))
    assert(e.getMessage.contains("errorifexists"), e.getMessage)
    // ignore is a no-op on an existing table
    docs.limit(1).write.format("graft-snapshot").mode("ignore").save(path)
    assert(Snapshots.read(spark, path).count() === docs.count())
    // overwrite is a new version; history stays readable
    docs.filter(col("n_chars") > 500).write
      .format("graft-snapshot").mode("overwrite").save(path)
    assert(Snapshots.read(spark, path).count() ===
      docs.filter(col("n_chars") > 500).count())
    assert(Snapshots.read(spark, path, Some(3L)).count() === docs.count())
    // partitioned bootstrap via option
    val parted = newStore
    docs.withColumn("bucket", col("doc_id") % 4).write
      .format("graft-snapshot").option("partitionBy", "bucket")
      .mode("append").save(parted)
    val (kept, total) = plannedBetween(parted, "bucket", 1, 1)
    assert(kept.size < total && kept.forall(_.contains("bucket=1")))
    // streaming sink: one append commit per micro-batch through the
    // standard writeStream API
    import org.apache.spark.sql.streaming.Trigger
    val staged = graft.io.Scratch.dir("graft_sink_docs_")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 2 === 0), staged, "even.parquet")
    graft.io.Scratch.stageSingleParquetFile(
      docs.filter(col("doc_id") % 2 === 1), staged, "odd.parquet")
    val store = newStore
    val q = graft.streaming.Streams.fileStream(spark, staged.toString,
        graft.streaming.Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("graft-snapshot").option("path", store)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sink_ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(Snapshots.versions(spark, store) === Seq(1L, 2L))
    assert(Snapshots.read(spark, store).count() === docs.count())
    // update mode refuses at sink creation
    val e2 = intercept[Exception] {
      graft.streaming.Streams.fileStream(spark, staged.toString,
          graft.streaming.Streams.DocsRawSchema)
        .groupBy("lang").count()
        .writeStream.format("graft-snapshot").option("path", newStore)
        .outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("update mode")), e2.toString)
    // complete mode: a live aggregate as an always-current table
    val aggStore = newStore
    val q2 = graft.streaming.Streams.fileStream(spark, staged.toString,
        graft.streaming.Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1))
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .writeStream.format("graft-snapshot").option("path", aggStore)
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_sink_ckpt2_").toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = Snapshots.read(spark, aggStore)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("expireOlderThan: age-based retention keeps latest and tagged snapshots") {
    val path = newStore
    val v1 = Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.commit(docs, path) // v2
    Snapshots.tag(spark, path, "pin", Some(v1))
    Snapshots.commit(docs.filter(col("n_chars") > 500), path) // v3
    // age v1 and v2 artificially; v3 (latest) stays young
    Seq(1L, 2L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(
          f"$path/_manifests/v$v%09d.manifest"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000000L))
    }
    // nothing older than ~3 hours: no-op
    assert(Snapshots.expireOlderThan(spark, path, 100000000L) === 0)
    // older than ~1 hour: v2 goes; v1 is tag-pinned, v3 is latest
    assert(Snapshots.expireOlderThan(spark, path, 3600000L) === 1)
    assert(Snapshots.versions(spark, path) === Seq(1L, 3L))
    assert(Snapshots.readTag(spark, path, "pin").count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
  }

  test("history: one row per version with operation, files and bytes") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    Snapshots.merge(spark, path,
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", upper(col("text")))
        .select(docs.columns.map(col).toSeq: _*), Seq("doc_id"))
    Snapshots.deleteWhere(spark, path, col("n_chars") < 300)
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    Snapshots.rollback(spark, path, 2L)
    Snapshots.dropColumns(spark, path, Seq("lang"))
    val h = Snapshots.history(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(h === Map(1L -> "overwrite", 2L -> "append", 3L -> "merge",
      4L -> "deleteWhere", 5L -> "compact", 6L -> "rollback(to=2)",
      7L -> "dropColumns"), h.toString)
    val rows = Snapshots.history(spark, path).collect()
    assert(rows.forall(_.getLong(3) > 0L)) // n_files
    assert(rows.forall(_.getLong(4) > 0L)) // total_bytes
    assert(rows.forall(r => r.getTimestamp(1).getTime > 0L))
  }

  test("maintain: compact-if-fragmented + expire + graceful vacuum in one pass") {
    val path = newStore
    (0 until 4).foreach(q =>
      Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === q), path))
    val (compacted, expired, _) =
      Snapshots.maintain(spark, path, targetFileBytes = 1L << 30,
        keepVersions = 1, graceMs = 0L)
    assert(compacted)
    assert(expired === 4) // the four append manifests
    assert(Snapshots.read(spark, path).count() === docs.count())
    // a second pass is a no-op on a packed, trimmed table
    val (again, expired2, vac2) =
      Snapshots.maintain(spark, path, targetFileBytes = 1L << 30,
        keepVersions = 1, graceMs = 0L)
    assert(!again && expired2 === 0 && vac2 === 0)
  }

  test("corrupted manifests refuse loudly - never a wrong answer") {
    val path = newStore
    Snapshots.commit(docs, path)
    def overwriteManifest(lines: String*): Unit = {
      // drop the local-FS checksum sidecar: a direct byte edit would
      // otherwise trip Hadoop's ChecksumException before OUR parser
      // runs (also a loud refusal, but not the one under test)
      Files.deleteIfExists(java.nio.file.Paths.get(
        s"$path/_manifests/.v000000001.manifest.crc"))
      Files.writeString(java.nio.file.Paths.get(
        s"$path/_manifests/v000000001.manifest"),
        (lines :+ "").mkString("\n"))
    }
    val good = Files.readString(java.nio.file.Paths.get(
      s"$path/_manifests/v000000001.manifest"))
    // unknown header
    overwriteManifest("graft-snapshot-v99", "{}", "-")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.read(spark, path).count())
    assert(e1.getMessage.contains("graft-snapshot"), e1.getMessage)
    // truncated: header only (v3 needs schema + partition lines)
    overwriteManifest("graft-snapshot-v3")
    val e2 = intercept[IllegalArgumentException](
      Snapshots.read(spark, path).count())
    assert(e2.getMessage != null, e2.toString)
    // schema line is not DataType JSON
    overwriteManifest("graft-snapshot-v3", "not json at all", "-")
    intercept[Exception](Snapshots.read(spark, path).count())
    // empty file (crash mid-write of a hand-rolled tool)
    overwriteManifest()
    intercept[Exception](Snapshots.read(spark, path).count())
    // corrupt MARKER lines refuse loudly too, never mis-parse:
    // a #txn without its batch id
    val goodLines = good.split('\n').toSeq
    overwriteManifest((goodLines.take(4) ++ Seq("#txn=nocolon") ++
      goodLines.drop(4)): _*)
    val e3 = intercept[Exception](Snapshots.read(spark, path).count())
    assert(String.valueOf(e3.getMessage).contains("txn"), e3.toString)
    // a #map pair without its separator
    overwriteManifest((goodLines.take(4) ++ Seq("#map=nocolon") ++
      goodLines.drop(4)): _*)
    val e4 = intercept[Exception](Snapshots.read(spark, path).count())
    assert(String.valueOf(e4.getMessage).contains("map"), e4.toString)
    // a #dv reference to a missing delete file fails the read (a
    // silently-ignored delete file would RESURRECT deleted rows)
    overwriteManifest((goodLines.take(4) ++
      Seq("#dv=data/c-gone/nope.parquet") ++ goodLines.drop(4)): _*)
    intercept[Exception](Snapshots.read(spark, path).count())
    // restore: the original bytes still read
    Files.writeString(java.nio.file.Paths.get(
      s"$path/_manifests/v000000001.manifest"), good)
    assert(Snapshots.read(spark, path).count() === docs.count())
  }

  test("the store is relocatable (relative manifest paths)") {
    val path = newStore
    Snapshots.commit(docs, path)
    val moved = Files.createTempDirectory("graft_snap_moved")
      .toString + "/tbl"
    assert(new java.io.File(path).renameTo(new java.io.File(moved)))
    assert(Snapshots.read(spark, moved).count() === docs.count())
  }

  test("commit claim: double-claim loses, winner's bytes survive intact") {
    val path = newStore
    Snapshots.commit(docs, path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = new org.apache.hadoop.fs.Path(
      s"$path/_manifests/v000000002.manifest")
    assert(Snapshots.RenameCommitCoordinator.tryClaim(
      f, target, Seq("winner-line")))
    // a second claimant of the SAME version must lose, and must not
    // disturb the winner's manifest bytes
    assert(!Snapshots.RenameCommitCoordinator.tryClaim(
      f, target, Seq("loser-line")))
    val got = Files.readString(java.nio.file.Paths.get(
      s"$path/_manifests/v000000002.manifest"))
    assert(got.startsWith("winner-line"), got)
    // and no _tmp_ leftovers from the losing claim
    assert(!new java.io.File(s"$path/_manifests").listFiles()
      .exists(_.getName.startsWith("_tmp_")))
  }

  test("a crashed publish leaves only _tmp_ garbage: readers unaffected, vacuum sweeps it") {
    val path = newStore
    Snapshots.commit(docs, path)
    // simulate a writer that died between tmp-write and rename
    Files.writeString(java.nio.file.Paths.get(
      s"$path/_manifests/_tmp_dead_v000000002.manifest"), "partial")
    assert(Snapshots.latestVersion(spark, path) === Some(1L))
    assert(Snapshots.read(spark, path).count() === docs.count())
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(!new java.io.File(s"$path/_manifests").listFiles()
      .exists(_.getName.startsWith("_tmp_")))
    // the real manifest survived the sweep
    assert(Snapshots.read(spark, path).count() === docs.count())
  }

  test("non-allowlisted commit schemes refuse without a coordinator or explicit opt-in") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val e = intercept[IllegalArgumentException](
      Snapshots.requireSafeCommitScheme("s3a", conf))
    assert(e.getMessage.contains("CommitCoordinator"), e.getMessage)
    intercept[IllegalArgumentException](
      Snapshots.requireSafeCommitScheme("S3", conf))
    // the guard is an ALLOWLIST: gs (and any unknown scheme) is
    // presumed unsafe, not safe
    intercept[IllegalArgumentException](
      Snapshots.requireSafeCommitScheme("gs", conf))
    intercept[IllegalArgumentException](
      Snapshots.requireSafeCommitScheme("somefuturefs", conf))
    // explicit single-writer opt-in lifts the refusal
    conf.setBoolean("graft.snapshot.unsafeSingleWriter", true)
    Snapshots.requireSafeCommitScheme("s3a", conf)
    // schemes with a known-atomic primitive never refuse
    Snapshots.requireSafeCommitScheme("hdfs",
      new org.apache.hadoop.conf.Configuration(false))
    Snapshots.requireSafeCommitScheme("file",
      new org.apache.hadoop.conf.Configuration(false))
    Snapshots.requireSafeCommitScheme("abfss",
      new org.apache.hadoop.conf.Configuration(false))
  }

  test("cow delete of a WHOLE partition commits carried-only (no crash, no burned rows)") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    // every row of the affected files dies -> the rewrite emits no
    // files; the commit must carry the untouched partitions and land
    val v2 = Snapshots.deleteWhere(spark, path, col("bucket") === 2)
    assert(v2 === 2L)
    val got = Snapshots.read(spark, path)
    assert(got.filter(col("bucket") === 2).count() === 0L)
    assert(got.count() === parted.filter(col("bucket") =!= 2).count())
    // deleting EVERYTHING leaves an empty but readable table
    Snapshots.deleteWhere(spark, path, lit(true))
    val none = Snapshots.read(spark, path)
    assert(none.count() === 0L)
    assert(none.columns.contains("bucket"))
  }

  test("merge with an empty updates batch is a no-op, not a burned version") {
    val path = newStore
    val v1 = Snapshots.commit(docs, path)
    val emptyUpd = docs.filter(lit(false))
    assert(Snapshots.merge(spark, path, emptyUpd, Seq("doc_id")) === v1)
    assert(Snapshots.versions(spark, path) === Seq(v1))
  }

  test("replacePartitions refuses unknown batch columns (silently hidden writes)") {
    val path = newStore
    val parted = docs.withColumn("bucket", col("doc_id") % 4)
    Snapshots.commit(parted, path, partitionBy = Seq("bucket"))
    val e = intercept[IllegalArgumentException](
      Snapshots.replacePartitions(
        parted.filter(col("bucket") === 1)
          .withColumn("scoore", lit(1L)), path))
    assert(e.getMessage.contains("scoore"), e.getMessage)
  }

  test("changeFeed: a rollback undoing a mor delete emits the resurrected rows as inserts") {
    val path = newStore
    Snapshots.commit(docs, path) // v1
    Snapshots.deleteKeys(spark, path,
      docs.filter(col("doc_id") % 5 === 0).select("doc_id"),
      Seq("doc_id"), mode = "mor") // v2
    val v3 = Snapshots.rollback(spark, path, 1L) // same entries, no DVs
    val feed = Snapshots.changeFeed(spark, path, 2L, v3)
    val n = docs.filter(col("doc_id") % 5 === 0).count()
    assert(feed.filter(col("_change_type") === "insert").count() === n,
      "the un-deleted rows must stream as inserts")
    assert(feed.filter(col("_change_type") === "delete").count() === 0L)
    // and the whole-range telescoping still holds
    val cols = docs.columns.map(col).toSeq
    val full = Snapshots.changeFeed(spark, path, 1L, v3)
    val replayed = Snapshots.read(spark, path, Some(1L)).select(cols: _*)
      .unionByName(full.filter(col("_change_type") === "insert")
        .select(cols: _*))
      .exceptAll(full.filter(col("_change_type") === "delete")
        .select(cols: _*))
    assert(replayed.exceptAll(Snapshots.read(spark, path)).count() === 0L)
    assert(Snapshots.read(spark, path).exceptAll(replayed).count() === 0L)
  }

  test("vacuum grace protects a long write's WHOLE commit dir, and crashed tag claims never wedge tags()") {
    val path = newStore
    Snapshots.commit(docs, path)
    // simulate an in-flight commit mid-write: one aged early file,
    // one fresh late file, no manifest yet
    val dir = new java.io.File(s"$path/data/c-inflight")
    dir.mkdirs()
    val early = new java.io.File(dir, "part-early.parquet")
    val late = new java.io.File(dir, "part-late.parquet")
    Files.writeString(early.toPath, "x")
    Files.writeString(late.toPath, "x")
    assert(early.setLastModified(
      System.currentTimeMillis() - 24L * 3600 * 1000))
    // grace 1h: the fresh late file proves the commit may still be
    // writing - the EARLY file must survive too (per-file aging would
    // sweep it and break the publish)
    Snapshots.vacuum(spark, path, graceMs = 3600000L)
    assert(early.exists(), "early file of an in-flight commit swept")
    assert(late.exists())
    // age everything past the grace: now the whole dir goes
    assert(late.setLastModified(
      System.currentTimeMillis() - 24L * 3600 * 1000))
    Snapshots.vacuum(spark, path, graceMs = 3600000L)
    assert(!dir.exists(), "aged unreferenced commit dir must be swept")
    // a crashed tag claim (tmp leftover) is invisible to tags() and
    // expire(), and the table still tags normally
    new java.io.File(s"$path/_refs").mkdirs()
    Files.writeString(java.nio.file.Paths.get(
      s"$path/_refs/_tmp_dead.ref"), "partial")
    assert(Snapshots.tags(spark, path) === Map.empty)
    Snapshots.tag(spark, path, "pin")
    assert(Snapshots.tags(spark, path) === Map("pin" -> 1L))
    assert(Snapshots.expire(spark, path, keepLast = 1) === 0)
    // re-tagging the same name refuses (exclusive claim)
    val e = intercept[IllegalArgumentException](
      Snapshots.tag(spark, path, "pin"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
  }

  test("changeFeed from version 0 streams the first commit's own rows as inserts") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 === 1), path)
    val feed = Snapshots.changeFeed(spark, path, 0L, 2L)
    assert(feed.filter(col("_change_type") === "delete").count() === 0L)
    assert(feed.filter(col("_commit_version") === 1).count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(feed.count() === docs.count())
  }

  test("a registered CommitCoordinator replaces the default claim for its scheme") {
    val path = newStore
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new Snapshots.CommitCoordinator {
      def tryClaim(f: org.apache.hadoop.fs.FileSystem,
                   target: org.apache.hadoop.fs.Path,
                   lines: Seq[String]): Boolean = {
        seen.incrementAndGet()
        Snapshots.RenameCommitCoordinator.tryClaim(f, target, lines)
      }
    }
    Snapshots.registerCommitCoordinator("file", probe)
    try {
      Snapshots.commit(docs, path)
      Snapshots.commitAppend(docs.limit(3), path)
      assert(seen.get() >= 2) // every publish went through the seam
    } finally Snapshots.unregisterCommitCoordinator("file")
    assert(Snapshots.read(spark, path).count() === docs.count() + 3)
  }

  test("replacePartitions matches the directory naming for timestamp partitions") {
    val path = newStore
    import spark.implicits._
    val base = Seq(("2024-03-01 00:00:00", 1L),
        ("2024-03-01 00:00:00", 2L), ("2024-04-01 00:00:00", 3L))
      .toDF("ts_s", "v")
      .select(col("ts_s").cast("timestamp").as("ts"), col("v"))
    Snapshots.commit(base, path, partitionBy = Seq("ts"))
    val rerun = Seq(("2024-03-01 00:00:00", 10L)).toDF("ts_s", "v")
      .select(col("ts_s").cast("timestamp").as("ts"), col("v"))
    Snapshots.replacePartitions(rerun, path)
    // the March partition is REPLACED (a JVM-side Timestamp.toString
    // would have missed the directory string and silently carried
    // rows 1 and 2 alongside row 10); April is untouched
    assert(Snapshots.read(spark, path).select("v")
      .as[Long].collect().sorted === Array(3L, 10L))
  }

  test("merge refuses when the TABLE holds duplicate rows for an updated key") {
    val path = newStore
    val five = docs.limit(5)
    Snapshots.commit(five, path)
    Snapshots.commitAppend(five.filter(col("doc_id") === 0), path) // dup key 0
    val cols = docs.columns.map(col).toSeq
    val updTouchingDup = five.filter(col("doc_id") === 0)
      .withColumn("text", lit("new")).select(cols: _*)
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(spark, path, updTouchingDup, Seq("doc_id")))
    assert(e.getMessage.contains("duplicate rows"), e.getMessage)
    // updating a NON-duplicated key is fine even though the table has
    // dups elsewhere (the guard scopes to merged keys)
    val updOther = five.filter(col("doc_id") === 1)
      .withColumn("text", lit("new")).select(cols: _*)
    Snapshots.merge(spark, path, updOther, Seq("doc_id"))
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 1 && col("text") === "new").count() === 1L)
  }

  test("updateWhere: SET uses OLD values, NULL predicate skips, no match = no commit, affected files only") {
    val path = newStore
    // 4 files, one per doc_id % 4 bucket
    (0 until 4).foreach(q => Snapshots.commitAppend(
      docs.filter(col("doc_id") % 4 === q), path))
    val before = dataFiles(path).toSet
    val v = Snapshots.updateWhere(spark, path,
      // swap-shape assignment: both values must read the OLD row
      Seq("n_chars" -> (col("n_chars") + col("doc_id")),
          "text" -> concat(lit("u:"), col("text"))),
      Some(col("doc_id") % 4 === 1 && col("n_chars") < 300))
    assert(v === 5L)
    val got = Snapshots.read(spark, path)
    val want = docs.select(col("doc_id"),
      when(col("doc_id") % 4 === 1 && col("n_chars") < 300,
        concat(lit("u:"), col("text"))).otherwise(col("text")).as("text"),
      col("lang"), col("source"),
      when(col("doc_id") % 4 === 1 && col("n_chars") < 300,
        col("n_chars") + col("doc_id")).otherwise(col("n_chars"))
        .as("n_chars"))
    assert(got.select(docs.columns.map(col).toSeq: _*)
      .exceptAll(want).count() === 0L)
    assert(want.exceptAll(got.select(docs.columns.map(col).toSeq: _*))
      .count() === 0L)
    // copy-on-write economics: no old file is deleted (time travel
    // intact), and only ONE commit dir of fresh files appears — the
    // three untouched buckets are carried by reference, not rewritten
    val after = dataFiles(path).toSet
    assert(before.subsetOf(after), "update must not delete old files")
    val freshDirs = (after -- before).map(_.split('/').head)
    assert(freshDirs.size === 1,
      s"one rewrite commit expected, got dirs: $freshDirs")
    // predicate matching nothing = same version back, no new commit
    val v2 = Snapshots.updateWhere(spark, path,
      Seq("text" -> lit("x")), Some(col("doc_id") === -99))
    assert(v2 === v)
    // unknown SET column refuses
    val e = intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, path, Seq("nope" -> lit(1)), None))
    assert(e.getMessage.contains("not in the table schema"), e.getMessage)
  }

  test("mergeInto: clause order wins, cardinality refuses, NULL source keys insert") {
    val path = newStore
    val base = spark.createDataFrame(Seq(
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)))
      .toDF("id", "name", "n")
    Snapshots.commit(base, path)
    import graft.io.Snapshots.{WhenMatchedDelete, WhenMatchedUpdate,
      WhenNotMatchedInsert}
    val source = spark.createDataFrame(Seq(
      (java.lang.Long.valueOf(1L), "upd"),   // matched, n=10 < 25 -> delete
      (java.lang.Long.valueOf(3L), "upd3"),  // matched, n=30 >= 25 -> update
      (java.lang.Long.valueOf(9L), "ins"),   // unmatched -> insert
      (null.asInstanceOf[java.lang.Long], "nullkey") // NULL key -> insert
    )).toDF("sid", "sname")
    val v = Snapshots.mergeInto(spark, path, source,
      on = Seq("id" -> "sid"),
      matched = Seq(
        WhenMatchedUpdate(Some(col("n") >= 25),
          Seq("name" -> concat(Snapshots.src("sname"), lit("!")))),
        WhenMatchedDelete(None)),
      notMatched = Seq(WhenNotMatchedInsert(None,
        Seq("id" -> Snapshots.src("sid"),
            "name" -> Snapshots.src("sname")))))
    assert(v === 2L)
    val got = Snapshots.read(spark, path).orderBy("id").collect()
      .map(r => (Option(r.get(0)), r.getString(1), Option(r.get(2))))
    assert(got.toSeq === Seq(
      (None, "nullkey", None),            // NULL key inserted, n NULL
      (Some(2L), "b", Some(20L)),         // untouched
      (Some(3L), "upd3!", Some(30L)),     // first clause (update) won
      (Some(4L), "d", Some(40L)),         // untouched
      (Some(9L), "ins", None)))           // insert, unnamed column NULL
    // 1L was deleted: the update clause's condition failed, the
    // unconditional delete clause is next in order
    // cardinality violation: two source rows for one target key
    val dup = spark.createDataFrame(Seq((2L, "x"), (2L, "y")))
      .toDF("sid", "sname")
    val e = intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, path, dup, Seq("id" -> "sid"),
        matched = Seq(WhenMatchedDelete(None))))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    // ON type drift refuses with a cast remediation
    val wrongType = spark.createDataFrame(Seq(("2", "x")))
      .toDF("sid", "sname")
    val e2 = intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, path, wrongType, Seq("id" -> "sid"),
        matched = Seq(WhenMatchedDelete(None))))
    assert(e2.getMessage.contains("cast the source"), e2.getMessage)
  }

  test("mergeInto: notMatchedBySource clauses see unmatched target rows only") {
    val path = newStore
    val base = spark.createDataFrame(Seq(
      (1L, "a"), (2L, "b"), (3L, "c"))).toDF("id", "name")
    Snapshots.commit(base, path)
    import graft.io.Snapshots.{WhenMatchedUpdate, WhenMatchedDelete,
      WhenNotMatchedInsert}
    val source = spark.createDataFrame(Seq(Tuple1(2L))).toDF("sid")
    Snapshots.mergeInto(spark, path, source, Seq("id" -> "sid"),
      matched = Seq(WhenMatchedUpdate(None, Seq("name" -> lit("hit")))),
      notMatchedBySource = Seq(
        WhenMatchedDelete(Some(col("id") === 3)),
        WhenMatchedUpdate(None, Seq("name" -> lit("miss")))))
    val got = Snapshots.read(spark, path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "miss"), (2L, "hit")))
  }

  test("hidden bucket partitioning: derived dirs, untouched source, point-lookup pruning") {
    val path = newStore
    // friendly spelling normalizes to the manifest's comma-free form
    Snapshots.commit(docs, path, partitionBy = Seq("bucket(8, doc_id)"))
    val got = Snapshots.read(spark, path)
    // the derived column never surfaces; the source column stays in
    // the data files (hidden partitioning, not a user-visible column)
    assert(got.columns.toSeq === docs.columns.toSeq)
    assert(got.exceptAll(docs).count() === 0L)
    assert(docs.exceptAll(got).count() === 0L)
    val dirs = new java.io.File(s"$path/data").listFiles()
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("doc_id_bucket=")),
      dirs.toString)
    // a point lookup on the SOURCE column prunes to one bucket's
    // files via the transform dirs alone — no stats luck needed
    val (kept, total) =
      Snapshots.prunedEntriesEquals(spark, path, "doc_id", 7L)
    assert(kept.nonEmpty && kept.size < total, s"${kept.size}/$total")
    assert(kept.forall(e => e.contains("doc_id_bucket=")))
    assert(kept.map(e => e.split('/').find(_.startsWith("doc_id_bucket="))
      .get).toSet.size === 1)
    val res = Snapshots.readEquals(spark, path, "doc_id", 7L)
    assert(res.count() === docs.filter(col("doc_id") === 7L).count())
    // appends inherit the hidden layout from the manifest
    Snapshots.commitAppend(docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 10000L), path)
    val (kept2, total2) =
      Snapshots.prunedEntriesEquals(spark, path, "doc_id", 10000L)
    assert(kept2.size < total2)
    assert(Snapshots.readEquals(spark, path, "doc_id", 10000L)
      .count() === 1L)
    // a batch column colliding with the derived dir name refuses
    val e = intercept[IllegalArgumentException](
      Snapshots.commitAppend(docs.limit(1)
        .withColumn("doc_id_bucket", lit(1)), path))
    assert(e.getMessage.contains("collides"), e.getMessage)
  }

  test("days(ts) hidden partitioning: day-grain pruning and idempotent day replace") {
    val path = newStore
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    Snapshots.commit(ev, path, partitionBy = Seq("days(ts)"))
    assert(Snapshots.read(spark, path).exceptAll(ev).count() === 0L)
    val dirs = new java.io.File(s"$path/data").listFiles()
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("ts_day=")), dirs.toString)
    assert(dirs.size > 5, s"expected many day dirs, got $dirs")
    // equality on a real timestamp prunes to that day's dir
    val someTs = ev.select("ts").head.getTimestamp(0)
    val (kept, total) =
      Snapshots.prunedEntriesEquals(spark, path, "ts", someTs)
    assert(kept.size < total, s"${kept.size}/$total")
    assert(Snapshots.readEquals(spark, path, "ts", someTs).count() ===
      ev.filter(col("ts") === lit(someTs)).count())
    // replacePartitions at the DERIVED day grain: a batch of one
    // day's rows (values doubled) swaps exactly that day, leaving
    // every other day's files untouched — the idempotent backfill
    val day = ev.select(dayofmonth(col("ts")).as("d")).head.getInt(0)
    val batch = ev.filter(dayofmonth(col("ts")) === day &&
        month(col("ts")) === 1)
      .withColumn("value", col("value") * 2)
      .select(ev.columns.map(col).toSeq: _*)
    Snapshots.replacePartitions(batch, path)
    val after = Snapshots.read(spark, path)
    val expected = ev.filter(!(dayofmonth(col("ts")) === day &&
        month(col("ts")) === 1))
      .unionByName(batch)
    assert(after.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(after).count() === 0L)
    // the replaced day's manifest entries all live in that day's dir
    val dayDir = f"ts_day=202401$day%02d"
    val (keptDay, _) = Snapshots.prunedEntriesEquals(spark, path, "ts",
      batch.select("ts").head.getTimestamp(0))
    assert(keptDay.nonEmpty && keptDay.forall(_.contains(dayDir)),
      keptDay.toString)
  }

  test("equality deletes: zero-scan commits, re-inserts survive, compact applies") {
    val path = newStore
    Snapshots.commit(docs, path)
    val (_, _, entriesBefore, dvs0, _) = Snapshots.stateAt(spark, path, 1L)
    assert(dvs0.isEmpty)
    val keys = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    val v2 = Snapshots.deleteKeysEq(spark, path, keys, Seq("doc_id"))
    assert(v2 === 2L)
    // ZERO data-file rewrites: the data entries are byte-identical
    val (_, _, entriesAfter, dvs2, _) = Snapshots.stateAt(spark, path, 2L)
    assert(entriesAfter === entriesBefore)
    assert(dvs2.nonEmpty && dvs2.forall(_.startsWith("eq:")))
    // live reads exclude the keys; time travel to v1 still sees them
    val live = Snapshots.read(spark, path)
    assert(live.filter(col("doc_id") % 7 === 0).count() === 0L)
    assert(live.count() === docs.filter(col("doc_id") % 7 =!= 0).count())
    assert(Snapshots.read(spark, path, Some(1L)).count() === docs.count())
    // a RE-INSERT of deleted keys lands after the delete's base and
    // survives - CDC delete-then-insert keeps its meaning
    Snapshots.commitAppend(docs.filter(col("doc_id") === 7L), path)
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 7L).count() === 1L)
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 14L).count() === 0L)
    // discovery flows see eq-killed rows as dead: merging a deleted
    // key INSERTS it fresh instead of updating a ghost
    val up = docs.filter(col("doc_id") === 21L)
      .withColumn("text", lit("back"))
      .select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, up, Seq("doc_id"))
    val after = Snapshots.read(spark, path)
    assert(after.filter(col("doc_id") === 21L).count() === 1L)
    assert(after.filter(col("doc_id") === 21L).select("text")
      .head.getString(0) === "back")
    // vacuum while referenced never sweeps the delete file
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 14L).count() === 0L)
    // a FULL compact applies the kill physically and drops markers
    val vC = Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    val (_, _, _, dvsC, _) = Snapshots.stateAt(spark, path, vC)
    assert(dvsC.isEmpty)
    val packed = Snapshots.read(spark, path)
    assert(packed.filter(col("doc_id") % 7 === 0 &&
      col("doc_id") =!= 7L && col("doc_id") =!= 21L).count() === 0L)
    assert(packed.filter(col("doc_id") === 7L).count() === 1L)
    assert(packed.count() === after.count())
  }

  test("equality deletes: concurrent-append rebase, changeFeed, rollback, expire pinning") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") < 300), path)
    Snapshots.commitAppend(docs.filter(col("doc_id") >= 300), path)
    // an append interleaves the eq-delete publish; the delete's base
    // stays v2, so the interloper's rows survive even with matching
    // keys (serial order: delete, then append)
    Snapshots.onBeforePublish = () => {
      Snapshots.onBeforePublish = () => ()
      Snapshots.commitAppend(docs.filter(col("doc_id") === 50L)
        .withColumn("doc_id", lit(100050L)), path)
      ()
    }
    val keys = docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id")
      .unionByName(spark.range(100050L, 100051L).toDF("doc_id"))
    val vDel =
      try Snapshots.deleteKeysEq(spark, path, keys, Seq("doc_id"))
      finally Snapshots.onBeforePublish = () => ()
    assert(vDel === 4L) // append claimed v3, delete rebased to v4
    val live = Snapshots.read(spark, path)
    assert(live.filter(col("doc_id") === 100050L).count() === 1L)
    assert(live.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") < 100000L).count() === 0L)
    // changeFeed over the eq commit: the killed rows stream as
    // deletes with the commit's version
    val feed = Snapshots.changeFeed(spark, path, 3L, 4L)
    assert(feed.filter(col("_change_type") === "delete").count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(feed.filter(col("_change_type") === "insert").count() === 0L)
    // rollback drops the marker; the feed resurrects the rows
    val vRb = Snapshots.rollback(spark, path, 3L)
    val feed2 = Snapshots.changeFeed(spark, path, 4L, vRb)
    assert(feed2.filter(col("_change_type") === "insert").count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // roll forward; retention cannot expire a marker's base manifest
    Snapshots.rollback(spark, path, 4L)
    Snapshots.expire(spark, path, keepLast = 2)
    val vs = Snapshots.versions(spark, path)
    assert(vs.contains(2L), s"eq base version expired: $vs")
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") % 2 === 0 && col("doc_id") < 100000L)
      .count() === 0L)
    // dropping a key column refuses while the delete is live
    val e = intercept[IllegalArgumentException](
      Snapshots.dropColumns(spark, path, Seq("doc_id")))
    assert(e.getMessage.contains("equality delete"), e.getMessage)
  }

  private def manifestFile(path: String, v: Long): java.nio.file.Path =
    java.nio.file.Paths.get(f"$path/_manifests/v$v%09d.manifest")
  private def manifestLinesOf(path: String, v: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(manifestFile(path, v)).asScala.toSeq
  }

  test("write-audit-publish: staging is invisible, audit reads base+staged, publish is atomic metadata") {
    val path = newStore
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    Snapshots.commit(base, path)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    Snapshots.stageAppend(batch, path, "wap-1")
    // staged but unpublished: readers see the base table only
    assert(Snapshots.read(spark, path).count() === base.count())
    assert(Snapshots.latestVersion(spark, path) === Some(1L))
    assert(Snapshots.listStaged(spark, path) === Seq("wap-1"))
    // the audit view is base + staged
    assert(Snapshots.readStaged(spark, path, "wap-1").count() ===
      docs.count())
    // vacuum cannot sweep staged bytes while the audit is pending
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.readStaged(spark, path, "wap-1").count() ===
      docs.count())
    // a second staged batch, dropped after audit, leaves no trace
    Snapshots.stageAppend(
      batch.withColumn("doc_id", col("doc_id") + 1000000L), path,
      "wap-2")
    assert(Snapshots.listStaged(spark, path).sorted ===
      Seq("wap-1", "wap-2"))
    Snapshots.dropStaged(spark, path, "wap-2")
    assert(Snapshots.listStaged(spark, path) === Seq("wap-1"))
    // an append lands BETWEEN staging and publish; publish rebases
    // over it - both survive (append semantics)
    val extra = docs.filter(col("doc_id") === 3L)
      .withColumn("doc_id", lit(2000000L))
    Snapshots.commitAppend(extra, path)
    val v = Snapshots.publishStaged(spark, path, "wap-1")
    assert(v === 3L)
    assert(Snapshots.listStaged(spark, path) === Nil)
    val fin = Snapshots.read(spark, path)
    assert(fin.count() === docs.count() + 1L)
    assert(fin.filter(col("doc_id") === 2000000L).count() === 1L)
    assert(fin.filter(col("doc_id") % 3 === 0 &&
      col("doc_id") < 1000000L).count() ===
      docs.filter(col("doc_id") % 3 === 0).count())
    // time travel: v2 (the interleaved append) never saw staged rows
    assert(Snapshots.read(spark, path, Some(2L))
      .filter(col("doc_id") % 3 === 0 && col("doc_id") < 1000000L)
      .count() === 0L)
    // history shows the publish as its own operation
    assert(Snapshots.history(spark, path)
      .filter(col("version") === 3L).select("operation")
      .head.getString(0) === "publish-staged(wap=wap-1)")
    // dropped staged bytes are really gone after vacuum
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.read(spark, path).count() === docs.count() + 1L)
    // a RETRIED publish of an already-published stage no-ops instead
    // of double-appending (the staging manifest reappearing after a
    // crash-retry is the at-least-once delivery case)
    Snapshots.stageAppend(docs.filter(col("doc_id") === 9L)
      .withColumn("doc_id", lit(4000000L)), path, "wap-retry")
    val manifestCopy = Files.readAllBytes(java.nio.file.Paths.get(
      s"$path/_staged/wap-retry.manifest"))
    val vPub = Snapshots.publishStaged(spark, path, "wap-retry")
    Files.write(java.nio.file.Paths.get(
      s"$path/_staged/wap-retry.manifest"), manifestCopy)
    assert(Snapshots.publishStaged(spark, path, "wap-retry") === vPub)
    assert(Snapshots.latestVersion(spark, path) === Some(vPub))
    assert(Snapshots.listStaged(spark, path) === Nil)
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 4000000L).count() === 1L)
    // staging refuses a duplicate wap id and a schema-drifting batch
    intercept[IllegalArgumentException] {
      Snapshots.stageAppend(batch, path, "bad/id")
    }
    Snapshots.stageAppend(batch.limit(5), path, "wap-3")
    val dup = intercept[IllegalArgumentException](
      Snapshots.stageAppend(batch, path, "wap-3"))
    assert(dup.getMessage.contains("already exists"))
    val drift = intercept[IllegalArgumentException](
      Snapshots.stageAppend(
        batch.withColumn("n_chars", col("n_chars").cast("string")),
        path, "wap-4"))
    assert(drift.getMessage.toLowerCase.contains("type"),
      drift.getMessage)
    Snapshots.dropStaged(spark, path, "wap-3")
  }

  test("write-audit-publish: schema changes since staging refuse at publish, not silently") {
    val path = newStore
    Snapshots.commit(docs, path)
    // a rename since staging: the staged files carry the OLD logical
    // name, which no longer resolves to the same physical column -
    // publishing would attach wrong bytes, so it must refuse
    Snapshots.stageAppend(
      docs.filter(col("doc_id") === 11L)
        .withColumn("doc_id", lit(3000000L)), path, "wap-r")
    Snapshots.renameColumn(spark, path, "lang", "language")
    intercept[Exception](Snapshots.publishStaged(spark, path, "wap-r"))
    // the published table is untouched and the staged append is
    // still droppable
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 3000000L).count() === 0L)
    Snapshots.dropStaged(spark, path, "wap-r")
    assert(Snapshots.listStaged(spark, path) === Nil)
    // an append-only interloper is FINE - and a stage whose batch
    // matches the current (renamed) schema publishes cleanly
    Snapshots.stageAppend(
      Snapshots.read(spark, path).filter(col("doc_id") === 12L)
        .withColumn("doc_id", lit(3000001L)), path, "wap-ok")
    val v = Snapshots.publishStaged(spark, path, "wap-ok")
    assert(Snapshots.read(spark, path, Some(v))
      .filter(col("doc_id") === 3000001L).select("language")
      .count() === 1L)
  }

  test("type widening: wider appends promote the schema metadata-only; narrow batches read under it") {
    val path = newStore
    val narrow = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("n_chars", col("n_chars").cast("int"))
    Snapshots.commit(narrow, path)
    assert(Snapshots.read(spark, path).schema("n_chars").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val (_, _, entriesBefore, _, _) = Snapshots.stateAt(spark, path, 1L)
    // a LONG batch widens the table to long - and touches no file
    Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === 1), path)
    val (_, _, entriesAfter, _, _) = Snapshots.stateAt(spark, path, 2L)
    assert(entriesBefore.toSet.subsetOf(entriesAfter.toSet))
    val wide = Snapshots.read(spark, path)
    assert(wide.schema("n_chars").dataType ===
      org.apache.spark.sql.types.LongType)
    // the int32 pages read exactly: the total matches the source
    val expect = docs.filter(col("doc_id") % 2 === 0 ||
      col("doc_id") % 4 === 1)
    assert(wide.select(sum("n_chars")).head.getLong(0) ===
      expect.select(sum("n_chars")).head.getLong(0))
    // a NARROW (int) batch into the widened table is accepted as-is
    Snapshots.commitAppend(docs.filter(col("doc_id") % 4 === 3)
      .withColumn("n_chars", col("n_chars").cast("int")), path)
    val all = Snapshots.read(spark, path)
    assert(all.schema("n_chars").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(all.select(sum("n_chars")).head.getLong(0) ===
      docs.select(sum("n_chars")).head.getLong(0))
    assert(all.count() === docs.count())
    // time travel reads each version under its OWN type
    assert(Snapshots.read(spark, path, Some(1L))
      .schema("n_chars").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // stats pruning stays exact across the mixed-stats files
    val hi = Snapshots.readBetween(spark, path, "n_chars", 500L, 900L)
    assert(hi.count() === docs.filter(col("n_chars").between(500, 900))
      .count())
    // merge over the widened table still lands
    val up = docs.filter(col("doc_id") === 8L)
      .withColumn("text", lit("widened"))
      .select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, up, Seq("doc_id"))
    assert(Snapshots.read(spark, path)
      .filter(col("doc_id") === 8L).select("text")
      .head.getString(0) === "widened")
  }

  test("type widening: explicit widenColumn, refusals, bucket-source guard") {
    val path = newStore
    Snapshots.commit(docs.withColumn("n_chars",
      col("n_chars").cast("int")), path)
    // explicit metadata-only widen (the ALTER COLUMN TYPE spelling)
    val v = Snapshots.widenColumn(spark, path, "n_chars",
      org.apache.spark.sql.types.LongType)
    assert(v === 2L)
    assert(Snapshots.read(spark, path).schema("n_chars").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(Snapshots.read(spark, path).select(sum("n_chars"))
      .head.getLong(0) === docs.select(sum("n_chars")).head.getLong(0))
    assert(Snapshots.history(spark, path)
      .filter(col("version") === 2L).select("operation")
      .head.getString(0) === "widen(col=n_chars,to=bigint)")
    // narrowing and lossy promotions refuse
    intercept[IllegalArgumentException](Snapshots.widenColumn(
      spark, path, "n_chars", org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](Snapshots.widenColumn(
      spark, path, "doc_id", org.apache.spark.sql.types.DoubleType))
    // a type-drifting append that is NOT a widening still refuses
    intercept[IllegalArgumentException](Snapshots.commitAppend(
      docs.withColumn("n_chars", col("n_chars").cast("string")), path))
    // widening a bucket-transform source would change the write-time
    // hash and break pruning - refuse
    val bPath = newStore
    Snapshots.commit(docs.withColumn("small_id",
      col("doc_id").cast("int")), bPath,
      partitionBy = Seq("bucket(4, small_id)"))
    val e = intercept[IllegalArgumentException](
      Snapshots.widenColumn(spark, bPath, "small_id",
        org.apache.spark.sql.types.LongType))
    assert(e.getMessage.contains("hidden partition transform"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.commitAppend(docs.limit(3)
        .withColumn("small_id", col("doc_id")), bPath))
    assert(e2.getMessage.contains("hidden partition transform"),
      e2.getMessage)
  }

  test("__rows pseudo-stat: counts answer from the manifest alone; mor deletes fall back") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 2 =!= 0), path)
    assert(Snapshots.rowCount(spark, path) === docs.count())
    assert(Snapshots.rowCount(spark, path, Some(1L)) ===
      docs.filter(col("doc_id") % 2 === 0).count())
    // METADATA-only proof: hide the data directory - the count must
    // still answer (zero file opens), while a scan could not
    val dataDir = java.nio.file.Paths.get(s"$path/data")
    val hidden = java.nio.file.Paths.get(s"$path/data_hidden")
    java.nio.file.Files.move(dataDir, hidden)
    try assert(Snapshots.rowCount(spark, path) === docs.count())
    finally java.nio.file.Files.move(hidden, dataDir)
    // the files() metadata table carries per-file rows that sum to it
    assert(Snapshots.files(spark, path)
      .agg(sum("rows")).head.getLong(0) === docs.count())
    // a live mor delete makes the entry sum an overcount - rowCount
    // must fall back to the scan-exact answer
    Snapshots.deleteWhere(spark, path, col("doc_id") % 10 === 3,
      mode = "mor")
    assert(Snapshots.rowCount(spark, path) ===
      docs.filter(col("doc_id") % 10 =!= 3).count())
    // compact applies the delete; metadata counting resumes
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    java.nio.file.Files.move(dataDir, hidden)
    try assert(Snapshots.rowCount(spark, path) ===
      docs.filter(col("doc_id") % 10 =!= 3).count())
    finally java.nio.file.Files.move(hidden, dataDir)
  }

  test("table properties: survive every commit kind; bloom filters written on declared columns") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") < 400), path)
    Snapshots.setProperties(spark, path,
      Map("write.bloom.columns" -> "doc_id", "owner.team" -> "data"))
    // every commit stamps graft.layout.timezone (readers use it to
    // distrust foreign-zone legacy dir layouts) alongside user props
    assert(Snapshots.properties(spark, path) ===
      Map("write.bloom.columns" -> "doc_id", "owner.team" -> "data",
        "graft.layout.timezone" -> "UTC"))
    // v1 predates the user properties; time travel shows each
    // version's own (the tz stamp rides every data commit)
    assert(Snapshots.properties(spark, path, Some(1L)) ===
      Map("graft.layout.timezone" -> "UTC"))
    // an append AFTER the property writes bloom filters on doc_id
    val before = dataFiles(path).toSet
    Snapshots.commitAppend(docs.filter(col("doc_id") >= 400), path)
    val fresh = dataFiles(path).filterNot(before)
    assert(fresh.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/data/${fresh.head}"),
        conf))
    try {
      val block = rd.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      val byName = block.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      val bloomReader = rd.getBloomFilterDataReader(block)
      val idBloom = bloomReader.readBloomFilter(byName("doc_id"))
      assert(idBloom != null, "doc_id must carry a bloom filter")
      assert(bloomReader.readBloomFilter(byName("text")) == null,
        "undeclared columns must not pay bloom bytes")
      // membership sanity: a committed key hashes as present
      val someId = docs.filter(col("doc_id") >= 400)
        .select("doc_id").head.getLong(0)
      assert(idBloom.findHash(idBloom.hash(someId)))
    } finally rd.close()
    // the property survives every commit kind
    val up = docs.filter(col("doc_id") === 2L)
      .withColumn("text", lit("p")).select(docs.columns.map(col).toSeq: _*)
    Snapshots.merge(spark, path, up, Seq("doc_id"))
    Snapshots.deleteWhere(spark, path, col("doc_id") === 3L, mode = "mor")
    Snapshots.deleteKeysEq(spark, path,
      docs.filter(col("doc_id") === 5L).select("doc_id"), Seq("doc_id"))
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    Snapshots.renameColumn(spark, path, "lang", "language")
    Snapshots.widenColumn(spark, path, "n_chars",
      org.apache.spark.sql.types.LongType) // no-op widen (already long)
    Snapshots.stageAppend(docs.filter(col("doc_id") === 7L)
      .withColumn("doc_id", lit(800001L))
      .withColumnRenamed("lang", "language"), path, "props-wap")
    Snapshots.publishStaged(spark, path, "props-wap")
    assert(Snapshots.properties(spark, path)("owner.team") === "data")
    assert(Snapshots.properties(spark, path)("write.bloom.columns") ===
      "doc_id")
    // unset is its own commit; rollback restores the properties
    val vSet = Snapshots.latestVersion(spark, path).get
    Snapshots.unsetProperties(spark, path, Seq("owner.team"))
    assert(!Snapshots.properties(spark, path).contains("owner.team"))
    Snapshots.rollback(spark, path, vSet)
    assert(Snapshots.properties(spark, path)("owner.team") === "data")
    // refusals: separator-bearing pairs, unknown bloom column
    intercept[IllegalArgumentException](Snapshots.setProperties(
      spark, path, Map("a;b" -> "x")))
    intercept[IllegalArgumentException](Snapshots.setProperties(
      spark, path, Map("k" -> "a;b")))
    intercept[IllegalArgumentException](Snapshots.setProperties(
      spark, path, Map("write.bloom.columns" -> "nope")))
  }

  test("DESCRIBE DETAIL: the one-row operational summary") {
    val path = newStore
    Snapshots.commit(docs, path, partitionBy = Seq("lang"))
    Snapshots.setProperties(spark, path, Map("owner.team" -> "data"))
    Snapshots.tag(spark, path, "gold")
    Snapshots.stageAppend(docs.limit(3)
      .withColumn("doc_id", col("doc_id") + 700000L), path, "pending")
    val d = Snapshots.detail(spark, path).head
    assert(d.getAs[String]("location") === path)
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[Long]("n_versions") === 2L)
    assert(d.getAs[Long]("n_files") >= 1L)
    assert(d.getAs[Long]("total_bytes") > 0L)
    assert(d.getAs[Long]("total_rows") === docs.count())
    assert(d.getAs[Seq[String]]("partitioning") === Seq("lang"))
    assert(d.getAs[Long]("n_delete_files") === 0L)
    assert(d.getAs[Seq[String]]("staged") === Seq("pending"))
    assert(d.getAs[Map[String, String]]("tags") === Map("gold" -> "2"))
    assert(d.getAs[Map[String, String]]("properties") ===
      Map("owner.team" -> "data",
        "graft.layout.timezone" -> "UTC"))
    // a live delete file nulls the metadata row count (an entry sum
    // would overcount) and shows up in n_delete_files
    Snapshots.deleteWhere(spark, path, col("doc_id") === 5L,
      mode = "mor")
    val d2 = Snapshots.detail(spark, path).head
    assert(d2.isNullAt(d2.fieldIndex("total_rows")))
    assert(d2.getAs[Long]("n_delete_files") === 1L)
    Snapshots.dropStaged(spark, path, "pending")
  }

  test("partitions metadata table: per-partition totals from the manifest alone") {
    val path = newStore
    Snapshots.commit(docs.withColumn("bucket", col("doc_id") % 4),
      path, partitionBy = Seq("bucket"))
    Snapshots.commitAppend(
      docs.limit(50).withColumn("bucket", col("doc_id") % 4)
        .withColumn("doc_id", col("doc_id") + 900000L), path)
    val p = Snapshots.partitions(spark, path).collect()
    assert(p.length === 4)
    assert(p.map(_.getAs[Long]("total_rows")).sum ===
      docs.count() + 50L)
    assert(p.forall(_.getAs[Long]("n_files") >= 1L))
    assert(p.forall(_.getAs[Long]("total_bytes") > 0L))
    assert(p.forall(_.getAs[Map[String, String]]("partition")
      .keySet === Set("bucket")))
    // METADATA-only: the totals answer with the data dir hidden
    val dataDir = java.nio.file.Paths.get(s"$path/data")
    val hidden = java.nio.file.Paths.get(s"$path/data_hidden")
    java.nio.file.Files.move(dataDir, hidden)
    try assert(Snapshots.partitions(spark, path).collect()
      .map(_.getAs[Long]("total_rows")).sum === docs.count() + 50L)
    finally java.nio.file.Files.move(hidden, dataDir)
    // version pins the tuple set; unpartitioned = one empty tuple
    assert(Snapshots.partitions(spark, path, Some(1L)).collect()
      .map(_.getAs[Long]("total_rows")).sum === docs.count())
    val flat = newStore
    Snapshots.commit(docs, flat)
    val fp = Snapshots.partitions(spark, flat).collect()
    assert(fp.length === 1 &&
      fp.head.getAs[Map[String, String]]("partition").isEmpty)
    // a live delete file would make the entry sums OVERCOUNTS -
    // row totals go null, never wrong
    Snapshots.deleteWhere(spark, flat, col("doc_id") === 1L,
      mode = "mor")
    val fp2 = Snapshots.partitions(spark, flat).collect()
    assert(fp2.forall(_.isNullAt(fp2.head.fieldIndex("total_rows"))))
  }

  test("abandoned staged appends: opt-in staged.ttl.hours lets vacuum reclaim them") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    Snapshots.stageAppend(docs.filter(col("doc_id") % 2 === 1),
      path, "crashed-audit")
    val nFilesStaged = dataFiles(path).size
    // WITHOUT the property, vacuum never touches a pending stage -
    // a live audit must not race the janitor
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.listStaged(spark, path) === Seq("crashed-audit"))
    assert(dataFiles(path).size === nFilesStaged)
    // the deployment opts in; the aged stage and its bytes reclaim
    Snapshots.setProperties(spark, path, Map("staged.ttl.hours" -> "0"))
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.listStaged(spark, path) === Nil)
    assert(dataFiles(path).size < nFilesStaged)
    assert(Snapshots.read(spark, path).count() ===
      docs.filter(col("doc_id") % 2 === 0).count())
  }

  test("OCC stress: six concurrent appenders, a compactor and an eq-deleter all land exactly once") {
    val path = newStore
    Snapshots.commit(spark.range(0L, 0L).toDF("v"), path)
    // poison rows seeded BEFORE the stress: the racing eq-deleter
    // must kill exactly these - they are in every later base set -
    // while the concurrent appends never produce matching keys
    Snapshots.commitAppend(
      spark.range(1000000L, 1000050L).toDF("v"), path)
    val nThreads = 6
    val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads + 2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until nThreads).map { t =>
      pool.submit(new Runnable { def run(): Unit = try {
        (0 until perThread).foreach { b =>
          val lo = (t * perThread + b) * 100L
          Snapshots.commitAppend(
            spark.range(lo, lo + 100L).toDF("v"), path)
        }
      } catch { case e: Throwable => errors.add(e) } })
    }
    // a maintenance job racing the ingest: compaction REBASES over
    // the appends (WriteSerializable) — it may occasionally refuse
    // if it races another rewrite, but appends must NEVER fail
    val compactor = pool.submit(new Runnable { def run(): Unit =
      (0 until 3).foreach { _ =>
        try Snapshots.compact(spark, path, targetFileBytes = 64L << 20)
        catch { case _: java.util.ConcurrentModificationException => () }
        Thread.sleep(50)
      } })
    // an equality delete racing everything: rebases over appends,
    // retries when a compaction rewrote files out from under it
    val deleter = pool.submit(new Runnable { def run(): Unit = try {
      var done = false
      while (!done) {
        try {
          Snapshots.deleteKeysEq(spark, path,
            spark.range(1000000L, 1000050L).toDF("v"), Seq("v"))
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException =>
            Thread.sleep(30)
        }
      }
    } catch { case e: Throwable => errors.add(e) } })
    appenders.foreach(_.get())
    compactor.get()
    deleter.get()
    pool.shutdown()
    assert(errors.isEmpty, errors.toString)
    // every appended row exactly once - none lost to a lost-update,
    // none doubled by a replayed rebase
    val total = nThreads * perThread * 100L
    val got = Snapshots.read(spark, path)
    assert(got.count() === total)
    assert(got.distinct().count() === total)
    assert(got.agg(sum("v")).head.getLong(0) ===
      (0L until total).sum)
    // versions are a contiguous claim sequence: every commit that
    // reported success owns exactly one version
    val vs = Snapshots.versions(spark, path)
    assert(vs === (1L to vs.max).toSeq, vs.toString)
    assert(vs.size >= 1 + nThreads * perThread)
  }

  test("scoped compact bin-packs one day's fragments and carries the rest untouched") {
    val path = newStore
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .filter(dayofmonth(col("ts")) <= 6)
    Snapshots.commit(ev.filter(dayofmonth(col("ts")) === 1), path,
      partitionBy = Seq("days(ts)"))
    // streaming-fragment shape: several tiny appends per day
    (2 to 6).foreach(d => (0 to 1).foreach(h =>
      Snapshots.commitAppend(ev.filter(dayofmonth(col("ts")) === d &&
        pmod(hour(col("ts")), lit(2)) === h), path)))
    val vBefore = Snapshots.latestVersion(spark, path).get
    val m0 = Snapshots.read(spark, path)
    assert(m0.count() === ev.count())
    val day3 = ev.filter(dayofmonth(col("ts")) === 3)
      .select("ts").head.getTimestamp(0)
    // dir-only prune = "how many files does day 3's sliver hold"
    // (the 'U' micros stats would narrow the stats-on variant to
    // the ONE file containing this exact timestamp — correct for
    // reads, wrong for counting fragments)
    val (day3Before, totalBefore) =
      Snapshots.prunedEntriesEquals(spark, path, "ts", day3,
        useFileStats = false)
    assert(day3Before.size > 1, s"${day3Before.size}")
    // a mor delete pending on a CARRIED day must survive the scoped
    // compact (delete files are preserved, not applied)
    Snapshots.deleteWhere(spark, path,
      dayofmonth(col("ts")) === 5 && col("value") > 0, mode = "mor")
    val liveBefore = Snapshots.read(spark, path)
    val expect = liveBefore.collect().length
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30,
      scope = Seq("ts" -> day3))
    val after = Snapshots.read(spark, path)
    assert(after.count().toInt === expect)
    assert(after.exceptAll(liveBefore).count() === 0L)
    assert(liveBefore.exceptAll(after).count() === 0L)
    // day 3 collapsed to one file; the other days' entries carried
    val (day3After, totalAfter) =
      Snapshots.prunedEntriesEquals(spark, path, "ts", day3)
    assert(day3After.size === 1, day3After.toString)
    assert(totalAfter === totalBefore - day3Before.size + 1)
    val day2 = ev.filter(dayofmonth(col("ts")) === 2)
      .select("ts").head.getTimestamp(0)
    val (day2Before, _) = Snapshots.prunedEntriesEquals(
      spark, path, "ts", day2, Some(vBefore))
    val (day2After, _) =
      Snapshots.prunedEntriesEquals(spark, path, "ts", day2)
    assert(day2After.toSet === day2Before.toSet)
    // the carried day's mor delete still serves
    assert(after.filter(dayofmonth(col("ts")) === 5 &&
      col("value") > 0).count() === 0L)
    // scoping to values with no matching files is a no-op commit
    val vNow = Snapshots.latestVersion(spark, path).get
    assert(Snapshots.compact(spark, path,
      scope = Seq("event_id" -> -1L)) === vNow)
  }

  test("partition-spec evolution: months to days, old files serve, compact migrates") {
    val path = newStore
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .filter(dayofmonth(col("ts")) <= 5)
    Snapshots.commit(ev.filter(dayofmonth(col("ts")) <= 3), path,
      partitionBy = Seq("months(ts)"))
    // the evolution is metadata-only and versioned
    val v2 = Snapshots.alterPartitionSpec(spark, path, Seq("days(ts)"))
    assert(v2 === 2L)
    // same spec again no-ops
    assert(Snapshots.alterPartitionSpec(spark, path,
      Seq("days(ts)")) === 2L)
    // new writes land day-grain dirs; old month-grain files serve
    Snapshots.commitAppend(ev.filter(dayofmonth(col("ts")) === 4), path)
    val got = Snapshots.read(spark, path)
    assert(got.count() === ev.filter(dayofmonth(col("ts")) <= 4).count())
    assert(got.exceptAll(ev.filter(dayofmonth(col("ts")) <= 4))
      .count() === 0L)
    // a day-4 probe: the old month-grain files carry no day KEY,
    // but their 'U' micros value stats prove day 4 is outside their
    // range (they hold days 1-3) — the probe narrows to the new day
    // file alone; a day-3 probe keeps the old files (value inside
    // their bounds) and drops the day-4 file
    val day4 = ev.filter(dayofmonth(col("ts")) === 4)
      .select("ts").head.getTimestamp(0)
    val (kept, total) = Snapshots.prunedEntriesEquals(
      spark, path, "ts", day4)
    assert(kept.exists(_.contains("ts_day=20240104")))
    assert(kept.size < total, s"${kept.size}/$total")
    val day3probe = ev.filter(dayofmonth(col("ts")) === 3)
      .select("ts").head.getTimestamp(0)
    val (kept3, _) = Snapshots.prunedEntriesEquals(
      spark, path, "ts", day3probe)
    assert(kept3.nonEmpty)
    assert(kept3.forall(!_.contains("ts_day=20240104")), kept3)
    // replacePartitions refuses while old-layout files remain
    val e = intercept[IllegalArgumentException](
      Snapshots.replacePartitions(
        ev.filter(dayofmonth(col("ts")) === 4), path))
    assert(e.getMessage.contains("predate"), e.getMessage)
    // compact migrates every file into the current layout...
    Snapshots.compact(spark, path, targetFileBytes = 1L << 30)
    val (kept2, total2) = Snapshots.prunedEntriesEquals(
      spark, path, "ts", day4)
    assert(kept2.size < total2, s"${kept2.size}/$total2")
    assert(kept2.forall(_.contains("ts_day=20240104")))
    // ...after which day-grain replace works
    Snapshots.replacePartitions(
      ev.filter(dayofmonth(col("ts")) === 4)
        .withColumn("value", col("value") * 10), path)
    assert(Snapshots.read(spark, path).count() ===
      ev.filter(dayofmonth(col("ts")) <= 4).count())
    // identity fields refuse to change on a non-empty table; adding
    // a transform beside them is free
    val p2 = newStore
    Snapshots.commit(docs, p2, partitionBy = Seq("lang"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.alterPartitionSpec(spark, p2, Seq("source")))
    assert(e2.getMessage.contains("IDENTITY"), e2.getMessage)
    Snapshots.alterPartitionSpec(spark, p2,
      Seq("lang", "bucket(4, doc_id)"))
    Snapshots.commitAppend(docs.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 50000L), p2)
    val all2 = Snapshots.read(spark, p2)
    assert(all2.count() === docs.count() + 5)
    assert(all2.filter(col("doc_id") === 50001L).count() === 1L)
    // an EMPTY table changes identity fields freely
    val p3 = newStore
    Snapshots.createEmpty(spark, p3, docs.schema, Seq("lang"))
    Snapshots.alterPartitionSpec(spark, p3, Seq("source"))
    Snapshots.commitAppend(docs, p3)
    assert(Snapshots.read(spark, p3).count() === docs.count())
  }

  test("truncate(w) hidden partitioning: string prefixes and integer floors") {
    val path = newStore
    Snapshots.commit(docs, path, partitionBy = Seq("truncate(4, source)"))
    val dirs = new java.io.File(s"$path/data").listFiles()
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.forall(_.startsWith("source_trunc=")), dirs.toString)
    val src = docs.select("source").head.getString(0)
    val (kept, total) =
      Snapshots.prunedEntriesEquals(spark, path, "source", src)
    assert(kept.size < total, s"${kept.size}/$total")
    val res = Snapshots.readEquals(spark, path, "source", src)
    assert(res.count() === docs.filter(col("source") === src).count())
    // integral truncate floors toward negative infinity (Iceberg's
    // rule) so derived dirs stay monotone in the source
    val ints = spark.range(-10, 10).toDF("v")
    val p2 = newStore
    Snapshots.commit(ints, p2, partitionBy = Seq("truncate(4, v)"))
    val d2 = new java.io.File(s"$p2/data").listFiles()
      .flatMap(_.listFiles()).filter(_.isDirectory).map(_.getName).toSet
    assert(d2 === Set("v_trunc=-12", "v_trunc=-8", "v_trunc=-4",
      "v_trunc=0", "v_trunc=4", "v_trunc=8"), d2.toString)
    assert(Snapshots.readEquals(spark, p2, "v", -5L).count() === 1L)
    // unknown transform spellings refuse loudly
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(ints, newStore, partitionBy = Seq("cube(v)")))
    assert(e.getMessage.contains("unrecognized partition transform"),
      e.getMessage)
  }

  test("expireOlderThan: pins the equality-delete base of every SURVIVING manifest, not just latest+tags") {
    val path = newStore
    val keep = col("doc_id") % 2 === 0
    Snapshots.commit(docs.filter(keep), path) // v1
    // v2: an equality delete whose marker's base is v1
    Snapshots.deleteKeysEq(spark, path,
      docs.filter(col("doc_id") % 4 === 0).select("doc_id"), Seq("doc_id"))
    // v3: the delete turns positional, so the latest manifest carries
    // no equality marker and pins nothing
    assert(Snapshots.rewriteDeletes(spark, path, convertEq = true) === 3L)
    assert(!manifestLinesOf(path, 3L).exists(_.startsWith("#dv=eq")),
      manifestLinesOf(path, 3L).filter(_.startsWith("#dv=")).mkString)
    assert(manifestLinesOf(path, 2L).exists(l =>
      l.startsWith("#dv=eq:") && l.endsWith("|1")))
    def age(v: Long): Unit =
      Files.setLastModifiedTime(manifestFile(path, v),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000000L))
    // v1 is old and unneeded by latest - but the young v2 needs it
    age(1L)
    assert(Snapshots.expireOlderThan(spark, path, 3600000L) === 0)
    assert(Snapshots.versions(spark, path) === Seq(1L, 2L, 3L))
    val live = docs.filter(keep && col("doc_id") % 4 =!= 0).count()
    assert(Snapshots.read(spark, path, Some(2L)).count() === live)
    Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(Snapshots.read(spark, path, Some(2L)).count() === live)
    // once the referring v2 itself ages out, both drop in one pass
    age(2L)
    assert(Snapshots.expireOlderThan(spark, path, 3600000L) === 2)
    assert(Snapshots.versions(spark, path) === Seq(3L))
    assert(Snapshots.read(spark, path).count() === live)
  }

  test("write-audit-publish: a drop racing inside publish's commit window blocks and refuses") {
    val path = newStore
    Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), path)
    val batch = docs.filter(col("doc_id") === 7L)
    Snapshots.stageAppend(batch, path, "wap-race")
    val dropErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val dropper = new java.util.concurrent.atomic.AtomicReference[Thread](null)
    // fire the drop INSIDE publish's monitor-held window (after its
    // existence check, before the claim): without the monitor the
    // drop would delete the staged files while publish attaches them
    Snapshots.onBeforeStagedClaim = () => {
      Snapshots.onBeforeStagedClaim = () => ()
      val t = new Thread(() =>
        try Snapshots.dropStaged(spark, path, "wap-race")
        catch { case e: Throwable => dropErr.set(e) })
      t.start()
      dropper.set(t)
      Thread.sleep(400) // let the drop reach (and block on) the monitor
    }
    try {
      val v = Snapshots.publishStaged(spark, path, "wap-race")
      dropper.get.join(30000)
      // publish won atomically; the drop refused loudly AFTER the
      // publish completed instead of deleting published data files
      assert(v === 2L)
      assert(dropErr.get != null, "racing dropStaged should refuse")
      assert(dropErr.get.getMessage.contains("no staged append"),
        dropErr.get.getMessage)
      assert(Snapshots.read(spark, path)
        .filter(col("doc_id") === 7L).count() === 1L)
      // every entry of the head version still has its bytes on disk
      assert(Snapshots.read(spark, path).count() ===
        docs.filter(col("doc_id") % 2 === 0 || col("doc_id") === 7L)
          .count())
      assert(Snapshots.listStaged(spark, path).isEmpty)
    } finally Snapshots.onBeforeStagedClaim = () => ()
  }

  test("files: mid-codepoint truncated string bounds render as hex, never replacement chars") {
    import spark.implicits._
    val path = newStore
    // 15 ASCII bytes + a 2-byte codepoint straddling the 16-byte cut:
    // the stored min/max prefixes end in a dangling UTF-8 lead byte
    val df = Seq(("aaaaaaaaaaaaaaa\u00e91", 1L),
                 ("aaaaaaaaaaaaaaa\u00e92", 2L)).toDF("s", "id")
    Snapshots.commit(df, path)
    val bounds = Snapshots.files(spark, path)
      .select(explode(map_values(col("stats_min"))).as("b"))
      .union(Snapshots.files(spark, path)
        .select(explode(map_values(col("stats_max"))).as("b")))
      .collect().map(_.getString(0))
    assert(bounds.nonEmpty)
    bounds.foreach(b => assert(!b.contains('\uFFFD'),
      s"lossy decode rendered as exact bound: $b"))
    // the truncated string bounds cannot round-trip as UTF-8 text, so
    // they must surface in the manifest's own hex spelling
    val sBounds = bounds.filter(_.startsWith("0x"))
    assert(sBounds.nonEmpty, bounds.mkString(", "))
  }

  test("optimized write: partitioned commits rebalance - files track partitions, not tasks x partitions") {
    val path = newStore
    // 8 buckets from a 16-partition batch: a raw partitionBy would
    // write up to 16 x 8 files; the rebalance routes each bucket to
    // ~one task
    Snapshots.commit(docs.repartition(16), path,
      partitionBy = Seq("bucket(8, doc_id)"))
    val files = dataFiles(path)
    assert(files.size <= 16, s"small-file explosion: ${files.size}")
    assert(Snapshots.read(spark, path).count() === docs.count())
    // opt-out via table property: the append writes the raw layout
    Snapshots.setProperties(spark, path,
      Map("write.rebalance" -> "false"))
    Snapshots.commitAppend(docs.repartition(16)
      .withColumn("doc_id", col("doc_id") + 1000000L), path)
    assert(Snapshots.read(spark, path).count() === docs.count() * 2)
  }

  test("vacuum dry-run: counts reclaimable files, deletes nothing") {
    val path = newStore
    Snapshots.commit(docs, path)
    Snapshots.commit(docs.filter(col("n_chars") > 500), path) // orphan v1 files after expire
    Snapshots.expire(spark, path, keepLast = 1)
    val before = dataFiles(path)
    val wouldRemove = Snapshots.vacuumDryRun(spark, path, graceMs = 0L)
    assert(wouldRemove > 0)
    assert(dataFiles(path) === before, "dry run deleted files")
    val removed = Snapshots.vacuum(spark, path, graceMs = 0L)
    assert(removed === wouldRemove,
      s"dry-run count $wouldRemove != real vacuum $removed")
    assert(dataFiles(path).size === before.size - removed)
    assert(Snapshots.read(spark, path).count() ===
      docs.filter(col("n_chars") > 500).count())
  }
}
