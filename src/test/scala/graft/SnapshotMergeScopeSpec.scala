package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, format_string, lit}

import graft.io.Snapshots
import graft.io.Snapshots.{WhenMatchedUpdate, WhenNotMatchedInsert}

/** `mergeInto` reads the target's keys once, and only in the
  * partitions the source touches: the refusals and the no-op it had
  * before, the files it opens, and the rows it reads. */
class SnapshotMergeScopeSpec extends SparkSpec {

  private def newStore: String =
    java.nio.file.Files.createTempDirectory("graft_merge_scope")
      .toString + "/tbl"

  private def insertAll(cols: String*): Seq[WhenNotMatchedInsert] =
    Seq(WhenNotMatchedInsert(None, cols.map(c => c -> Snapshots.src(c))))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Commit directories under the store's `data/`. */
  private def commitDirs(path: String): Set[String] =
    Option(new java.io.File(s"$path/data").list()).toSet.flatten

  test("insert-only mergeInto: a key repeated against a stored row " +
    "refuses, repeated new keys both insert, an all-stored batch is a no-op") {
    import spark.implicits._
    val path = newStore
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      path)
    val e = intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, path,
        Seq((2L, "x"), (2L, "y")).toDF("k", "v"), Seq("k" -> "k"),
        notMatched = insertAll("k", "v")))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(Snapshots.latestVersion(spark, path) === Some(1L))
    val v2 = Snapshots.mergeInto(spark, path,
      Seq((7L, "p"), (7L, "q"), (3L, "z")).toDF("k", "v"),
      Seq("k" -> "k"), notMatched = insertAll("k", "v"))
    assert(v2 === 2L)
    assert(rows(Snapshots.read(spark, path)) === Seq(Row(1L, "a"),
      Row(2L, "b"), Row(3L, "c"), Row(7L, "p"), Row(7L, "q")))
    val dirs = commitDirs(path)
    val v3 = Snapshots.mergeInto(spark, path,
      Seq((1L, "n"), (7L, "n")).toDF("k", "v"), Seq("k" -> "k"),
      notMatched = insertAll("k", "v"))
    assert(v3 === v2, "every key is stored: no new version")
    assert(Snapshots.latestVersion(spark, path) === Some(v2))
    assert(commitDirs(path) === dirs, "no staged directory stays behind")
    assert(Snapshots.vacuumDryRun(spark, path, graceMs = 0L) === 0)
  }

  private val parts = 10
  private val perPart = 100

  /** `parts` identity partitions `p` = k % `parts` of `perPart` keys
    * each, written by two commits split at the middle key, so every
    * partition holds two files. */
  private def partitioned(): (String, DataFrame) = {
    val path = newStore
    val n = (parts * perPart).toLong
    val base = spark.range(0L, n)
      .select(col("id").as("k"), (col("id") % parts).cast("int").as("p"),
        format_string("v%04d", col("id")).as("v"))
    Snapshots.commit(base.filter(col("k") < n / 2).repartition(1), path,
      partitionBy = Seq("p"))
    Snapshots.commitAppend(base.filter(col("k") >= n / 2).repartition(1),
      path)
    assert(storeFiles(path) === 2 * parts)
    (path, base)
  }

  /** A local source in partition 3: half of its stored keys (all in
    * its first file) and as many new ones. */
  private def touchingOne(): DataFrame = {
    import spark.implicits._
    ((3L until 500L by parts.toLong) ++ (1003L until 1500L by parts.toLong))
      .map(k => (k, 3, f"n$k%04d")).toDF("k", "p", "v")
  }

  test("a merge whose source touches one of 10 partitions opens only " +
    "that partition's files and equals the relational replay") {
    val (path, base) = partitioned()
    val src = touchingOne()
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    Snapshots.mergeInto(spark, path, src, Seq("k" -> "k", "p" -> "p"),
      notMatched = insertAll("k", "p", "v"))
    val opened = graft.io.SnapshotReaderFactory.filesOpened.get()
    assert(opened === 2L, s"opened $opened of ${2 * parts} files")
    val replay = base.unionByName(src.join(base.select("k"), Seq("k"),
      "left_anti"))
    assert(rows(Snapshots.read(spark, path)) === rows(replay))
    // an upsert of partition 5: discovery reads its two files, the
    // rewrite and the inserts' anti-join only the affected first one
    import spark.implicits._
    val upd = ((5L until 305L by parts.toLong).map(k => (k, 5, f"u$k%04d"))
      :+ ((5005L, 5, "u5005"))).toDF("k", "p", "v")
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    Snapshots.mergeInto(spark, path, upd, Seq("k" -> "k", "p" -> "p"),
      matched = Seq(WhenMatchedUpdate(None,
        Seq("v" -> concat(Snapshots.src("v"), lit("!"))))),
      notMatched = insertAll("k", "p", "v"))
    val upOpened = graft.io.SnapshotReaderFactory.filesOpened.get()
    assert(upOpened === 4L, s"opened $upOpened of ${2 * parts} files")
    val updated = upd.select(col("k"), col("p"),
      concat(col("v"), lit("!")).as("v")).filter(col("k") < 1000L)
    val want = replay.join(updated.select("k"), Seq("k"), "left_anti")
      .unionByName(updated)
      .unionByName(upd.filter(col("k") === 5005L))
    assert(rows(Snapshots.read(spark, path)) === rows(want))
  }

  /** Input records Spark's tasks report while `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          n.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      // listener delivery is async: wait until the sum stabilizes
      var prev = -1L
      var polls = 0
      while (n.get() != prev && polls < 50) {
        prev = n.get(); Thread.sleep(100); polls += 1
      }
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  test("an insert-only merge reads at most the touched partition's " +
    "rows plus the source's") {
    val (path, _) = partitioned()
    val src = touchingOne()
    val srcRows = src.count()
    val read = recordsRead {
      Snapshots.mergeInto(spark, path, src, Seq("k" -> "k", "p" -> "p"),
        notMatched = insertAll("k", "p", "v"))
    }
    assert(read <= perPart + srcRows,
      s"read $read records; the touched partition holds $perPart rows, " +
        s"the source $srcRows, the store ${parts * perPart}")
  }

  /** An upsert batch in partition 5: 30 stored keys, all in its first
    * file, and one new key. */
  private def upsertFive(): DataFrame = {
    import spark.implicits._
    ((5L until 305L by parts.toLong).map(k => (k, 5, f"u$k%04d"))
      :+ ((5005L, 5, "u5005"))).toDF("k", "p", "v")
  }

  test("merge and mergeUpdate prune to the source's partition: at most " +
    "4 of 20 files opened, the replay's rows, that partition's records") {
    val upd = upsertFive()
    val srcRows = upd.count()
    val (path, base) = partitioned()
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val read = recordsRead {
      Snapshots.merge(spark, path, upd, Seq("k", "p"))
    }
    val opened = graft.io.SnapshotReaderFactory.filesOpened.get()
    assert(opened <= 4L, s"merge opened $opened of ${2 * parts} files")
    val replay = base.join(upd.select("k"), Seq("k"), "left_anti")
      .unionByName(upd)
    assert(rows(Snapshots.read(spark, path)) === rows(replay))
    // discovery reads the touched partition's keys; the rewrite and
    // the inserts' anti-join each read its affected file, half of it
    assert(read <= 2 * perPart + srcRows,
      s"merge read $read records; the touched partition holds " +
        s"$perPart rows, the source $srcRows, the store ${parts * perPart}")
    // the same batch as a partial-column update with inserts
    val (path2, base2) = partitioned()
    val upd2 = upd.select(col("k"), col("p"), concat(col("v"), lit("!"))
      .as("v"))
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val read2 = recordsRead {
      Snapshots.mergeUpdate(spark, path2, upd2, Seq("k", "p"), Seq("v"),
        insertUnmatched = true)
    }
    val opened2 = graft.io.SnapshotReaderFactory.filesOpened.get()
    assert(opened2 <= 4L,
      s"mergeUpdate opened $opened2 of ${2 * parts} files")
    val replay2 = base2.join(upd2.select("k"), Seq("k"), "left_anti")
      .unionByName(upd2)
    assert(rows(Snapshots.read(spark, path2)) === rows(replay2))
    assert(read2 <= 2 * perPart + srcRows,
      s"mergeUpdate read $read2 records; the touched partition holds " +
        s"$perPart rows, the source $srcRows, the store ${parts * perPart}")
  }
}
