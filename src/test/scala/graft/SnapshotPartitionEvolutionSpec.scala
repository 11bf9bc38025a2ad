package graft

import org.apache.spark.sql.functions.{col, format_string}

import graft.io.Snapshots

/** Partition-spec changes a reader can trust: a bucket or truncate
  * directory name (`id_bucket`, `s_trunc`) carries no width, so a
  * width change on a non-empty table refuses, while adding a bucket
  * field to a table whose files predate it reads every row back. */
class SnapshotPartitionEvolutionSpec extends SparkSpec {

  private def newStore: String =
    java.nio.file.Files.createTempDirectory("graft_spec_evolution")
      .toString + "/tbl"

  private def ids(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"),
      format_string("s%04d", col("id")).as("s"))

  test("a bucket or truncate width change on a non-empty table refuses") {
    val a = newStore
    Snapshots.commit(ids(0L, 64L), a, partitionBy = Seq("bucket(8, id)"))
    val e = intercept[IllegalArgumentException](
      Snapshots.alterPartitionSpec(spark, a, Seq("bucket(16, id)")))
    assert(e.getMessage.contains("WIDTH"), e.getMessage)
    // removing the field is allowed; adding it back at another width
    // would still meet the mod-8 directories
    Snapshots.alterPartitionSpec(spark, a, Nil)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.alterPartitionSpec(spark, a, Seq("bucket(16, id)")))
    assert(e2.getMessage.contains("WIDTH"), e2.getMessage)
    val t = newStore
    Snapshots.commit(ids(0L, 64L), t, partitionBy = Seq("truncate(4, s)"))
    val e3 = intercept[IllegalArgumentException](
      Snapshots.alterPartitionSpec(spark, t, Seq("truncate(3, s)")))
    assert(e3.getMessage.contains("WIDTH"), e3.getMessage)
    // every row still reads back under the width it was written with
    assert(Snapshots.read(spark, a).count() === 64L)
    assert((0L until 64L).forall(i =>
      Snapshots.readEquals(spark, a, "id", i).count() == 1L))
    // an empty table changes widths freely
    val empty = newStore
    Snapshots.createEmpty(spark, empty, ids(0L, 1L).schema,
      Seq("bucket(8, id)"))
    Snapshots.alterPartitionSpec(spark, empty, Seq("bucket(16, id)"))
    Snapshots.commitAppend(ids(0L, 64L), empty)
    assert((0L until 64L).forall(i =>
      Snapshots.readEquals(spark, empty, "id", i).count() == 1L))
  }

  test("a bucket field added to an unpartitioned table: point reads, " +
    "SQL filters and the join with a bucketed table see all 80 ids") {
    val a = newStore
    Snapshots.commit(ids(0L, 64L), a)
    Snapshots.alterPartitionSpec(spark, a, Seq("bucket(16, id)"))
    Snapshots.commitAppend(ids(64L, 80L), a)
    val b = newStore
    Snapshots.commit(ids(0L, 80L), b, partitionBy = Seq("bucket(16, id)"))
    assert(Snapshots.read(spark, a).count() === 80L)
    assert((0L until 80L).count(i =>
      Snapshots.readEquals(spark, a, "id", i).count() == 1L) === 80)
    assert(Snapshots.read(spark, a).where("id < 10").count() === 10L)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = Snapshots.read(spark, a).select("id")
        .join(Snapshots.read(spark, b).select("id"), "id")
      assert(joined.count() === 80L)
      assert(joined.distinct().count() === 80L)
    }
  }
}
