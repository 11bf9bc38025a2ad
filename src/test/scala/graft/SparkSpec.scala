package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session;
  * getOrCreate makes suites composable under sbt's single forked JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Store-relative paths of the data files the DSv2 snapshot scans
    * in `df`'s physical plan read — their planned input partitions,
    * after the scan's manifest pruning. */
  def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }.collect { case s: graft.io.SnapshotBatchScan =>
      s.planInputPartitions().toSeq.map(
        _.asInstanceOf[graft.io.SnapshotInputPartition].rel)
    }.flatten.distinct

  /** Runs `body` with the given session confs set, restoring each
    * key's previous value (or unsetting it) afterwards. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val was = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally was.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The data files a store's latest version lists. */
  def storeFiles(path: String): Int =
    graft.io.Snapshots.stateAt(spark, path,
      graft.io.Snapshots.latestVersion(spark, path).get)._3.size

  /** (files a `readBetween` plans, files the store lists). */
  def plannedBetween(path: String, column: String, lo: Double,
                     hi: Double): (Seq[String], Int) =
    (plannedFiles(graft.io.Snapshots.readBetween(spark, path, column,
      lo, hi)), storeFiles(path))

  /** (files a `readBetweenStrings` plans, files the store lists). */
  def plannedBetweenStrings(path: String, column: String, lo: String,
                            hi: String): (Seq[String], Int) =
    (plannedFiles(graft.io.Snapshots.readBetweenStrings(spark, path,
      column, lo, hi)), storeFiles(path))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // the generated-code cache posture graft ships (GraftSession)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      // same streaming state-store posture as GraftSession: specs
      // must exercise the store the production session runs on
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "boundedMemoryUsage", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
