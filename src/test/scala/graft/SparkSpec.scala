package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session;
  * getOrCreate makes suites composable under sbt's single forked JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
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
