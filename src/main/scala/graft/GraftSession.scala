package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory: every entry point (Verify, Bench,
  * PlanDump, user code) gets the same scale posture — AQE with skew
  * handling, bounded shuffle partitions, UTC session time, and the
  * legacy nanos conf the driver's TIMESTAMP(NANOS) test tables need.
  */
object GraftSession {
  def build(appName: String = "graft",
            master: String = s"local[${sys.env.getOrElse(
              "SPARK_GRAFT_CPUS", "32")}]",
            shufflePartitions: Int =
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
           : SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB state store: streaming state (stream-stream join
      // buffers, dedup key sets, mapGroupsWithState payloads) lives
      // OFF-HEAP in a native LSM instead of the default provider's
      // executor-heap HashMap — at 100x state sizes the heap-backed
      // store OOMs or GC-thrashes long before the box runs out of
      // memory, while RocksDB spills to local SSD and keeps
      // checkpointing incremental (changelog + SST files). Bounded
      // memory via the soft limit below; unbounded-by-default is how
      // a 1000-executor streaming job dies at 3am.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "boundedMemoryUsage", "true")
      // CHANGELOG checkpointing: per-batch durability uploads the
      // batch's state CHANGES instead of a full SST snapshot — at
      // 100x state sizes full-SST-per-batch is the dominant
      // streaming tax (checkpoint bytes scale with STATE, not with
      // the batch). Snapshots still upload in the background on the
      // maintenance cadence for fast restore.
      // MIGRATION NOTE: RocksDB checkpoints are NOT readable by the
      // default HDFS-backed provider (and vice versa) — a streaming
      // query restarted from a checkpoint written under the other
      // provider fails to load its state. Fresh checkpoints only;
      // to keep an existing HDFS-provider stream, override
      // spark.sql.streaming.stateStore.providerClass back before
      // restart.
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
