package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory: every entry point (Verify, Bench,
  * PlanDump, user code) gets the same scale posture — AQE with skew
  * handling, bounded shuffle partitions, UTC session time, and the
  * legacy nanos conf the driver's TIMESTAMP(NANOS) test tables need.
  */
object GraftSession {
  /** Entries in Spark's generated-code cache (the static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). Catalyst
    * compiles each whole-stage-codegen source with Janino and keys the
    * compiled class by (thread context class loader, source), so in
    * local mode one source that is compiled on a driver-side stage
    * thread and again inside a task holds two entries. One
    * `corpus_curation` batch (Jaccard pairs, connected-component
    * rounds, curation, the mix) plans more than 100 distinct classes,
    * so at the default size every batch evicts what the previous one
    * compiled and compiles it again; 1,000 holds a whole pipeline's
    * working set. */
  val CodegenCacheEntries = 1000

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
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // generated classes are named without the whole-stage-codegen
      // stage id: AQE numbers stages in the order it re-plans them,
      // which follows the order query stages finish, so with the id in
      // the name the same stage's source (the cache key) differs from
      // run to run and recompiles
      .config("spark.sql.codegen.useIdInClassName", "false")
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
