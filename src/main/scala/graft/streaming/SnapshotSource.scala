package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType
import graft.io.Snapshots

/** The snapshot store as a STREAMING SOURCE — "read the table as a
  * stream", the Delta/Iceberg streaming-read posture: offsets are
  * COMMITTED VERSIONS (checkpointed like any other source, so a
  * restarted query resumes at the exact version it left), the first
  * batch is the full snapshot at the then-latest version, and every
  * later batch is the manifest set-difference between two versions —
  * an O(delta-files) incremental read, never a table rescan, however
  * large the table grows. This closes the loop with
  * [[Streams.snapshotStream]]: one job appends micro-batches into the
  * store, any number of downstream jobs stream exactly those commits
  * out of it, each with its own checkpointed cursor.
  *
  * Contracts:
  *   - **Append-only ranges.** A non-append-only version range (an
  *     overwrite, rollback or retention pass between polls) fails the
  *     query LOUDLY via [[Snapshots.appendDelta]]'s refusal — "rows
  *     added" is not answerable there, and a streaming consumer must
  *     find out, not silently skip. (A compaction rewrites every
  *     file, so stream from ingestion tables and compact downstream
  *     copies — or restart the stream from scratch after one.)
  *   - **Schema pinned per run.** The schema is fixed when the source
  *     is created (standard streaming-source behavior — the engine
  *     requires every batch to match); columns added by later
  *     commits null-fill out of old files after a restart, exactly
  *     like the batch reader. A TYPE WIDENING mid-stream fails
  *     LOUDLY (wider pages refuse to read under the pinned narrower
  *     schema — pinned by WidenProbeSpec, never a silent
  *     truncation); restart the query to pick up the widened
  *     schema.
  *   - **Batches read through [[graft.io.SnapshotFileIndex]]** — the
  *     same zero-listing manifest-driven scan as batch reads, wrapped
  *     streaming via the same `isStreaming` relation flag the
  *     built-in file source uses.
  */
private[graft] class SnapshotSource(sqlContext: SQLContext,
                                    path: String,
                                    maxVersionsPerTrigger: Option[Long],
                                    readChangeFeed: Boolean = false,
                                    startingVersion: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming
    .SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"snapshot source: maxVersionsPerTrigger must be >= 1, got " +
      s"${maxVersionsPerTrigger.orNull}")
  require(startingVersion.isEmpty || readChangeFeed,
    "snapshot source: startingVersion applies to readChangeFeed=true " +
      "only - the plain append stream always starts from the full " +
      "snapshot (silently ignoring it would reprocess history the " +
      "caller asked to skip)")
  require(startingVersion.forall(_ >= 1),
    s"snapshot source: startingVersion must be >= 1 (version numbers " +
      s"start at 1; 1 streams the first commit's own rows), got " +
      s"${startingVersion.orNull}")

  private val spark = sqlContext.sparkSession

  private val (pinnedSchema, pinnedPhysSchema, pinnedPartCols)
      : (StructType, StructType, Seq[String]) = {
    val v = Snapshots.latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot source: no committed version under $path - commit " +
          "the table (or its first batch) before streaming from it"))
    val (s, pc, _, _, cm) = Snapshots.stateAt(spark, path, v)
    (s, Snapshots.physicalSchemaOf(s, cm), pc)
  }

  override val schema: StructType =
    if (readChangeFeed) SnapshotSource.cdcSchema(pinnedSchema)
    else pinnedSchema

  /** The version CDC batches diff FROM when no offset is
    * checkpointed: `startingVersion`'s predecessor (its own changes
    * included), else the version live at source creation (only
    * future commits stream - the Delta readChangeFeed default).
    */
  private val cdcBase: Long = {
    val latest = Snapshots.latestVersion(spark, path).getOrElse(0L)
    startingVersion.foreach(sv => require(sv <= latest + 1L,
      s"snapshot source: startingVersion $sv is beyond the table's " +
        s"latest version $latest - a clamped start would silently " +
        "stream versions the caller asked to exclude"))
    startingVersion.map(_ - 1L).getOrElse(latest)
  }

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset from checkpoint
  }

  // Trigger.AvailableNow contract: pin the catch-up target when the
  // run starts; versions committed mid-run wait for the next run.
  // Without this trait Spark degrades AvailableNow to a single
  // micro-batch, which would defeat the admission cap below.
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Snapshots.latestVersion(spark, path)

  private def latestAvailable: Option[Long] = {
    val latest = Snapshots.latestVersion(spark, path)
    availableNowTarget match {
      case Some(t) => latest.map(math.min(_, t))
      case None => latest
    }
  }

  override def getOffset: Option[Offset] =
    latestAvailable.map(new LongOffset(_))

  /** Backpressure, the admission-control way (the engine hands
    * `latestOffset` the consumer's COMMITTED offset, so the cap
    * survives restarts — the `maxFilesPerTrigger` mechanism): after
    * the initial full-catch-up batch, each micro-batch admits at most
    * `maxVersionsPerTrigger` further versions, bounding batch size
    * when a consumer falls far behind a busy ingestion stream.
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    latestAvailable.map { latest =>
      val capped = (maxVersionsPerTrigger, Option(start)) match {
        case (Some(n), Some(s)) =>
          math.min(latest, connectorVersionOf(s) + n)
        case _ => latest // first batch: full catch-up
      }
      new LongOffset(capped)
    }.orNull

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  private def connectorVersionOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    if (readChangeFeed) {
      val from = start.map(versionOf).getOrElse(cdcBase)
      val changes =
        if (from >= endV)
          Snapshots.changeFeed(spark, path, endV, endV) // empty, typed
        else Snapshots.changeFeed(spark, path, from, endV)
      // schema pinned per run, like the non-CDC path: a column added
      // after the pin must not widen a batch (the engine asserts the
      // batch matches the declared schema); a renamed column fails
      // the select LOUDLY, matching changeFeed's own refusal
      return org.apache.spark.sql.graft.StreamingRelationBridge
        .streamingFromPlan(changes.select(
          SnapshotSource.cdcSchema(pinnedSchema)
            .fieldNames.map(col).toSeq: _*))
    }
    val fresh = start.map(versionOf) match {
      case None =>
        val st = Snapshots.stateAt(spark, path, endV)
        // the initial batch reads the FULL snapshot as bare entries —
        // pending merge-on-read deletes would resurrect; compact
        // applies them physically and clears the refusal
        require(st._4.isEmpty,
          s"snapshot source: version $endV of $path carries " +
            "merge-on-read delete files - compact the table first " +
            "(the batch read applies them; the append stream cannot)")
        st._3
      case Some(s) if s >= endV => Nil // recovery replay of a no-op range
      case Some(s) => Snapshots.appendDelta(spark, path, s, endV)._3
    }
    org.apache.spark.sql.graft.StreamingRelationBridge.streamingFrom(
        spark, Snapshots.entriesRelation(spark, path, pinnedPhysSchema,
          pinnedPartCols, fresh))
      .select(pinnedPhysSchema.fields.zip(pinnedSchema.fields).map {
        case (p, l) => col(p.name).as(l.name) }.toSeq: _*)
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotSource[$path]"
}

private[graft] object SnapshotSource {
  /** Table schema + the two change-feed columns. */
  def cdcSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
}

/** The `graft-snapshot` data source (registered via
  * META-INF/services, so `format("graft-snapshot")` resolves):
  *
  *   - **Batch**: `spark.read.format("graft-snapshot").load(path)` —
  *     latest snapshot; `option("version", v)` /
  *     `option("timestampAsOf", epochMillis)` / `option("tag", name)`
  *     time-travel. Returns the manifest-driven relation directly
  *     (column order: data columns then partition columns — the
  *     HadoopFsRelation layout every format-based reader exposes).
  *   - **Streaming**: `spark.readStream.format("graft-snapshot")
  *     .load(path)` — the [[SnapshotSource]] version-offset
  *     incremental stream.
  */
class SnapshotSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** Batch WRITE:
    * `df.write.format("graft-snapshot").mode(m).save(path)` —
    * `overwrite` → [[Snapshots.commit]] (a new full-table version;
    * `option("partitionBy", "a,b")` sets the layout), `append` →
    * [[Snapshots.commitAppend]] (partitioning inherited; on a table
    * that does not exist yet, the append bootstraps it, honoring
    * `partitionBy`), `errorifexists`/`ignore` with their standard
    * meanings. Every mode lands as one atomic, time-travelable
    * commit.
    */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val partitionBy = parameters.get("partitionBy")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // bootstrap is race-safe through createEmpty's EXCLUSIVE v1
    // claim: a stale exists-then-commit would let an append/ignore
    // writer OVERWRITE a concurrent writer's freshly-committed rows
    def claimFresh(): Boolean =
      try { Snapshots.createEmpty(spark, path, data.schema,
        partitionBy); true }
      catch {
        case _: java.util.ConcurrentModificationException => false
        case _: IllegalArgumentException => false // already created
      }
    val exists = Snapshots.latestVersion(spark, path).nonEmpty
    mode match {
      case SaveMode.Overwrite =>
        Snapshots.commit(data, path, partitionBy); ()
      case SaveMode.Append =>
        // an unpartitioned append bootstraps safely on its own
        // (commitAppend handles base=None and rebases under races);
        // a PARTITIONED bootstrap claims the layout first - losing
        // the claim just means another writer created the table, and
        // appends compose under OCC rebase
        if (!exists && partitionBy.nonEmpty) { claimFresh(); () }
        Snapshots.commitAppend(data, path); ()
      case SaveMode.ErrorIfExists =>
        if (exists || !claimFresh()) throw new IllegalArgumentException(
          s"snapshot: $path already has committed versions " +
            "(mode=errorifexists); use append or overwrite")
        Snapshots.commitAppend(data, path); ()
      case SaveMode.Ignore =>
        if (!exists && claimFresh()) {
          Snapshots.commitAppend(data, path); ()
        }
    }
    createRelation(sqlContext, parameters)
  }

  /** Streaming SINK:
    * `df.writeStream.format("graft-snapshot").option("path", p)` —
    * append mode lands one append commit per micro-batch, EXACTLY
    * ONCE under replay (each batch commits with a
    * `(appId, batchId)` txn marker derived from the checkpoint
    * location — the [[Streams.snapshotStream]] contract behind the
    * standard sink API); complete mode overwrites the table each
    * batch (a streaming aggregate as an always-current, still
    * time-travelable table — replays converge by overwriting the
    * same content). `partitionBy(...)` on the writer sets the
    * layout. Update mode refuses (no keyed semantics here — use
    * [[Streams.snapshotUpsertStream]]). Empty batches are skipped
    * (no burned versions).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val path = pathOf(parameters)
    require(outputMode != OutputMode.Update(),
      "snapshot sink: update mode has no whole-row table meaning - " +
        "use append, complete, or Streams.snapshotUpsertStream for " +
        "keyed upserts")
    val appId = parameters.get("checkpointLocation")
      .map(c => "ckpt-" + c.replace(":", "_"))
      .getOrElse("sink-" + java.util.UUID.randomUUID())
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long,
                            data: org.apache.spark.sql.DataFrame): Unit = {
        val stable = org.apache.spark.sql.graft.StreamingRelationBridge
          .stableBatch(data).persist()
        try {
          if (!stable.isEmpty) {
            if (outputMode == OutputMode.Complete()) {
              Snapshots.commit(stable, path, partitionColumns); ()
            } else {
              // bootstrap the declared layout race-safely, then
              // append with the replay guard
              if (partitionColumns.nonEmpty &&
                  Snapshots.latestVersion(
                    stable.sparkSession, path).isEmpty) {
                try Snapshots.createEmpty(stable.sparkSession, path,
                  stable.schema, partitionColumns)
                catch {
                  case _: java.util.ConcurrentModificationException =>
                  case _: IllegalArgumentException =>
                }
              }
              Snapshots.commitAppend(stable, path,
                txn = Some((appId, batchId)))
              ()
            }
          }
        } finally { stable.unpersist(); () }
      }
      override def toString: String = s"SnapshotSink[$path]"
    }
  }

  private def pathOf(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "snapshot source: the 'path' option is required"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val v = parameters.get("version").map(_.trim.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        Snapshots.versionAsOf(spark, path, ts.trim.toLong)))
      .orElse(parameters.get("tag").map(t =>
        Snapshots.tags(spark, path).getOrElse(t,
          throw new IllegalArgumentException(
            s"snapshot: no tag '$t' under $path"))))
      .getOrElse(Snapshots.latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot: no committed version under $path")))
    val (schema, partCols, entries, dvs, colMap) =
      Snapshots.stateAt(spark, path, v)
    if (dvs.isEmpty && colMap.isEmpty)
      Snapshots.entriesRelation(spark, path, schema, partCols, entries)
    else {
      // merge-on-read deletes need the anti-join applied: serve a
      // TableScan over the live read (correctness over pushdown on
      // this DSv1 path; the plan-native reads keep full pruning)
      val live = Snapshots.read(spark, path, Some(v))
      val sql = sqlContext
      new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
        override val sqlContext: SQLContext = sql
        override def schema: StructType = live.schema
        override def buildScan()
            : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          live.rdd
      }
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(schema.isEmpty,
      "snapshot source: the schema comes from the store's manifest; " +
        "a user-supplied schema is not accepted")
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val v = Snapshots.latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot source: no committed version under $path"))
    val base = Snapshots.stateAt(spark, path, v)._1
    val cdc = parameters.get("readChangeFeed").exists(_.toBoolean)
    ("graft-snapshot",
      if (cdc) SnapshotSource.cdcSchema(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    new SnapshotSource(sqlContext, pathOf(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.trim.toLong),
      readChangeFeed =
        parameters.get("readChangeFeed").exists(_.toBoolean),
      startingVersion =
        parameters.get("startingVersion").map(_.trim.toLong))
}
