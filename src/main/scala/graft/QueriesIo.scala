package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.functions.Fresco
import graft.io.Sinks
import graft.multimodal.Multimodal
import graft.streaming.Streams

/** Sink, streaming, and multimodal queries (SURVEY.md §2.1/§2.9 +
  * LLM-pipeline extensions). Sink queries write to a scratch dir then
  * read back, so the oracle checks the full write→read contract.
  */
private[graft] object QueriesIo {

  import Tables.t

  import Tables.events

  private def scratch(dir: String, name: String): String =
    s"/tmp/graft_${name}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  private def tableName(dir: String, name: String): String =
    s"${name}_${math.abs(dir.hashCode).toString}"

  // --- sinks -----------------------------------------------------------

  /** S9/S10/A1/T4: month-partitioned parquet sink, read back. */
  def partitionedSink(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "part_sink")
    val df = events(s, dir).select(col("event_id"), col("value"),
      Fresco.monthKey(col("ts")).as("ym"))
    Sinks.writePartitioned(df, path, Seq("ym"))
    s.read.parquet(path).select("event_id", "value", "ym")
  }

  /** S11: monthly merge+dedup sink — two overlapping batches, result
    * must be the exact distinct union.
    */
  def mergeDedupSink(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "merge_sink")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val all = events(s, dir).select(col("event_id"), col("event_type"),
      col("value"), Fresco.monthKey(col("ts")).as("ym"),
      dayofmonth(col("ts")).as("day"))
    val batch1 = all.filter(col("day") <= 15).drop("day")
    val batch2 = all.filter(col("day") >= 10).drop("day")
    Sinks.mergeDedup(s, batch1, path, "ym")
    Sinks.mergeDedup(s, batch2, path, "ym")
    s.read.parquet(path).select("event_id", "event_type", "value", "ym")
  }

  /** S5: record-count-bounded parquet split, read back losslessly. */
  def splitSink(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "split_sink")
    Sinks.writeParquetSplit(
      events(s, dir).select("event_id", "value"), path, 1000L)
    s.read.parquet(path).select("event_id", "value")
  }

  /** Compaction: splinter events into many small files, bin-pack them
    * back, read losslessly.
    */
  def compactSink(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "compact_sink")
    Sinks.writeParquetSplit(
      events(s, dir).select("event_id", "event_type", "value"), path, 2000L)
    Sinks.compact(s, path, 1000000L)
    s.read.parquet(path).select("event_id", "event_type", "value")
  }

  // --- streaming -------------------------------------------------------

  /** T1/T7: watermarked tumbling-window streaming aggregation
    * (AvailableNow catch-up over the file source, memory sink).
    */
  def streamTumbling(s: SparkSession, dir: String): DataFrame =
    Streams.runToTable(
      Streams.tumblingAgg(Streams.eventsStream(s, dir)),
      tableName(dir, "strm_tumbling"), OutputMode.Complete())

  /** Sliding-window variant (12 h / 6 h). */
  def streamSliding(s: SparkSession, dir: String): DataFrame =
    Streams.runToTable(
      Streams.slidingAgg(Streams.eventsStream(s, dir)),
      tableName(dir, "strm_sliding"), OutputMode.Complete())

  /** Streaming session windows (1 h gap), complete-mode catch-up.
    * Reads the tie-staged source so the gate exercises the exact-gap
    * merge boundary (see [[graft.Tables.SessionTie]]); the oracle
    * unions the identical fixture rows.
    */
  def streamSession(s: SparkSession, dir: String): DataFrame =
    Streams.runToTable(
      Streams.sessionAgg(Streams.eventsWithSessionTieStream(s, dir)),
      tableName(dir, "strm_session"), OutputMode.Complete())

  /** Stateful per-user streaming aggregate. */
  def streamUserStats(s: SparkSession, dir: String): DataFrame =
    Streams.runToTable(
      Streams.userStats(Streams.eventsStream(s, dir)),
      tableName(dir, "strm_user"), OutputMode.Complete())

  /** Watermarked streaming dedup (T3 idempotency, in-stream). */
  def streamDedup(s: SparkSession, dir: String): DataFrame =
    Streams.runToTable(
      Streams.streamingDedup(Streams.eventsStream(s, dir)),
      tableName(dir, "strm_dedup"), OutputMode.Append())

  /** Watermarked stream-stream inner join (purchase × prior-hour
    * clicks per user).
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = Streams.eventsStreamPair(s, dir)
    Streams.runToTable(
      Streams.purchaseClickJoin(l, r),
      tableName(dir, "strm_join"), OutputMode.Append())
  }

  /** Watermarked stream-stream LEFT OUTER join: every purchase emits,
    * click-less ones with a NULL click_id — but only after the
    * watermark proves no click can still arrive, which for a finite
    * source requires the flush sentinels
    * ([[Streams.eventsWithFlushSentinelStream]]); the `user_id >= 0`
    * filter drops the sentinels themselves. Oracle: the plain batch
    * LEFT JOIN.
    */
  def streamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = Streams.eventsWithFlushSentinelStreamPair(s, dir)
    Streams.runToTable(
      Streams.purchaseClickLeftJoin(l, r),
      tableName(dir, "strm_ljoin"), OutputMode.Append())
      // sentinel exclusion on the BATCH result, never on the streaming
      // plan: a user_id predicate there pushes through the join into
      // both sides and deletes the sentinels BEFORE the watermark
      // nodes — the watermark stalls at the real data's edge and the
      // last purchases' outer rows are silently withheld (found live;
      // the failure is bit-for-bit deterministic, not a race).
      // NULL-preserving spelling: only the NEGATIVE sentinel ids are
      // excluded; a NULL-keyed outer row (were the fixture ever to
      // carry one) survives, matching the batch oracle
      .filter(!(col("user_id") < 0))
  }

  /** Watermarked stream-stream FULL OUTER join
    * ([[Streams.purchaseClickFullJoin]]): unmatched purchases AND
    * unmatched clicks both emit NULL-extended rows after the sentinel
    * flush; sentinel exclusion again on the BATCH result (see
    * [[streamLeftJoin]] — a streaming-side predicate would push
    * through the join and delete the sentinels pre-watermark).
    */
  def streamFullJoin(s: SparkSession, dir: String): DataFrame = {
    val (l, r) = Streams.eventsWithFlushSentinelStreamPair(s, dir)
    Streams.runToTable(
      Streams.purchaseClickFullJoin(l, r),
      tableName(dir, "strm_fjoin"), OutputMode.Append())
      // NULL-preserving sentinel exclusion — see [[streamLeftJoin]]
      .filter(!(col("user_id") < 0))
  }

  /** Z-order clustered layout: events written sorted by the
    * bit-interleaved (user_id, time) key, read back with the z key
    * gated against an independent recomputation.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "zorder")
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t_us"))
    Sinks.writeZOrderLayout(ev, path, "user_id", "t_us", 8)
    s.read.parquet(path).select("event_id", "user_id", "t_us", "z")
  }

  /** Stream-static broadcast join: streaming events enriched with the
    * customer dimension, aggregated per (segment, event_type).
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    Streams.runToTable(
      Streams.enrichedSegmentStats(Streams.eventsStream(s, dir), dim),
      tableName(dir, "strm_enrich"), OutputMode.Complete())
  }

  /** Incremental aggregate store: per-event_type counts and cent sums
    * folded in across two disjoint batches; must equal the one-shot
    * aggregate over all data.
    */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "incr_agg")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val all = events(s, dir).select(col("event_type"),
      round(col("value") * 100.0, 0).cast("long").as("cents"),
      dayofmonth(col("ts")).as("day"))
    def batchAgg(df: DataFrame): DataFrame = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    Sinks.mergeAggregate(s, batchAgg(all.filter(col("day") <= 15)),
      path, Seq("event_type"))
    Sinks.mergeAggregate(s, batchAgg(all.filter(col("day") >= 16)),
      path, Seq("event_type"))
    s.read.parquet(path).select("event_type", "n", "sum_cents")
  }

  /** Incremental DISTINCT-count store: mergeable DataSketches HLL
    * sketches per event_type folded in across two disjoint batches
    * ([[Sinks.mergeDistinctSketch]]), plus a total row re-aggregated
    * from the STORED sketches — the grain change a stored exact count
    * cannot make. Estimates are gated as within-tolerance booleans
    * the oracle expects TRUE (same posture as `q_approx_stats`).
    */
  def hllStore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "hll_store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = events(s, dir)
    Sinks.mergeDistinctSketch(s, ev.filter(col("event_id") % 2 === 0),
      path, Seq("event_type"), "user_id")
    Sinks.mergeDistinctSketch(s, ev.filter(col("event_id") % 2 =!= 0),
      path, Seq("event_type"), "user_id")
    val store = s.read.parquet(path)
    val est = Sinks.distinctEstimate(store, Seq("event_type"))
      .unionByName(Sinks.distinctEstimate(store, Seq.empty)
        .withColumn("event_type", lit("__total__")))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
      .unionByName(ev.agg(countDistinct("user_id").as("exact_users"))
        .withColumn("event_type", lit("__total__")))
    exact.join(est, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_distinct").cast("double") -
          col("exact_users").cast("double"))
          <= col("exact_users").cast("double") * 0.25 + 2.0).as("hll_ok"))
  }

  /** Incremental QUANTILE store ([[Sinks.mergeQuantileSketch]] —
    * custom KLL `TypedImperativeAggregate`, the quantile member of
    * the mergeable-sketch family): per-event_type sketches folded
    * across two disjoint batches, plus a `__total__` row
    * re-aggregated from the STORED sketches (the grain change a
    * stored exact percentile cannot make). Estimates are gated as
    * rank-error booleans (exact CDF of each estimated quantile must
    * sit within ±5% of its probability — KLL guarantees ~1.65% at
    * k=200), the `q_hll_store` posture for quantiles.
    */
  def kllStore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "kll_store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = events(s, dir).select(col("event_id"), col("event_type"),
      col("value"))
    Sinks.mergeQuantileSketch(s, ev.filter(col("event_id") % 2 === 0),
      path, Seq("event_type"), "value")
    Sinks.mergeQuantileSketch(s, ev.filter(col("event_id") % 2 =!= 0),
      path, Seq("event_type"), "value")
    val store = s.read.parquet(path)
    val probs = Seq(0.25, 0.5, 0.9)
    val estTyped = Sinks.quantileEstimate(store, Seq("event_type"), probs)
    val typedOk = ev.join(estTyped, Seq("event_type"))
      .groupBy("event_type")
      .agg(
        (abs(avg(when(col("value") <= col("q25"), 1.0).otherwise(0.0))
          - 0.25) <= 0.05).as("ok25"),
        (abs(avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0))
          - 0.5) <= 0.05).as("ok50"),
        (abs(avg(when(col("value") <= col("q90"), 1.0).otherwise(0.0))
          - 0.9) <= 0.05).as("ok90"))
    val estTotal = Sinks.quantileEstimate(store, Seq.empty, probs)
    val totalOk = ev.crossJoin(broadcast(estTotal))
      .agg(
        (abs(avg(when(col("value") <= col("q25"), 1.0).otherwise(0.0))
          - 0.25) <= 0.05).as("ok25"),
        (abs(avg(when(col("value") <= col("q50"), 1.0).otherwise(0.0))
          - 0.5) <= 0.05).as("ok50"),
        (abs(avg(when(col("value") <= col("q90"), 1.0).otherwise(0.0))
          - 0.9) <= 0.05).as("ok90"))
      .withColumn("event_type", lit("__total__"))
      .select("event_type", "ok25", "ok50", "ok90")
    typedOk.unionByName(totalOk)
  }

  /** Incremental SET store ([[Sinks.mergeSetSketch]] — custom theta
    * `TypedImperativeAggregate`s): per-event_type user sketches
    * folded across two disjoint batches, then (a) per-type distinct
    * estimates and (b) the INTERSECTION estimate of the click ∩
    * purchase user sets — the set operation HLL cannot perform,
    * answered from KB sketches with no raw join. Gated as
    * within-tolerance booleans against the exact counts, the
    * `q_hll_store` posture.
    */
  def thetaStore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "theta_store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = events(s, dir)
    Sinks.mergeSetSketch(s, ev.filter(col("event_id") % 2 === 0),
      path, Seq("event_type"), "user_id")
    Sinks.mergeSetSketch(s, ev.filter(col("event_id") % 2 =!= 0),
      path, Seq("event_type"), "user_id")
    val store = s.read.parquet(path)
    val perType = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact"))
      .join(Sinks.setEstimate(store, Seq("event_type")), "event_type")
      .select(col("event_type"),
        (abs(col("approx_distinct") - col("exact").cast("double"))
          <= col("exact").cast("double") * 0.1 + 2.0).as("ok"))
    val exactOverlap = ev.filter(col("event_type") === "click")
      .select("user_id").distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct(), "user_id")
      .count().toDouble
    val overlap = Sinks.setIntersectEstimate(
        store.filter(col("event_type").isin("click", "purchase")))
      .select(lit("__click_x_purchase__").as("event_type"),
        (abs(col("approx_overlap") - exactOverlap)
          <= exactOverlap * 0.15 + 5.0).as("ok"))
    // A \ B: clicked but never purchased (the difference HLL also
    // cannot take), same tolerance posture
    val exactDiff = ev.filter(col("event_type") === "click")
      .select("user_id").distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct(), Seq("user_id"), "left_anti")
      .count().toDouble
    val diff = Sinks.setDifferenceEstimate(
        store.filter(col("event_type") === "click"),
        store.filter(col("event_type") === "purchase"))
      .select(lit("__click_minus_purchase__").as("event_type"),
        (abs(col("approx_difference") - exactDiff)
          <= exactDiff * 0.15 + 5.0).as("ok"))
    perType.unionByName(overlap).unionByName(diff)
  }

  /** Incremental FREQUENT-ITEMS store ([[Sinks
    * .mergeHeavyHittersSketch]] — mergeable Misra–Gries per lang):
    * token sketches folded across two disjoint halves of the corpus.
    * Gate: every per-lang exact top-3 token (Zipfian — their counts
    * far exceed n/(k+1) at k=500) must be PRESENT in the stored
    * sketch; counts in the output come from the exact side (sketch
    * counts are merge-order-dependent, per the documented contract).
    */
  def mgStore(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "mg_store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(graft.functions.TextAnalysis.tokens(col("text")))
        .as("token"))
    Sinks.mergeHeavyHittersSketch(s,
      toks.filter(col("doc_id") % 2 === 0), path, Seq("lang"), "token")
    Sinks.mergeHeavyHittersSketch(s,
      toks.filter(col("doc_id") % 2 === 1), path, Seq("lang"), "token")
    val store = s.read.parquet(path)
    val top = toks.groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("n").desc, col("token"))))
      .filter(col("r") <= 3).drop("r")
    top.join(store, "lang")
      .select(col("lang"), col("token"), col("n"),
        map_contains_key(col("mg"), col("token")).as("in_sketch"))
  }

  /** Schema evolution across partition generations: v=1 files lack a
    * column that v=2 files carry; `mergeSchema` unifies the read
    * (missing columns null-fill) — the schema-drift posture a 100 TB
    * lake accumulates over years of writers.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratch(dir, "schema_evo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    val orders = t(s, dir, "orders")
    orders.select("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/v=1")
    orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$tmp/v=2")
    s.read.option("mergeSchema", "true").parquet(tmp)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("v").cast("long").as("v"))
  }

  // --- multimodal ------------------------------------------------------

  /** Binary payload + per-partition honest metadata probe. Two doc_id
    * slices carry real container headers ([[Multimodal.WavFixture]] /
    * [[Multimodal.FtypFixture]]) so the gate discriminates the WAV fmt
    * parse (sample rate, channels) and the ftyp brand probe from the
    * unknown fallback; the rest are UTF-8 text payloads, honestly
    * reported as `format='unknown'` with null media fields. Image
    * dimensions (imageio path) are pinned by LibraryEdgeSpec — PNG
    * encoders aren't byte-stable across engines, so no image fixture
    * can live in a cross-engine oracle.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMeta(
      t(s, dir, "documents").select(
        col("doc_id").cast("long").as("media_id"),
        when(col("doc_id") % 7 === 0, lit(Multimodal.WavFixture))
          .when(col("doc_id") % 7 === 1, lit(Multimodal.FtypFixture))
          .otherwise(encode(col("text"), "UTF-8")).as("payload")))

  /** Resize plumbing through the oracle gate: the documents payloads
    * are text, so every row takes the deterministic passthrough
    * branch (format sentinel, -1 dims, bytes unchanged — verified via
    * md5). The REAL decode+rescale branch is pinned by
    * LibraryEdgeSpec on in-memory PNGs.
    */
  def mediaResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(
      Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text"),
      maxDim = 64)
      .select(col("media_id"), col("format"), col("width"), col("height"),
        md5(col("payload")).as("payload_md5"))

  /** Frame-sampling plumbing: every 7th of 30 synthetic frames. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text"),
      nFrames = 30, step = 7)

  /** The injected codec seam under the oracle gate: the byte-chunking
    * codec shards every (ASCII text) payload into 32-byte frames,
    * `decodeFrames` keeps frames 0 and 2 of the first four — so the
    * DuckDB oracle can replay the whole path with substr arithmetic,
    * which no image/audio codec's output would permit. Frame payloads
    * come back as text for the value compare.
    */
  def mediaChunks(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFrames(
      Multimodal.attachPayload(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text"),
      Multimodal.byteChunkCodec(32), maxFrames = 4, step = 2)
      .select(col("media_id"), col("frame_no"),
        decode(col("frame"), "UTF-8").as("chunk"))

  /** A canonical 44-byte PCM WAV header with STREAMING (0xFFFFFFFF)
    * size fields — mono, 8-bit, 8 kHz, blockAlign 1 — so one binary
    * literal heads every row's payload and the data section is the
    * document's own UTF-8 bytes. blockAlign 1 makes the codec's
    * 32-sample frames exactly 32-byte text chunks, which a SQL oracle
    * replays with substr arithmetic (the [[mediaChunks]] trick, now
    * through a real RIFF parser).
    */
  private val WavStreamHeader: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(-1) // 0xFFFFFFFF
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1)       // PCM, mono
    b.putInt(8000).putInt(8000)     // sample rate, byte rate
    b.putShort(1).putShort(8)       // blockAlign, bits/sample
    b.put("data".getBytes("US-ASCII")).putInt(-1)
    b.array()
  }

  /** WAV-PCM framing through the real RIFF codec: every document's
    * text becomes the data section of a streaming-size PCM WAV, the
    * codec parses the header and frames the samples (32-sample hop,
    * first 4 frames, keep every 2nd) — same sampled-frame shape and
    * oracle arithmetic as [[mediaChunks]], but the bytes travel
    * through an actual audio container parse, not a byte splitter.
    */
  def wavFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFrames(
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("media_id"),
          concat(lit(WavStreamHeader),
            encode(col("text"), "UTF-8")).as("payload")),
      Multimodal.wavPcmFrameCodec(32), maxFrames = 4, step = 2)
      .select(col("media_id"), col("frame_no"),
        decode(col("frame"), "UTF-8").as("chunk"))

  /** Real AVI container demux through the [[Multimodal.FrameCodec]]
    * seam: each document's text bytes become the video-stream frames
    * of a muxed AVI ([[Multimodal.aviMux]], 48 bytes per `00dc`
    * chunk), and [[Multimodal.aviFrameCodec]] walks RIFF → LIST
    * `movi` → stream chunks to get them back — so the oracle can
    * replay the demux as substring arithmetic, exactly the
    * `q_wav_frames` pattern. The REAL MJPEG pixel path (JPEG frame
    * bodies → ImageIO decode) is pinned by AviCodecSpec, where a SQL
    * oracle can't follow.
    */
  def aviFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        (id, Multimodal.aviMux(bytes.grouped(48).toSeq)) }
      .toDF("media_id", "payload")
    Multimodal.decodeFrames(media, Multimodal.aviFrameCodec,
      maxFrames = 4, step = 2)
      .select(col("media_id"), col("frame_no"),
        decode(col("frame"), "UTF-8").as("chunk"))
  }

  /** Real MP4 (ISO-BMFF) container demux through the
    * [[Multimodal.FrameCodec]] seam: each document's text bytes
    * become the video-track samples of a muxed MP4
    * ([[Multimodal.mp4Mux]], 48 bytes per sample, two samples per
    * chunk so the stsc run table is genuinely walked), and
    * [[Multimodal.mp4FrameCodec]] reconstructs them from the
    * stsz/stsc/stco sample tables — the oracle replays the demux as
    * substring arithmetic, the `q_avi_frames` pattern for the
    * container most real video corpora arrive in.
    */
  def mp4Frames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        (id, Multimodal.mp4Mux(bytes.grouped(48).toSeq)) }
      .toDF("media_id", "payload")
    Multimodal.decodeFrames(media, Multimodal.mp4FrameCodec,
      maxFrames = 4, step = 2)
      .select(col("media_id"), col("frame_no"),
        decode(col("frame"), "UTF-8").as("chunk"))
  }

  /** Salted skew-join: events fact × user dimension, 8 salts; result
    * must equal the plain join (salting only reshapes the shuffle).
    */
  def saltedJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.etl.SkewJoin.saltedJoin(
      events(s, dir).select("event_id", "user_id", "value"),
      dim, "user_id", col("event_id"), 8)
      .select("event_id", "user_id", "value", "c_mktsegment")
  }

  /** Range-clustered layout sink: write with global range partitioning
    * + within-file sort on user_id (file-level clustering for parquet
    * min/max pruning), read back losslessly. RangeLayoutSpec asserts
    * the per-file key ranges are actually disjoint.
    */
  def rangeLayout(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "range_layout")
    Sinks.writeRangeLayout(
      events(s, dir).select("event_id", "user_id", "event_type"),
      path, Seq("user_id"), 8)
    s.read.parquet(path).select("event_id", "user_id", "event_type")
  }

  /** Snapshot-store time travel ([[graft.io.Snapshots]]): commit the
    * even half (v1), APPEND the odd half (v2, structural sharing —
    * only the delta is written); reading v1 must pin the even half
    * forever, whatever landed since. The reproducibility contract a
    * training job needs: pin the corpus version, rerun identically.
    */
  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_tt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    val v1 = BenchSetup.section {
      val v = graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 2 === 0), path)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 2 === 1), path)
      v
    }
    graft.io.Snapshots.read(s, path, Some(v1))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Snapshot-store rollback: a bad overwrite (subset) is undone by a
    * metadata-only rollback to v1 — no data rewritten, latest reads
    * the full table again, and the bad version stays in history.
    */
  def snapshotRollback(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_rb")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    val v1 = BenchSetup.section {
      val v = graft.io.Snapshots.commit(docs, path)
      graft.io.Snapshots.commit(docs.filter(col("n_chars") > 500), path)
      v
    }
    graft.io.Snapshots.rollback(s, path, v1)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Streaming snapshot ingestion: the corpus arrives as TWO files
    * consumed one per micro-batch, each landing as one append commit
    * ([[Streams.snapshotStream]]); the latest snapshot must equal the
    * whole table, and version 1 (checked by SnapshotsSpec) pins the
    * first batch forever.
    */
  def streamSnapshot(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val staged = graft.io.Scratch.dir("graft_stream_snap_docs_")
    BenchSetup.section {
      Seq(("even", col("doc_id") % 2 === 0),
          ("odd", col("doc_id") % 2 === 1)).foreach { case (name, pred) =>
        graft.io.Scratch.stageSingleParquetFile(
          docs.filter(pred), staged, s"$name.parquet")
      }
    }
    val store =
      graft.io.Scratch.dir("graft_stream_snap_store_").toString + "/tbl"
    Streams.snapshotStream(
      Streams.fileStream(s, staged.toString, Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1)), store)
    graft.io.Snapshots.read(s, store)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Copy-on-write MERGE into the snapshot store
    * ([[graft.io.Snapshots.merge]]): commit the full documents table,
    * then upsert a batch that UPDATES every doc_id % 10 == 0 row
    * (text upper-cased) and INSERTS a fresh negative-keyed row per
    * doc_id % 10 == 5 (negative keys can never collide — the
    * generator emits doc_id >= 0). Latest must read as base −
    * replaced + updates; only files holding a matching key were
    * rewritten (pinned by SnapshotsSpec), and the pre-merge version
    * still time-travels to the original.
    */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_mg")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, path) }
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((-col("doc_id") - 1).as("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
    graft.io.Snapshots.merge(s, path, updates, Seq("doc_id"))
    graft.io.Snapshots.read(s, path).select(cols.map(col): _*)
  }

  /** Conditional partial-column MERGE
    * ([[graft.io.Snapshots.mergeUpdate]]): updates carry ONLY
    * (doc_id, text) — matched rows take the new text WHEN the target
    * row's n_chars >= 300 and keep lang/source/n_chars untouched
    * (the column-sparse CDC shape); unmatched negative-keyed rows
    * INSERT with NULL-filled unset columns. Oracle: join + CASE per
    * set column, the SQL MERGE expansion.
    */
  def snapshotMergeCols(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_mc")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, path) }
    val updates = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), upper(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
    graft.io.Snapshots.mergeUpdate(s, path, updates, Seq("doc_id"),
      Seq("text"), condition = Some(col("n_chars") >= 300),
      insertUnmatched = true)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Partition columns in the snapshot manifest
    * ([[graft.io.Snapshots.commit]] with `partitionBy`, read through
    * the snapshot DSv2 scan): events land Hive-style under
    * `ym=<yyyymm>/`, and a one-month range read prunes to that
    * month's files from the manifest alone — the month-directory
    * pruning layout (reference `conte-etl-step-2-manager.py:817-821`)
    * as a first-class table-format concept. SnapshotsSpec pins that
    * the kept-file list really is partition-only; the oracle checks
    * exactness.
    */
  def snapshotPartition(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_pt")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("value"),
      (year(col("ts")) * 100 + month(col("ts"))).cast("long").as("ym"))
    BenchSetup.section {
      graft.io.Snapshots.commit(ev, path, partitionBy = Seq("ym")) }
    val first = ev.agg(min("ym")).collect()(0).getLong(0)
    graft.io.Snapshots.readBetween(s, path, "ym",
      first.toDouble, first.toDouble)
      .select("event_id", "user_id", "value", "ym")
  }

  /** Dynamic partition overwrite
    * ([[graft.io.Snapshots.replacePartitions]]): the reference's
    * idempotent monthly rerun (T4,
    * `conte-etl-step-2-manager.py:817-821`) at table-format level —
    * recompute ONE month (values doubled here), atomically replace
    * exactly that month's partition, touch nothing else. Untouched
    * months carried by reference (zero IO; SnapshotsSpec pins the
    * files byte-identical); oracle: CASE on the month key.
    */
  def snapshotReplace(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_rp")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("value"),
      (year(col("ts")) * 100 + month(col("ts"))).cast("long").as("ym"))
    BenchSetup.section {
      graft.io.Snapshots.commit(ev, path, partitionBy = Seq("ym")) }
    val first = ev.agg(min("ym")).collect()(0).getLong(0)
    val corrected = ev.filter(col("ym") === first)
      .withColumn("value", col("value") * 2.0)
      .select("event_id", "user_id", "value", "ym")
    graft.io.Snapshots.replacePartitions(corrected, path)
    graft.io.Snapshots.read(s, path)
      .select("event_id", "user_id", "value", "ym")
  }

  /** Copy-on-write DELETE from the snapshot store
    * ([[graft.io.Snapshots.deleteWhere]]): commit the full documents
    * table, delete every n_chars < 300 row; only files containing a
    * matching row are rewritten, and the pre-delete version still
    * reads complete.
    */
  def snapshotDelete(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_del")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, path) }
    graft.io.Snapshots.deleteWhere(s, path, col("n_chars") < 300)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Snapshot compaction ([[graft.io.Snapshots.compact]]): the
    * documents table arrives as four quarter appends (four commits'
    * worth of small files — the streaming-ingestion fragmentation
    * shape), then one bin-packing pass rewrites the table into
    * byte-budgeted files as a new version. Rows must be EXACTLY the
    * full table (the compaction moved bytes, never rows), which is
    * what the oracle checks; SnapshotsSpec pins the file-count drop
    * and the idempotent no-op.
    */
  def snapshotCompact(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_cp")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section {
      (0 until 4).foreach(q =>
        graft.io.Snapshots.commitAppend(
          docs.filter(col("doc_id") % 4 === q), path))
    }
    graft.io.Snapshots.compact(s, path, targetFileBytes = 1L << 30)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Clustered compaction ([[graft.io.Snapshots.compact]] with
    * `sortBy`): interleaved appends (every file spans the whole key
    * range) repack into range-partitioned, within-file-sorted files —
    * disjoint per-file doc_id ranges for min/max pruning
    * (SnapshotsSpec pins the disjointness). Rows must be exactly the
    * full table.
    */
  def snapshotCluster(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_cl")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section {
      (0 until 4).foreach(q =>
        graft.io.Snapshots.commitAppend(
          docs.filter(col("doc_id") % 4 === q), path))
    }
    graft.io.Snapshots.compact(s, path, targetFileBytes = 64L << 10,
      sortBy = Seq("doc_id"))
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Manifest-level file skipping ([[graft.io.Snapshots.readBetween]]):
    * cluster the table on doc_id, then range-scan [100, 199] — files
    * whose committed min/max stats exclude the range are never
    * OPENED (SnapshotsSpec pins that the kept-file count actually
    * shrinks); the residual in-plan BETWEEN keeps the result exact.
    */
  def snapshotSkip(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_sk")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    // the clustered layout is FIXTURE here: the gate measures the
    // pruned range read, not the compaction that stages it
    BenchSetup.section {
      (0 until 4).foreach(q =>
        graft.io.Snapshots.commitAppend(
          docs.filter(col("doc_id") % 4 === q), path))
      graft.io.Snapshots.compact(s, path, targetFileBytes = 64L << 10,
        sortBy = Seq("doc_id"))
    }
    graft.io.Snapshots.readBetween(s, path, "doc_id", 100, 199)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Named snapshot pinning ([[graft.io.Snapshots.tag]]): tag the
    * even-half corpus `train-v1`, overwrite the table, expire history
    * down to ONE version — the tag PINS its manifest through the
    * retention pass, so `readTag` still reproduces the training
    * corpus exactly. The by-name reproducibility contract a training
    * pipeline records in its run metadata.
    */
  def snapshotTag(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 2 === 0), path) }
    graft.io.Snapshots.tag(s, path, "train-v1")
    graft.io.Snapshots.commit(docs, path)
    graft.io.Snapshots.expire(s, path, keepLast = 1)
    graft.io.Snapshots.vacuum(s, path)
    graft.io.Snapshots.readTag(s, path, "train-v1")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Streaming upsert into the snapshot store
    * ([[Streams.snapshotUpsertStream]]): the base table is committed,
    * then a CDC-style stream delivers one UPDATE file (doc_id % 10
    * == 0, text upper-cased) and one INSERT file (fresh negative
    * keys), one merge per micro-batch. The two batches touch
    * DISJOINT keys, so the final table is the same whichever file
    * the source picks up first — same end state as the batch
    * [[snapshotMerge]] gate, same oracle.
    */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store =
      graft.io.Scratch.dir("graft_stream_upsert_store_").toString + "/tbl"
    val staged = graft.io.Scratch.dir("graft_stream_upsert_docs_")
    BenchSetup.section {
      graft.io.Snapshots.commit(docs, store)
      graft.io.Scratch.stageSingleParquetFile(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", upper(col("text")))
          .select(docs.columns.map(col).toSeq: _*),
        staged, "updates.parquet")
      graft.io.Scratch.stageSingleParquetFile(
        docs.filter(col("doc_id") % 10 === 5)
          .withColumn("doc_id", -col("doc_id") - 1)
          .select(docs.columns.map(col).toSeq: _*),
        staged, "inserts.parquet")
    }
    Streams.snapshotUpsertStream(
      Streams.fileStream(s, staged.toString, Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1)), store, Seq("doc_id"))
    graft.io.Snapshots.read(s, store)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Snapshot schema evolution: v1 commits the even half WITHOUT
    * n_chars, the odd-half append arrives WITH it. The manifest
    * stores each version's schema (Iceberg posture), so the latest
    * read carries all five columns with n_chars null-filled for the
    * pre-evolution files — deterministically, not subject to which
    * file footer Spark samples — while v1 still time-travels to four
    * columns (pinned by SnapshotsSpec).
    */
  def snapshotEvolve(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_ev")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section {
      graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang", "source"), path)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 2 === 1), path)
    }
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** CDC stream into the snapshot store
    * ([[Streams.snapshotCdcStream]]): the base table is committed,
    * then one micro-batch of op='u' changes (updates + inserts) and
    * one of op='d' deletes (doc_id % 10 == 7) apply as copy-on-write
    * merge / distributed key-delete. The three key sets are disjoint,
    * so the final table is order-independent whatever file the
    * source triggers first.
    */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store =
      graft.io.Scratch.dir("graft_stream_cdc_store_").toString + "/tbl"
    BenchSetup.section { graft.io.Snapshots.commit(docs, store) }
    val staged = graft.io.Scratch.dir("graft_stream_cdc_docs_")
    val upserts = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", -col("doc_id") - 1))
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("u"))
    val deletes = docs.filter(col("doc_id") % 10 === 7)
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("d"))
    BenchSetup.section { // staging the CDC batch files is fixture
      graft.io.Scratch.stageSingleParquetFile(upserts, staged, "a_up.parquet")
      graft.io.Scratch.stageSingleParquetFile(deletes, staged, "b_del.parquet")
    }
    val cdcSchema = org.apache.spark.sql.types.StructType(
      Streams.DocsRawSchema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    Streams.snapshotCdcStream(
      Streams.fileStream(s, staged.toString, cdcSchema,
        maxFilesPerTrigger = Some(1)), store, Seq("doc_id"))
    graft.io.Snapshots.read(s, store)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The CDC stream with EQUALITY deletes (`deleteMode = "eq"`): same
    * feed as [[streamCdc]], but each delete micro-batch commits as an
    * Iceberg-v2-style key file — zero table reads, zero data-file
    * rewrites — and live reads anti-join it. The final table must be
    * IDENTICAL to the copy-on-write result (same oracle), proving
    * the delete encodings are interchangeable.
    */
  def streamCdcEq(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store =
      graft.io.Scratch.dir("graft_stream_cdceq_store_").toString + "/tbl"
    BenchSetup.section { graft.io.Snapshots.commit(docs, store) }
    val staged = graft.io.Scratch.dir("graft_stream_cdceq_docs_")
    val upserts = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", upper(col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 5)
        .withColumn("doc_id", -col("doc_id") - 1))
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("u"))
    val deletes = docs.filter(col("doc_id") % 10 === 7)
      .select(docs.columns.map(col).toSeq: _*)
      .withColumn("op", lit("d"))
    BenchSetup.section { // staging the CDC batch files is fixture
      graft.io.Scratch.stageSingleParquetFile(upserts, staged, "a_up.parquet")
      graft.io.Scratch.stageSingleParquetFile(deletes, staged, "b_del.parquet")
    }
    val cdcSchema = org.apache.spark.sql.types.StructType(
      Streams.DocsRawSchema.fields :+
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType))
    Streams.snapshotCdcStream(
      Streams.fileStream(s, staged.toString, cdcSchema,
        maxFilesPerTrigger = Some(1)), store, Seq("doc_id"),
      deleteMode = "eq")
    graft.io.Snapshots.read(s, store)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The snapshot store as a STREAMING SOURCE
    * ([[Streams.snapshotSource]] / [[graft.streaming.SnapshotSource]]):
    * commit the even half, append the odd half, then stream the table
    * — version-offset batches through the manifest FileIndex, full
    * snapshot first, O(delta-files) increments after (SnapshotsSpec
    * pins the incremental/restart/refusal behavior; here the
    * catch-up read must equal the whole table).
    */
  def streamSnapshotSource(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store =
      graft.io.Scratch.dir("graft_snap_source_").toString + "/tbl"
    BenchSetup.section {
      graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 2 === 0), store)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 2 === 1), store)
    }
    Streams.runToTable(Streams.snapshotSource(s, store),
      tableName(dir, "strm_snapsrc"), OutputMode.Append())
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Metadata-only column drop ([[graft.io.Snapshots.dropColumns]]):
    * the latest read serves the narrowed schema from the SAME files
    * (zero data IO; SnapshotsSpec pins that, the tombstone re-add
    * refusal, time travel to the wide schema, and physical removal at
    * the next compact).
    */
  def snapshotDropColumn(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_dc")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, path) }
    graft.io.Snapshots.dropColumns(s, path, Seq("lang"))
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "source", "n_chars")
  }

  /** Table-to-table streaming pipeline — the loop closed: one job
    * streams arriving files INTO the snapshot store
    * ([[Streams.snapshotStream]], one append commit per micro-batch),
    * a downstream job streams the SAME table back out by version
    * offset ([[Streams.snapshotSource]]) and maintains a live
    * aggregate. The 100 TB shape: ingestion and consumers decoupled
    * through the table, each with its own checkpointed cursor.
    */
  def snapshotPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val staged = graft.io.Scratch.dir("graft_snap_pipe_docs_")
    BenchSetup.section {
      Seq(("even", col("doc_id") % 2 === 0),
          ("odd", col("doc_id") % 2 === 1)).foreach { case (name, pred) =>
        graft.io.Scratch.stageSingleParquetFile(
          docs.filter(pred), staged, s"$name.parquet")
      }
    }
    val store =
      graft.io.Scratch.dir("graft_snap_pipe_store_").toString + "/tbl"
    Streams.snapshotStream(
      Streams.fileStream(s, staged.toString, Streams.DocsRawSchema,
        maxFilesPerTrigger = Some(1)), store)
    Streams.runToTable(
      Streams.snapshotSource(s, store)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars")),
      tableName(dir, "strm_snappipe"), OutputMode.Complete())
  }

  /** Commit history ([[graft.io.Snapshots.history]]): a fixed
    * four-op lifecycle reads back as exactly its version/operation
    * log (timestamps excluded — driver clock; SnapshotsSpec pins
    * them and the file/byte columns).
    */
  def snapshotHistory(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_hist")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    // the four-op lifecycle is FIXTURE; the gate measures history()
    BenchSetup.section {
      graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 2 === 0), path)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 2 === 1), path)
      graft.io.Snapshots.deleteWhere(s, path, col("n_chars") < 300)
      graft.io.Snapshots.compact(s, path, targetFileBytes = 1L << 30)
    }
    graft.io.Snapshots.history(s, path)
      .select(col("version"), col("operation"),
        (col("n_files") > 0).as("has_files"))
  }

  /** Incremental snapshot read: after commit(even) + append(odd), the
    * v1→v2 delta is exactly the odd half, read from the delta FILES
    * alone — the poll-the-table-for-what-arrived contract.
    */
  def snapshotChanges(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_ch")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    val (v1, v2) = BenchSetup.section {
      (graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 2 === 0), path),
       graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 2 === 1), path))
    }
    graft.io.Snapshots.changes(s, path, v1, v2)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Merge-on-read DELETE — deletion vectors
    * ([[graft.io.Snapshots.deleteWhere]]/[[deleteKeys]] with
    * `mode="mor"`): a predicate delete and a key delete each commit a
    * positional DELETE FILE (zero data-file rewrites — the Iceberg-v2
    * / Delta-DV answer to CDC feeds touching one row per file at
    * 100 TB), and the read SERVES through the anti-join. The result
    * must hash-equal the copy-on-write deletes' (the oracle applies
    * both predicates directly); SnapshotsSpec pins the
    * zero-rewrites property and physical apply at compact.
    */
  def snapshotDv(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_dv_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gdv_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val docs = t(s, dir, "documents")
    docs.createOrReplaceTempView("graft_dv_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        "source, n_chars FROM graft_dv_src")
    }
    val path = s"$wh/db/docs"
    graft.io.Snapshots.deleteWhere(s, path, col("n_chars") < 300,
      mode = "mor")
    graft.io.Snapshots.deleteKeys(s, path,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
      Seq("doc_id"), mode = "mor")
    // the READ routes through the DSv2 scan WITH live positional
    // delete files applied in-reader (merge-on-read tables keep
    // SPJ/runtime-filtering/manifest pruning) - asserted in-gate
    val df = s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM $cat.db.docs")
    require(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"),
      "q_snapshot_dv: the DV-bearing table did not read through the " +
        s"DSv2 scan:\n${df.queryExecution.executedPlan}")
    df
  }

  /** Metadata-only column RENAME via column mapping
    * ([[graft.io.Snapshots.renameColumn]] — Delta name-mode mapping):
    * rename `n_chars` to `length`, then APPEND a batch under the new
    * name. Old files keep serving through the physical->logical map
    * (zero data IO at rename), the append writes under the unchanged
    * physical name, and the read surfaces everything as `length` —
    * which is exactly the oracle's CASE-free `AS length` projection
    * over the union. SnapshotsSpec pins time travel reading each
    * version's own names and the partition-column rename.
    */
  def snapshotRename(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_rn")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 2 === 0), path) }
    graft.io.Snapshots.renameColumn(s, path, "n_chars", "length")
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 === 1)
        .withColumnRenamed("n_chars", "length"), path)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "length")
  }

  /** STRING manifest file skipping
    * ([[graft.io.Snapshots.readBetweenStrings]]): fragmented appends
    * repack clustered by `source` (disjoint per-file string ranges),
    * then a source range scan prunes from 16-byte truncated-prefix
    * bounds before any file opens — the `source`/`lang`/`url` range
    * scans a 100 TB text corpus filters on constantly, previously
    * full-table file opens. The oracle checks exactness; SnapshotsSpec
    * pins the kept-file count dropping below the total and the
    * boundary-straddle case staying exact.
    */
  def snapshotStrSkip(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_ss")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    // the clustered layout is FIXTURE; the gate measures the pruned
    // string-range read
    BenchSetup.section {
      (0 until 4).foreach(q =>
        graft.io.Snapshots.commitAppend(
          docs.filter(col("doc_id") % 4 === q), path))
      graft.io.Snapshots.compact(s, path, targetFileBytes = 16L << 10,
        sortBy = Seq("source"))
    }
    graft.io.Snapshots.readBetweenStrings(s, path, "source",
      "src10", "src13")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** EQUALITY DELETES (Iceberg v2's zero-scan delete files): the
    * delete batch is committed AS a file of keys — no table read, no
    * data-file rewrite — and every live read anti-joins it against
    * files present at the delete's base version. A later append
    * RE-INSERTS two of the deleted keys and survives (files newer
    * than the base escape the kill — CDC delete-then-insert keeps
    * its meaning). The gate reads the final table; the oracle
    * replays the same history relationally.
    */
  def snapshotEqDelete(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_eq_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "geq_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val docs = t(s, dir, "documents")
    docs.createOrReplaceTempView("graft_eq_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        "source, n_chars FROM graft_eq_src")
    }
    val path = s"$wh/db/docs"
    graft.io.Snapshots.deleteKeysEq(s, path,
      docs.filter(col("doc_id") % 5 === 0).select("doc_id"),
      Seq("doc_id"))
    // a later append RE-INSERTS two of the deleted keys and survives
    // (files newer than the delete's base escape the kill)
    s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
      "source, n_chars FROM graft_eq_src WHERE doc_id % 10 = 0")
    // the READ routes through the DSv2 scan with the equality-delete
    // key set probed in-reader, base-scoped - asserted in-gate
    val df = s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM $cat.db.docs")
    require(df.queryExecution.executedPlan.toString
        .contains("graft-snapshot spj"),
      "q_snapshot_eq: the eq-delete table did not read through the " +
        s"DSv2 scan:\n${df.queryExecution.executedPlan}")
    df
  }

  /** APPEND CHAIN over a multi-file base: the base commit lands 40
    * entries and three single-file appends each carry them forward
    * into the next manifest (inline v3 at this size; v4 shards take
    * over past two shard blocks). The oracle is the plain relational
    * union of the four slices. The name is kept from the
    * delta-manifest encoding this gate was written for, since removed.
    */
  def snapshotDeltaLog(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_dlog")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 4 =!= 0).repartition(40), path) }
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 12 === 0).coalesce(1), path)
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 12 === 4).coalesce(1), path)
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 12 === 8).coalesce(1), path)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** WRITE-AUDIT-PUBLISH (Iceberg's WAP staging): two batches are
    * staged invisibly — the expensive file writes happen BEFORE the
    * publish gate. The audit inspects each staged view, drops the
    * bad batch (negative n_chars — its bytes vanish), and publishes
    * the good one as one atomic metadata commit. The final table is
    * exactly base + the published batch; the oracle is the plain
    * relational equivalent.
    */
  def snapshotWap(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_wap")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 3 =!= 0), path) }
    graft.io.Snapshots.stageAppend(
      docs.filter(col("doc_id") % 3 === 0), path, "audit-good")
    graft.io.Snapshots.stageAppend(
      docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 5000000L)
        .withColumn("n_chars", lit(-1L)), path, "audit-bad")
    val bad = !graft.io.Snapshots
      .readStaged(s, path, "audit-bad")
      .filter(col("n_chars") < 0).isEmpty
    if (bad) graft.io.Snapshots.dropStaged(s, path, "audit-bad")
    graft.io.Snapshots.publishStaged(s, path, "audit-good")
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** TYPE WIDENING (Delta's ALTER COLUMN TYPE widening): the base
    * commit stores `n_chars` as int32; a later long batch widens the
    * table schema METADATA-ONLY — zero rewrites, the old int32 pages
    * read exactly under the promoted bigint type (Spark 4 parquet
    * type promotion). The oracle is the plain relational union with
    * everything bigint, which is exactly what the widened read must
    * produce.
    */
  def snapshotWiden(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_widen")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars").cast("int")), path) }
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 =!= 0), path)
    graft.io.Snapshots.read(s, path)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** METADATA-ONLY COUNT: every manifest entry carries its `__rows`
    * pseudo-stat, so `count(*)` answers from one manifest read — at a
    * million files that is one small file vs a million footer opens.
    * The gate builds the table in three commits and returns the
    * metadata count; the oracle counts relationally.
    */
  def snapshotCount(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_count")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section {
      graft.io.Snapshots.commit(
        docs.filter(col("doc_id") % 3 === 0), path)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 3 === 1), path)
      graft.io.Snapshots.commitAppend(
        docs.filter(col("doc_id") % 3 === 2), path)
    }
    import s.implicits._
    Seq(graft.io.Snapshots.rowCount(s, path)).toDF("n_rows")
  }

  /** TABLE PROPERTIES + parquet BLOOM FILTERS: `write.bloom.columns`
    * is declared once as a TBLPROPERTY; every subsequent write
    * (append, compact) emits split-block bloom filters on the column
    * — the point-lookup complement to min/max stats on
    * high-cardinality unsorted data. Results must be byte-identical
    * with or without blooms (they only skip row groups that provably
    * lack the key); the gate reads a point lookup back through the
    * bloom-bearing files.
    */
  def snapshotProps(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_props")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(
      docs.filter(col("doc_id") % 2 === 0), path) }
    graft.io.Snapshots.setProperties(s, path,
      Map("write.bloom.columns" -> "doc_id"))
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 2 =!= 0), path)
    graft.io.Snapshots.compact(s, path, targetFileBytes = 64L << 10)
    graft.io.Snapshots.read(s, path)
      .filter(col("doc_id") % 25 === 0)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** HIDDEN partition transforms (Iceberg's headline layout feature)
    * on the snapshot store: the table is committed under
    * `bucket(8, doc_id)` + `truncate(4, source)` — derived partition
    * DIRECTORIES only; neither derived column ever surfaces, and the
    * source columns stay in the data files. A point lookup on the
    * raw `source` column ([[graft.io.Snapshots.readEquals]]) prunes
    * to the one truncated-prefix directory (and bucket pruning cuts
    * `doc_id` lookups to 1/8 of the files) with the residual
    * in-plan equality keeping the result exact. At 100 TB this is
    * the difference between opening every file and opening one
    * directory's sliver, without users ever materializing or even
    * knowing about the derived columns.
    */
  def snapshotHidden(s: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "snap_hid")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, path,
      partitionBy = Seq("bucket(8, doc_id)", "truncate(4, source)")) }
    graft.io.Snapshots.readEquals(s, path, "source", "src12")
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The snapshot store through the DSv2 SQL catalog
    * ([[graft.io.GraftCatalog]]): CREATE TABLE (a zero-entry
    * manifest), INSERT INTO ... SELECT (an append commit), and a
    * filtered SELECT all in pure SQL against `graft_cat.db.docs` —
    * the V1-fallback scan forwards pruning/filters into the
    * manifest-backed read, and the table directory is an ordinary
    * snapshot store. GraftCatalogSpec pins time travel, tags,
    * INSERT OVERWRITE, partitioned CREATE and DDL.
    */
  def snapshotCatalog(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_cat_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gcat_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val docs = t(s, dir, "documents")
    docs.createOrReplaceTempView("graft_cat_docs_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
      "lang STRING, source STRING, n_chars BIGINT)")
    s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_cat_docs_src")
    s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM $cat.db.docs WHERE n_chars >= 300 AND lang <> 'zh'")
  }

  /** SHALLOW CLONE gate ([[graft.io.Snapshots.cloneTable]]): fork a
    * committed table zero-copy (the clone's v1 manifest references
    * the source's files), append to the FORK only, then prove the
    * fork reads source+appended while the source stays untouched —
    * the Delta CLONE SHALLOW lifecycle. The zero-copy property
    * itself (no local data bytes before the append) is asserted
    * in-gate.
    */
  def snapshotClone(s: SparkSession, dir: String): DataFrame = {
    val src = scratch(dir, "snap_clone_src")
    val dst = scratch(dir, "snap_clone_dst")
    Seq(src, dst).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val docs = t(s, dir, "documents")
    BenchSetup.section { graft.io.Snapshots.commit(docs, src) }
    graft.io.Snapshots.cloneTable(s, src, dst)
    require(!new java.io.File(s"$dst/data").exists(),
      "q_snapshot_clone: the shallow clone copied data bytes")
    graft.io.Snapshots.commitAppend(
      docs.filter(col("doc_id") % 10 === 0)
        .withColumn("source", lit("fork")), dst)
    require(graft.io.Snapshots.read(s, src).count() == docs.count(),
      "q_snapshot_clone: appending to the fork changed the source")
    graft.io.Snapshots.read(s, dst)
      .select("doc_id", "lang", "source", "n_chars")
  }


  /** MERGE SCHEMA EVOLUTION gate
    * ([[graft.io.Snapshots.mergeInto]] `evolve = true`, Delta's
    * withSchemaEvolution): a merge whose clause assigns a column the
    * table lacks adds it in the same commit — matched rows take the
    * clause value, every untouched row reads NULL, time travel keeps
    * the old schema.
    */
  def snapshotMergeEvolve(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Snapshots
    val path = scratch(dir, "snap_mev")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { Snapshots.commit(docs, path) }
    val source = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        (col("n_chars") * lit(2)).cast("double").as("quality"))
    Snapshots.mergeInto(s, path, source, Seq("doc_id" -> "doc_id"),
      matched = Seq(Snapshots.WhenMatchedUpdate(None,
        Seq("quality" -> Snapshots.src("quality")))),
      evolve = true)
    require(!Snapshots.read(s, path, Some(1L)).columns.contains("quality"),
      "q_snapshot_merge_evolve: v1 grew the evolved column")
    Snapshots.read(s, path).select("doc_id", "lang", "n_chars", "quality")
  }


  /** MANIFEST AGGREGATE PUSHDOWN gate
    * ([[graft.io.SnapshotScanBuilder]]): a bare COUNT(*) +
    * integral MIN/MAX over a catalog snapshot table answers from the
    * manifest's exact pseudo-stats as a ONE-ROW scan — asserted
    * in-gate (plan must contain the manifest-agg scan), so at 100 TB
    * the count is one metadata read, not a million-file scan.
    */
  def snapshotAggPush(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_aggp_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gaggp_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    t(s, dir, "documents").createOrReplaceTempView("graft_aggp_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_aggp_src")
    }
    val df = s.sql(s"SELECT count(*) AS n_docs, " +
      s"min(doc_id) AS min_id, max(doc_id) AS max_id, " +
      s"min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
      // strings push too when every file's bound is provably exact
      // (<=16-byte values serialize untruncated in the manifest)
      s"min(lang) AS min_lang, max(lang) AS max_lang, " +
      s"min(source) AS min_src, max(source) AS max_src, " +
      // COUNT(col) = rows - nulls from the 'N' pseudo-stats
      s"count(text) AS n_text, count(n_chars) AS n_nchars " +
      s"FROM $cat.db.docs")
    require(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
      "q_snapshot_agg_push: the aggregate did not answer from the " +
        s"manifest:\n${df.queryExecution.executedPlan}")
    // MERGE-ON-READ phase: kill rows positionally - COUNT(*) must
    // STILL answer from metadata (sum(__rows) minus the per-file
    // positional-delete counts from the driver-bounded sliver)
    graft.io.Snapshots.deleteWhere(s, s"$wh/db/docs",
      col("doc_id") % 9 === 0, mode = "mor")
    val live = s.sql(s"SELECT count(*) AS n_live FROM $cat.db.docs")
    require(live.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
      "q_snapshot_agg_push: the delete-bearing COUNT(*) did not " +
        s"answer from the manifest:\n${live.queryExecution.executedPlan}")
    df.crossJoin(live)
  }

  /** GROUPED manifest aggregate pushdown gate: `COUNT/MIN/MAX ...
    * GROUP BY <identity partition col>` answers from per-partition
    * manifest stats — one metadata read, one row per live partition
    * (the dashboard query over a 100 TB date/tenant-partitioned
    * table), asserted in-gate. Every entry groups with exactly one
    * directory value, so per-group folds are exact by construction.
    */
  def snapshotAggGroup(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_aggg_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gaggg_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_aggg_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT) " +
        "PARTITIONED BY (lang)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        "source, n_chars FROM graft_aggg_src")
      // a second commit so several files per partition must fold
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, text, " +
        "lang, source, n_chars + 7 FROM graft_aggg_src")
    }
    val df = s.sql(s"SELECT lang, count(*) AS n_docs, " +
      s"min(doc_id) AS min_id, max(doc_id) AS max_id, " +
      s"max(n_chars) AS max_chars, max(source) AS max_src " +
      s"FROM $cat.db.docs GROUP BY lang")
    require(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
      "q_snapshot_agg_group: the grouped aggregate did not answer " +
        s"from the manifest:\n${df.queryExecution.executedPlan}")
    df
  }

  /** MANIFEST-ABSORBED FILTER aggregate gate
    * ([[graft.io.SnapshotScanBuilder.pushFilters]]): over a
    * `(source, lang)` identity layout, `COUNT(*) ... WHERE source =
    * 'src3' GROUP BY lang` — the dashboard-on-a-partition query —
    * still answers from the manifest: the equality on the identity
    * partition column is CONSUMED by the kept entry set (Spark plans
    * no Filter node), so the per-group folds stay exact and the scan
    * reads zero data files, asserted in-gate. `count(lang)` rides
    * along answered from directory values alone (identity-borne
    * columns have no file stats).
    */
  def snapshotAggWhere(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_aggw_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gaggw_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_aggw_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT) " +
        "PARTITIONED BY (source, lang)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, text, lang, " +
        "source, n_chars FROM graft_aggw_src")
      // a second commit so several files per partition must fold
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, text, " +
        "lang, source, n_chars + 7 FROM graft_aggw_src")
    }
    val df = s.sql(s"SELECT lang, count(*) AS n_docs, " +
      s"count(lang) AS n_lang, min(doc_id) AS min_id, " +
      s"max(doc_id) AS max_id FROM $cat.db.docs " +
      s"WHERE source = 'src3' GROUP BY lang")
    require(df.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
      "q_snapshot_agg_where: the filtered grouped aggregate did not " +
        s"answer from the manifest:\n${df.queryExecution.executedPlan}")
    df
  }


  /** LIMIT-pushdown gate ([[graft.io.SnapshotScanBuilder.pushLimit]]):
    * `SELECT * FROM t LIMIT k` on a multi-file snapshot table plans
    * only a file PREFIX whose guaranteed live rows cover k (asserted
    * in-gate via the reader-factory file counter — fewer files OPEN
    * than the table holds) and still returns exactly k rows. The
    * aggregate above the limit forces every scan partition to run,
    * so the IO bound is the pushdown's, not executeTake's.
    */
  def snapshotLimit(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_limit_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "glim_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_lim_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      (0 until 4).foreach { i =>
        s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + ${i}000000, " +
          "text, lang, source, n_chars FROM graft_lim_src")
      }
    }
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val total = BenchSetup.section {
      s.sql(s"SELECT sum(doc_id * 2) FROM $cat.db.docs").collect()
      graft.io.SnapshotReaderFactory.filesOpened.get()
    }
    val q = s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_limited " +
      s"FROM (SELECT * FROM $cat.db.docs LIMIT 60)")
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val rows = q.collect()
    val io = graft.io.SnapshotReaderFactory.filesOpened.get()
    require(q.queryExecution.executedPlan.toString
        .contains("pushedLimit=60"),
      "q_snapshot_limit: the limit was not pushed to the scan:\n" +
        q.queryExecution.executedPlan)
    require(io < total,
      s"q_snapshot_limit: the pushed limit still opened $io of " +
        s"$total files")
    import s.implicits._
    rows.map(_.getLong(0)).toSeq.toDF("n_limited")
  }

  /** TOP-N-pushdown gate ([[graft.io.SnapshotScanBuilder.pushTopN]]):
    * `ORDER BY doc_id LIMIT 20` over two commits with DISJOINT id
    * ranges prunes the high-range files via the manifest min/max
    * stats (file counter asserted in-gate, both directions) and each
    * task ships only its k-row heap — the interactive "newest 20
    * rows" probe at 100 TB reads the tail files, not the table.
    */
  def snapshotTopN(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_topn_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gtopn_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_topn_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, n_chars " +
        "FROM graft_topn_src")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, lang, " +
        "n_chars + 7 FROM graft_topn_src")
    }
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val total = BenchSetup.section {
      s.sql(s"SELECT sum(doc_id * 2) FROM $cat.db.docs").collect()
      graft.io.SnapshotReaderFactory.filesOpened.get()
    }
    def leg(dirn: String): DataFrame = {
      val q = s.sql(s"SELECT doc_id, n_chars, '$dirn' AS dirn " +
        s"FROM $cat.db.docs ORDER BY doc_id $dirn LIMIT 20")
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val out = q.collect()
      val io = graft.io.SnapshotReaderFactory.filesOpened.get()
      require(q.queryExecution.executedPlan.toString
          .contains(s"pushedTopN=[doc_id $dirn]"),
        s"q_snapshot_topn: ORDER BY $dirn was not pushed:\n" +
          q.queryExecution.executedPlan)
      require(io < total,
        s"q_snapshot_topn: pushed $dirn top-N still opened $io of " +
          s"$total files")
      s.createDataFrame(
        s.sparkContext.parallelize(out.toIndexedSeq, 1), q.schema)
    }
    leg("ASC").unionAll(leg("DESC"))
  }

  /** RANGE file-skipping gate on the SQL (DSv2) read path
    * ([[graft.io.SnapshotBatchScan]] `keptEntries` ×
    * [[graft.io.Snapshots.boundKeepFn]]): eight shifted
    * commits build a 40M-wide doc_id domain, a z-order compact
    * re-clusters it, and `WHERE doc_id BETWEEN 2000 AND 5002000`
    * — a boundary-STRADDLING window covering ~1/8 of the domain —
    * must open strictly fewer files than the table holds (asserted
    * in-gate via the reader-factory counter) while returning the
    * exact row set (hash-equal to the DuckDB oracle; the residual
    * BETWEEN stays in-plan, so pruning coarseness can never change
    * the answer). This is the reference's month-windowing
    * (conte-etl-step-2-manager.py:817-821) as plain SQL on a
    * clustered catalog table.
    */
  def snapshotRangeSkip(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_range_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "grng_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_rng_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    // the staged corpus AND its z-order re-cluster are FIXTURE —
    // the gate measures the pruned BETWEEN scan (at sf1 the build
    // dominated the gate 10:1 and polluted every perf adjudication)
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, n_chars BIGINT)")
      // ONE commit of the 8-way shifted union: the z-order compact
      // below rewrites every file anyway, so the pre-compact commit
      // count is invisible to both the layout under test and the
      // result — and one insert job + one commit stages 8x fewer
      // write/commit round-trips than the previous 8 INSERTs
      s.sql(s"INSERT INTO $cat.db.docs " + (0 until 8).map(i =>
        s"SELECT doc_id + ${i} * 5000000 AS doc_id, text, lang, " +
          "n_chars FROM graft_rng_src").mkString(" UNION ALL "))
      // z-order re-cluster into small files so the range predicate
      // has a real multi-file layout to prune against
      graft.io.Snapshots.compact(s, s"$wh/db/docs",
        targetFileBytes = 32L << 10, zorderBy = Seq("doc_id", "n_chars"))
    }
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val total = BenchSetup.section {
      s.sql(s"SELECT sum(doc_id * 2) FROM $cat.db.docs").collect()
      graft.io.SnapshotReaderFactory.filesOpened.get()
    }
    val q = s.sql(s"SELECT doc_id, text, lang, n_chars " +
      s"FROM $cat.db.docs WHERE doc_id BETWEEN 2000 AND 5002000")
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val rows = q.collect()
    val io = graft.io.SnapshotReaderFactory.filesOpened.get()
    require(total >= 4,
      s"q_snapshot_range_skip: z-order compact produced only $total " +
        "files - the prune assertion needs a multi-file layout")
    require(io < total,
      s"q_snapshot_range_skip: the BETWEEN still opened $io of " +
        s"$total files - manifest range pruning did not engage")
    s.createDataFrame(
      s.sparkContext.parallelize(rows.toIndexedSeq, 1), q.schema)
  }

  /** MANIFEST-BLOOM gate ([[graft.io.Snapshots.bloomStatsOf]] /
    * `bloomSketchPass` × [[graft.io.Snapshots.prunedEntriesEquals]]):
    * eight commits whose string job-ids INTERLEAVE (id ≡ commit mod
    * 8), so every file's min/max bounds span the whole key range and
    * 'T'-stat pruning can prove nothing — the exact shape where a
    * point lookup on an unclustered high-NDV column otherwise opens
    * every file. `stats.bloom.columns` + `analyze_ndv` commit
    * per-file 'B' bloom blocks, and the equality scan must open
    * strictly fewer files than the table holds (bloom ABSENCE is an
    * exact proof; presence is the maybe side, so the residual
    * equality keeps the answer exact at any false-positive rate).
    * Z-order/clustering deliberately NOT used.
    */
  def snapshotBloomSkip(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_bloom_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gblm_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_blm_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val tbl = s"$wh/db/docs"
    // corpus staging + the bloom-committing analyze are FIXTURE;
    // the gate measures the bloom-pruned point lookup
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (jid STRING, n_chars BIGINT)")
      (0 until 8).foreach { i =>
        s.sql(s"INSERT INTO $cat.db.docs SELECT concat('JOB', " +
          s"lpad(cast(doc_id * 8 + $i AS STRING), 9, '0')), n_chars " +
          "FROM graft_blm_src")
      }
      graft.io.Snapshots.setProperties(s, tbl,
        Map("stats.bloom.columns" -> "jid"))
      s.sql(s"CALL $cat.system.analyze_ndv(table => 'db.docs', " +
        "columns => 'jid')")
    }
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val total = BenchSetup.section {
      s.sql(s"SELECT sum(n_chars) FROM $cat.db.docs").collect()
      graft.io.SnapshotReaderFactory.filesOpened.get()
    }
    require(total >= 8,
      s"q_snapshot_bloom_skip: expected >= 8 data files, got $total")
    val q = s.sql(s"SELECT jid, n_chars FROM $cat.db.docs " +
      "WHERE jid = 'JOB000000338'")
    graft.io.SnapshotReaderFactory.filesOpened.set(0L)
    val rows = q.collect()
    val io = graft.io.SnapshotReaderFactory.filesOpened.get()
    require(rows.nonEmpty,
      "q_snapshot_bloom_skip: the probe key must exist")
    require(io < total,
      s"q_snapshot_bloom_skip: the point lookup still opened $io " +
        s"of $total files - bloom pruning did not engage (min/max " +
        "cannot prove anything on this interleaved layout)")
    s.createDataFrame(
      s.sparkContext.parallelize(rows.toIndexedSeq, 1), q.schema)
  }

  /** SHARDED-manifest (v4) gate ([[graft.io.Snapshots]] `renderV4` /
    * `pruneCandidates` × [[graft.io.SnapshotBatchScan]]): eight
    * doc_id-disjoint commits shard the manifest (shard size pinned
    * small in-gate), and a boundary-straddling BETWEEN must (a) SKIP
    * whole shards from their merged pseudo-stats without reading a
    * single entry of them (asserted via the shardsSkipped counter),
    * (b) open strictly fewer data files than the table holds, and
    * (c) return the exact row set (hash-equal to the DuckDB oracle —
    * the residual BETWEEN stays in-plan). This is the driver-side
    * scale fix for million-file tables: planning cost O(shards) +
    * O(matching shards), not O(files).
    */
  def snapshotShardSkip(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_shard_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gshrd_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_shrd_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
      "lang STRING, n_chars BIGINT)")
    val prevShard = graft.io.Snapshots.shardSizeOverride
    graft.io.Snapshots.shardSizeOverride = Some(2)
    try {
      BenchSetup.section {
        (0 until 8).foreach { i =>
          s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + ${i} * " +
            "5000000, text, lang, n_chars FROM graft_shrd_src")
        }
      }
      val tbl = s"$wh/db/docs"
      val refs = graft.io.Snapshots.shardRefsAt(s, tbl,
        graft.io.Snapshots.latestVersion(s, tbl).get)
      // 8 appends under tuple-grouped sharding: the first chunks at
      // the v4 threshold, later ones accrete one tail shard each —
      // >= 4 proves a sharded manifest with skippable structure
      require(refs.size >= 4,
        s"q_snapshot_shard_skip: expected a sharded (v4) manifest " +
          s"with >= 4 shards, got ${refs.size}")
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val total = BenchSetup.section {
        s.sql(s"SELECT sum(doc_id * 2) FROM $cat.db.docs").collect()
        graft.io.SnapshotReaderFactory.filesOpened.get()
      }
      val q = s.sql(s"SELECT doc_id, text, lang, n_chars " +
        s"FROM $cat.db.docs " +
        "WHERE doc_id BETWEEN 10000100 AND 15000100")
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      graft.io.Snapshots.shardsSkipped.set(0L)
      graft.io.Snapshots.shardsLoaded.set(0L)
      val rows = q.collect()
      val io = graft.io.SnapshotReaderFactory.filesOpened.get()
      val skipped = graft.io.Snapshots.shardsSkipped.get()
      require(skipped > 0L,
        "q_snapshot_shard_skip: no whole-shard skip was proven - " +
          "the prune walked every shard's entries")
      require(io < total,
        s"q_snapshot_shard_skip: the BETWEEN still opened $io of " +
          s"$total files")
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), q.schema)
    } finally {
      graft.io.Snapshots.shardSizeOverride = prevShard
    }
  }

  /** RUNTIME-FILTER × SHARDED-MANIFEST gate: a dim-driven join on a
    * v4-sharded fact table with NO static fact filter — the case
    * where planning cannot prune anything and only Spark's runtime
    * V2 filtering (the dim's IN-set, delivered at execution start)
    * scopes the fact scan. The IN-set path re-plans each dim value
    * through the manifest point-lookup
    * ([[graft.io.Snapshots.prunedEntriesEquals]]), which must SKIP
    * whole shards from their pseudo-entries rather than load every
    * shard's entry list — asserted via the `shardsSkipped` counter —
    * and the executed scan must open strictly fewer files than the
    * table holds. This is the composition the v4 work exists for: a
    * streaming-scale fact (million files, sharded metadata) probed
    * by dimension values with zero static predicates.
    */
  def snapshotRuntimeSkip(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_rts_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "grts_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_rts_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val prevShard = graft.io.Snapshots.shardSizeOverride
    graft.io.Snapshots.shardSizeOverride = Some(2)
    try {
      BenchSetup.section {
        s.sql(s"CREATE TABLE $cat.db.fact (doc_id BIGINT, " +
          "source STRING, n_chars BIGINT) " +
          "PARTITIONED BY (truncate(4, source))")
        (0 until 2).foreach { i =>
          s.sql(s"INSERT INTO $cat.db.fact SELECT doc_id + " +
            s"${i}000000, source, n_chars FROM graft_rts_src")
        }
        s.sql(s"CREATE TABLE $cat.db.dim (source STRING, tier INT)")
        s.sql(s"INSERT INTO $cat.db.dim SELECT DISTINCT source, " +
          "CAST(CAST(substring(source, 4) AS INT) % 3 AS INT) " +
          "FROM graft_rts_src")
      }
      val tbl = s"$wh/db/fact"
      require(graft.io.Snapshots.shardRefsAt(s, tbl,
        graft.io.Snapshots.latestVersion(s, tbl).get).size >= 4,
        "q_snapshot_runtime_skip: the fact manifest must shard")
      graft.io.SnapshotReaderFactory.filesOpened.set(0L)
      val total = BenchSetup.section {
        s.sql(s"SELECT sum(n_chars) FROM $cat.db.fact WHERE " +
          "doc_id >= 0").collect()
        graft.io.SnapshotReaderFactory.filesOpened.get()
      }
      val prevDpp = s.conf.getOption(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
      s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      try {
        val q = s.sql(s"SELECT f.doc_id, f.source, f.n_chars " +
          s"FROM $cat.db.fact f JOIN $cat.db.dim d " +
          "ON f.source = d.source WHERE d.tier = 1")
        graft.io.SnapshotReaderFactory.filesOpened.set(0L)
        graft.io.Snapshots.shardsSkipped.set(0L)
        val rows = q.collect()
        val io = graft.io.SnapshotReaderFactory.filesOpened.get()
        val skipped = graft.io.Snapshots.shardsSkipped.get()
        require(rows.nonEmpty,
          "q_snapshot_runtime_skip: the dim-driven join matched " +
            "nothing - fixture wrong")
        require(skipped > 0L,
          "q_snapshot_runtime_skip: the runtime IN-set prune walked " +
            "every shard's entries - no whole-shard skip was proven")
        require(io < total,
          s"q_snapshot_runtime_skip: the dim-driven join still " +
            s"opened $io of $total fact files")
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), q.schema)
      } finally prevDpp match {
        case Some(v) => s.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled", v)
        case None => s.conf.unset(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled")
      }
    } finally {
      graft.io.Snapshots.shardSizeOverride = prevShard
    }
  }

  /** ANALYZE gate ([[graft.io.Snapshots.analyzeNdv]] +
    * [[graft.io.SnapshotBatchScan]] column statistics): per-file NDV
    * sketches committed into the manifest feed `distinctCount` (and
    * the always-on null counts / exact min-max) into Catalyst's
    * `attributeStats` under CBO — ANALYZE-free join estimation. The
    * gate emits tolerance booleans against exact distinct counts
    * (the `q_hll_store` posture: estimates gate as within-bound
    * TRUEs the oracle expects).
    */
  def snapshotAnalyze(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_ndv_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gndv_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_ndv_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, n_chars " +
        "FROM graft_ndv_src")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, lang, " +
        "n_chars FROM graft_ndv_src")
    }
    s.sql(s"CALL $cat.system.analyze_ndv(table => 'db.docs', " +
      "columns => 'doc_id,lang')")
    val old = s.conf.getOption("spark.sql.cbo.enabled")
    s.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = s.sql(s"SELECT doc_id, lang FROM $cat.db.docs")
        .queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.toSeq
        .map { case (a, cs) => a.name -> cs }.toMap
      def ndv(c: String): Long = byName.get(c)
        .flatMap(_.distinctCount.map(_.toLong)).getOrElse(
          throw new IllegalStateException(
            s"q_snapshot_analyze: no distinctCount for $c in " +
              s"${stats.attributeStats}"))
      val exact = s.sql(s"SELECT count(*) AS n_docs, " +
        s"count(DISTINCT doc_id) AS exact_ids, " +
        s"count(DISTINCT lang) AS exact_langs FROM $cat.db.docs")
        .collect().head
      import s.implicits._
      Seq((exact.getLong(0), exact.getLong(1), exact.getLong(2),
        math.abs(ndv("doc_id") - exact.getLong(1)) <=
          exact.getLong(1) * 0.40 + 4,
        math.abs(ndv("lang") - exact.getLong(2)) <=
          exact.getLong(2) * 0.40 + 4))
        .toDF("n_docs", "exact_ids", "exact_langs", "ndv_ids_ok",
          "ndv_langs_ok")
    } finally old match {
      case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
      case None => s.conf.unset("spark.sql.cbo.enabled")
    }
  }

  /** AUTO-ANALYZE gate (`stats.ndv.auto` table property ×
    * [[graft.io.Snapshots]] `publishLoop`): a table created with the
    * property keeps serving `distinctCount` (and the equi-height
    * histogram it rides with) across appends with NO manual `CALL
    * system.analyze_ndv` — the sketches are computed at commit over
    * the delta only. The gate appends TWICE after creation and
    * emits tolerance booleans against exact distinct counts (the
    * `q_snapshot_analyze` posture), plus an in-gate assert that the
    * NDV would have REFUSED had the property been off (the second
    * commit is un-analyzed by manual standards).
    */
  def snapshotAutoNdv(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_andv_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gandv_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_andv_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
      "n_chars BIGINT) " +
      "TBLPROPERTIES ('stats.ndv.auto' = 'doc_id,lang')")
    s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, n_chars " +
      "FROM graft_andv_src")
    s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id + 5000000, lang, " +
      "n_chars FROM graft_andv_src")
    val old = s.conf.getOption("spark.sql.cbo.enabled")
    s.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = s.sql(s"SELECT doc_id, lang FROM $cat.db.docs")
        .queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.toSeq
        .map { case (a, cs) => a.name -> cs }.toMap
      def ndv(c: String): Long = byName.get(c)
        .flatMap(_.distinctCount.map(_.toLong)).getOrElse(
          throw new IllegalStateException(
            s"q_snapshot_autondv: appends lost distinctCount for " +
              s"$c: ${stats.attributeStats}"))
      val exact = s.sql(s"SELECT count(*) AS n_docs, " +
        s"count(DISTINCT doc_id) AS exact_ids, " +
        s"count(DISTINCT lang) AS exact_langs FROM $cat.db.docs")
        .collect().head
      import s.implicits._
      Seq((exact.getLong(0), exact.getLong(1), exact.getLong(2),
        math.abs(ndv("doc_id") - exact.getLong(1)) <=
          exact.getLong(1) * 0.40 + 4,
        math.abs(ndv("lang") - exact.getLong(2)) <=
          exact.getLong(2) * 0.40 + 4))
        .toDF("n_docs", "exact_ids", "exact_langs", "ndv_ids_ok",
          "ndv_langs_ok")
    } finally old match {
      case Some(v) => s.conf.set("spark.sql.cbo.enabled", v)
      case None => s.conf.unset("spark.sql.cbo.enabled")
    }
  }

  /** DELETE-FILE MAINTENANCE gate
    * ([[graft.io.Snapshots.rewriteDeletes]]): three merge-on-read
    * positional delete commits plus one equality delete accrete
    * many slivers; `CALL system.rewrite_deletes(convert_equality_
    * deletes => true)` consolidates them into ONE positional file —
    * asserted in-gate along with COUNT(*) aggregate pushdown
    * RETURNING (it refuses under equality deletes) — and the live
    * rows hash-match the relational oracle exactly.
    */
  def snapshotRewriteDv(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_rwdv_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "grwdv_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_rwdv_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val path = s"$wh/db/docs"
    // staging the sliver-accreted table is FIXTURE; the gate
    // measures the rewrite_deletes consolidation
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, lang STRING, " +
        "n_chars BIGINT) TBLPROPERTIES ('delete.mode' = 'mor')")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, lang, n_chars " +
        "FROM graft_rwdv_src")
      // three positional delete commits + one equality delete
      (3 to 5).foreach(k => graft.io.Snapshots.deleteWhere(s, path,
        col("doc_id") % 17 === k, mode = "mor"))
      graft.io.Snapshots.deleteKeysEq(s, path,
        s.range(0L, 25L).toDF("doc_id"), Seq("doc_id"))
    }
    val dvsBefore = graft.io.Snapshots
      .stateAt(s, path, graft.io.Snapshots.latestVersion(s, path).get)
      ._4
    require(dvsBefore.size > 2 && dvsBefore.exists(_.startsWith("eq:")),
      s"q_snapshot_rewrite_dv: setup wrong: $dvsBefore")
    s.sql(s"CALL $cat.system.rewrite_deletes(table => 'db.docs', " +
      "convert_equality_deletes => true)")
    val dvsAfter = graft.io.Snapshots
      .stateAt(s, path, graft.io.Snapshots.latestVersion(s, path).get)
      ._4
    require(dvsAfter.size == 1 && !dvsAfter.head.startsWith("eq:"),
      s"q_snapshot_rewrite_dv: expected ONE positional delete file " +
        s"after the rewrite, got $dvsAfter")
    // equality deletes gone -> COUNT(*) answers from the manifest
    val n = s.sql(s"SELECT count(*) AS n_live FROM $cat.db.docs")
    require(n.queryExecution.executedPlan.toString
        .contains("manifest-agg"),
      "q_snapshot_rewrite_dv: COUNT(*) should answer from metadata " +
        s"once deletes are positional:\n${n.queryExecution.executedPlan}")
    s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.db.docs")
      .crossJoin(n)
  }

  /** ATOMIC CTAS/RTAS gate ([[graft.io.GraftCatalog]]'s
    * `StagingTableCatalog` → [[graft.io.Snapshots.publishStagedTable]]):
    * `CREATE TABLE ... PARTITIONED BY (hidden transform) AS SELECT`
    * publishes as ONE version whose layout point-lookups prune;
    * `REPLACE TABLE ... AS SELECT` is one more version with the old
    * table still time-travelable — both asserted in-gate. The result
    * is the replaced table plus the version-1 row count recovered
    * through time travel.
    */
  def snapshotCtas(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_ctas_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gctas_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_ctas_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"CREATE TABLE $cat.db.docs " +
      "PARTITIONED BY (truncate(4, source)) AS " +
      "SELECT doc_id, lang, source, n_chars FROM graft_ctas_src " +
      "WHERE n_chars >= 100")
    require(graft.io.Snapshots.versions(s, s"$wh/db/docs") == Seq(1L),
      "q_snapshot_ctas: CTAS must publish exactly ONE version")
    val (kept, total) = graft.io.Snapshots.prunedEntriesEquals(
      s, s"$wh/db/docs", "source", "src3")
    require(total > 1 && kept.size < total,
      s"q_snapshot_ctas: the CTAS layout should prune a point " +
        s"lookup, kept ${kept.size}/$total")
    s.sql(s"REPLACE TABLE $cat.db.docs AS " +
      "SELECT doc_id, lang, n_chars + 1 AS n_chars " +
      "FROM graft_ctas_src WHERE lang <> 'zh'")
    require(
      graft.io.Snapshots.versions(s, s"$wh/db/docs") == Seq(1L, 2L),
      "q_snapshot_ctas: RTAS must be exactly one new version")
    val v1 = s.sql(s"SELECT CAST(count(*) AS BIGINT) AS n_v1 " +
      s"FROM $cat.db.docs VERSION AS OF 1")
    s.sql(s"SELECT doc_id, lang, n_chars FROM $cat.db.docs")
      .crossJoin(v1)
  }

  /** BRANCH gate ([[graft.io.Snapshots.createBranch]] /
    * [[graft.io.Snapshots.fastForward]]): fork the table, land two
    * commits on the branch while main provably serves the original,
    * then promote atomically — main's final state ≡ the relational
    * replay, with exactly one new main version.
    */
  def snapshotBranch(s: SparkSession, dir: String): DataFrame = {
    import graft.io.Snapshots
    val path = scratch(dir, "snap_branch")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val docs = t(s, dir, "documents")
    BenchSetup.section { Snapshots.commit(docs, path) }
    Snapshots.createBranch(s, path, "campaign")
    val bp = Snapshots.branchPath(path, "campaign")
    Snapshots.commitAppend(docs.filter(col("doc_id") % 11 === 0)
      .withColumn("source", lit("branch-a")), bp)
    Snapshots.commitAppend(docs.filter(col("doc_id") % 13 === 0)
      .withColumn("source", lit("branch-b")), bp)
    require(Snapshots.read(s, path).count() == docs.count(),
      "q_snapshot_branch: branch commits leaked into main")
    require(Snapshots.versions(s, path) == Seq(1L),
      "q_snapshot_branch: main history grew before the promote")
    Snapshots.fastForward(s, path, "campaign")
    require(Snapshots.versions(s, path) == Seq(1L, 2L),
      "q_snapshot_branch: the promote was not ONE commit")
    Snapshots.read(s, path).select("doc_id", "lang", "source", "n_chars")
  }

  /** STORAGE-PARTITIONED JOIN gate: two catalog tables
    * bucket-partitioned alike on the join key
    * ([[graft.io.SnapshotBatchScan]] reporting `KeyGroupedPartitioning`
    * through [[graft.io.GraftCatalog]]'s V2 bucket function) join
    * bucket-k-against-bucket-k with ZERO Exchange nodes — asserted
    * here, not just in the spec, so the gate fails if the no-shuffle
    * plan ever regresses — and the join's rows hash-match the plain
    * relational oracle.
    */
  def snapshotSpj(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_spj_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gspj_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .createOrReplaceTempView("graft_spj_ord_src")
    t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      .createOrReplaceTempView("graft_spj_cust_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.ord (o_orderkey BIGINT, " +
        "o_custkey BIGINT) PARTITIONED BY (bucket(8, o_custkey))")
      s.sql(s"CREATE TABLE $cat.db.cust (c_custkey BIGINT, " +
        "c_mktsegment STRING) PARTITIONED BY (bucket(8, c_custkey))")
      s.sql(s"INSERT INTO $cat.db.ord SELECT * FROM graft_spj_ord_src")
      s.sql(s"INSERT INTO $cat.db.cust SELECT * FROM graft_spj_cust_src")
    }
    val joined = s.sql(
      s"SELECT /*+ MERGE(o) */ o.o_orderkey AS o_orderkey, " +
        s"c.c_custkey AS c_custkey, c.c_mktsegment AS seg " +
        s"FROM $cat.db.ord o JOIN $cat.db.cust c " +
        "ON o.o_custkey = c.c_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("ShuffleExchange"),
      s"q_snapshot_spj: the bucket-aligned join planned a shuffle:\n$plan")
    require(plan.contains("graft-snapshot spj"),
      s"q_snapshot_spj: the DSv2 key-grouped scan was not used:\n$plan")
    joined
  }

  /** MIXED-LAYOUT storage-partitioned join gate: two tables laid out
    * `(lang, bucket(4, doc_id))` — the standard 100 TB fact shape,
    * identity date/tenant dir THEN a bucket transform — join on BOTH
    * keys with ZERO Exchange nodes ([[graft.io.SnapshotBatchScan]]
    * reporting the combined transform tuple as
    * `KeyGroupedPartitioning`), asserted in-gate; rows hash-match the
    * plain relational oracle.
    */
  def snapshotSpjMixed(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_spjm_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gspjm_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    val docs = t(s, dir, "documents")
    docs.select("doc_id", "n_chars", "lang")
      .createOrReplaceTempView("graft_spjm_l_src")
    docs.select(col("doc_id"),
      (col("n_chars") % 97).cast("double").as("quality"), col("lang"))
      .createOrReplaceTempView("graft_spjm_r_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.ml (doc_id BIGINT, n_chars BIGINT, " +
        "lang STRING) PARTITIONED BY (lang, bucket(4, doc_id))")
      s.sql(s"CREATE TABLE $cat.db.mr (doc_id BIGINT, quality DOUBLE, " +
        "lang STRING) PARTITIONED BY (lang, bucket(4, doc_id))")
      s.sql(s"INSERT INTO $cat.db.ml SELECT * FROM graft_spjm_l_src")
      s.sql(s"INSERT INTO $cat.db.mr SELECT * FROM graft_spjm_r_src")
    }
    val joined = s.sql(
      s"SELECT /*+ MERGE(l) */ l.doc_id AS doc_id, " +
        s"l.n_chars AS n_chars, r.quality AS quality " +
        s"FROM $cat.db.ml l JOIN $cat.db.mr r " +
        "ON l.lang = r.lang AND l.doc_id = r.doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("ShuffleExchange"),
      s"q_snapshot_spj_mixed: the aligned join planned a shuffle:\n$plan")
    require(plan.contains("graft-snapshot spj"),
      s"q_snapshot_spj_mixed: the DSv2 key-grouped scan was not " +
        s"used:\n$plan")
    joined
  }

  /** SQL OVERWRITE-BY-FILTER gate (DSv2 `SupportsOverwrite` lowering
    * onto [[graft.io.Snapshots.overwriteWhere]]'s single-commit
    * replace): `INSERT OVERWRITE ... PARTITION (lang='en')` swaps
    * exactly one partition's rows for the new batch — affected files
    * rewritten, every other file carried, ONE manifest claim (no
    * delete-then-append window) — then `writeTo.overwrite(cond)`
    * replaces a predicate-scoped slice the same way. The oracle
    * replays both steps relationally.
    */
  def snapshotOverwrite(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_ow_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gow_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val docs = t(s, dir, "documents")
    docs.createOrReplaceTempView("graft_ow_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, " +
        "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, n_chars, lang " +
        "FROM graft_ow_src")
    }
    val path = s"$wh/db/docs"
    val v0 = graft.io.Snapshots.latestVersion(s, path).get
    // static partition overwrite: en docs re-keyed, evens only
    s.sql(s"INSERT OVERWRITE $cat.db.docs PARTITION (lang = 'en') " +
      "SELECT doc_id + 9000000, n_chars FROM graft_ow_src " +
      "WHERE lang = 'en' AND doc_id % 2 = 0")
    require(graft.io.Snapshots.latestVersion(s, path).get == v0 + 1,
      "q_snapshot_overwrite: the static overwrite was not ONE commit")
    // filter-scoped overwrite through the DataFrame writeTo API
    docs.filter(col("lang") === "zh" && col("n_chars") >= 500)
      .select((col("doc_id") + 70000000L).as("doc_id"),
        (col("n_chars") * 2).as("n_chars"), col("lang"))
      .writeTo(s"$cat.db.docs")
      .overwrite(col("lang") === "zh")
    s.sql(s"SELECT doc_id, n_chars, lang FROM $cat.db.docs")
  }

  /** SQL DYNAMIC-PARTITION OVERWRITE gate (the reference's monthly
    * rerun, conte-etl-step-2-manager.py:817-821, as plain SQL):
    * `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` plans
    * through the DSv2 write ([[graft.io.SnapshotBatchWrite]],
    * `SupportsDynamicOverwrite`) and lands as
    * [[graft.io.Snapshots.replacePartitions]] semantics — ONLY the
    * batch's partitions replaced, untouched partitions' files carried
    * BY REFERENCE (asserted in-gate on physical paths), ONE atomic
    * manifest claim (asserted in-gate on the version counter). The
    * oracle replays the replacement relationally.
    */
  def snapshotDynOverwrite(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_dyow_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gdyow_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val docs = t(s, dir, "documents")
    docs.createOrReplaceTempView("graft_dyow_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, " +
        "n_chars BIGINT, lang STRING) PARTITIONED BY (lang)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, n_chars, lang " +
        "FROM graft_dyow_src")
    }
    val path = s"$wh/db/docs"
    val v0 = graft.io.Snapshots.latestVersion(s, path).get
    def files(except: String): Set[String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      // data files live under data/c-<uuid>/lang=<v>/... - key the
      // partition on the parquet file's PARENT directory name
      walk(new java.io.File(s"$path/data"))
        .filter(f => f.getName.endsWith(".parquet") &&
          f.getParentFile.getName.startsWith("lang="))
        .filterNot(_.getParentFile.getName == s"lang=$except")
        .map(_.getPath).toSet
    }
    val untouchedBefore = files(except = "en")
    require(untouchedBefore.nonEmpty,
      "q_snapshot_dyn_overwrite: the carried-by-reference check " +
        "found no untouched-partition files to compare")
    val old =
      s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try s.sql(s"INSERT OVERWRITE $cat.db.docs " +
      "SELECT doc_id + 4000000, n_chars + 11, lang " +
      "FROM graft_dyow_src WHERE lang = 'en'")
    finally old match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    require(graft.io.Snapshots.latestVersion(s, path).get == v0 + 1,
      "q_snapshot_dyn_overwrite: the dynamic overwrite was not ONE " +
        "commit")
    require(files(except = "en") == untouchedBefore,
      "q_snapshot_dyn_overwrite: untouched partitions were " +
        "rewritten, not carried by reference")
    s.sql(s"SELECT doc_id, n_chars, lang FROM $cat.db.docs")
  }

  /** SQL ROW-LEVEL DELETE gate ([[graft.io.GraftRowLevelOperation]]
    * — Spark's own `RewriteDeleteFromTable` over the store's
    * (file, pos) rowId): a predicate the metadata-only path cannot
    * take (modulo + a scalar subquery) deletes as ONE positional-
    * delete commit — zero data files rewritten (asserted in-gate on
    * the entry list), op recorded as `rowLevelDelete` — then the
    * table reads back live rows only. The oracle replays the delete
    * relationally with SQL's delete-on-TRUE semantics (NULL
    * predicates keep the row).
    */
  def snapshotSqlRowLevel(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_rl_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "grl_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_rl_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_rl_src")
    }
    val path = s"$wh/db/docs"
    val v0 = graft.io.Snapshots.latestVersion(s, path).get
    val entriesBefore = graft.io.Snapshots.stateAt(s, path, v0)._3
    s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 7 = 0 " +
      s"OR n_chars > (SELECT max(n_chars) FROM $cat.db.docs) / 2")
    val v1 = graft.io.Snapshots.latestVersion(s, path).get
    require(v1 == v0 + 1,
      "q_snapshot_sql_rowlevel: the row-level delete was not ONE commit")
    val (_, _, entriesAfter, dvs, _) = graft.io.Snapshots.stateAt(s, path, v1)
    require(entriesAfter == entriesBefore,
      "q_snapshot_sql_rowlevel: a row-level delete rewrote data files")
    require(dvs.nonEmpty,
      "q_snapshot_sql_rowlevel: no positional-delete file landed")
    s.sql(s"SELECT doc_id, text, lang, source, n_chars FROM $cat.db.docs")
  }

  /** COPY-ON-WRITE row-level SQL DML gate (table property
    * `dml.mode = 'copy-on-write'` → [[graft.io.GraftCowRowLevelOperation]],
    * Spark's group-based `ReplaceData` plan): an UPDATE rewrites the
    * matched files whole — NO delete files accumulate (asserted
    * in-gate), op recorded as `rowLevelUpdateCow`, one commit — the
    * read-optimized twin of the merge-on-read default. Oracle replays
    * the update relationally.
    */
  def snapshotSqlCow(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_cow_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gcow_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_cow_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT) " +
        "TBLPROPERTIES ('dml.mode' = 'copy-on-write')")
      s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_cow_src")
    }
    val path = s"$wh/db/docs"
    val v0 = graft.io.Snapshots.latestVersion(s, path).get
    s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100, " +
      "source = upper(source) WHERE doc_id % 4 = 1")
    val v1 = graft.io.Snapshots.latestVersion(s, path).get
    require(v1 == v0 + 1,
      "q_snapshot_sql_cow: the copy-on-write update was not ONE commit")
    val (_, _, _, dvs, _) = graft.io.Snapshots.stateAt(s, path, v1)
    require(dvs.isEmpty,
      "q_snapshot_sql_cow: copy-on-write DML accumulated delete files")
    require(graft.io.Snapshots.history(s, path).orderBy("version")
      .collect().last.getString(2) == "rowLevelUpdateCow",
      "q_snapshot_sql_cow: the update did not ride the group-based " +
        "row-level path")
    s.sql(s"SELECT doc_id, text, lang, source, n_chars FROM $cat.db.docs")
  }

  /** SQL UPDATE on a snapshot catalog table (Spark's row-level
    * rewrite into a `WriteDelta` over the table's (file, pos) rowId,
    * one merge-on-read commit — [[graft.io.GraftRowLevelOperation]]):
    * uppercase + lengthen the short documents in place, read the
    * table back. Rows whose predicate is NULL (missing n_chars) stay
    * untouched — SQL semantics end to end.
    */
  def snapshotSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_sqlupd_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gupd_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_sqlupd_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_sqlupd_src")
    }
    s.sql(s"UPDATE $cat.db.docs SET text = upper(text), " +
      "n_chars = n_chars + 1 WHERE n_chars < 300")
    s.sql(s"SELECT doc_id, text, lang, source, n_chars FROM $cat.db.docs")
  }

  /** SQL MERGE INTO on a snapshot catalog table — the full clause
    * surface through Spark's row-level merge rewrite
    * ([[graft.io.GraftRowLevelOperation]]): a conditional WHEN
    * MATCHED UPDATE, a fall-through WHEN MATCHED DELETE (first
    * matching clause wins, so it catches the rows the condition
    * rejects), and a WHEN NOT MATCHED INSERT naming a column subset
    * (the rest NULL). One merge-on-read commit; matched rows only.
    */
  def snapshotSqlMerge(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_sqlmrg_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gmrg_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_sqlmrg_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs SELECT * FROM graft_sqlmrg_src")
    }
    s.sql(
      s"""MERGE INTO $cat.db.docs d USING (
         |  SELECT doc_id, text, lang FROM graft_sqlmrg_src
         |  WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, lang FROM graft_sqlmrg_src
         |  WHERE doc_id % 10 = 3) s
         |ON d.doc_id = s.doc_id
         |WHEN MATCHED AND d.n_chars >= 300 THEN
         |  UPDATE SET text = upper(s.text)
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN
         |  INSERT (doc_id, text, lang) VALUES (s.doc_id, s.text, s.lang)
         |""".stripMargin)
    s.sql(s"SELECT doc_id, text, lang, source, n_chars FROM $cat.db.docs")
  }

  /** SQL stored procedures ([[graft.io.GraftProcedures]] via the
    * DSv2 `ProcedureCatalog`): load the table in four small commits,
    * `CALL system.compact` to rewrite them into the budgeted layout,
    * `CALL system.tag` the result, and read `VERSION AS OF` the tag —
    * maintenance scheduled from pure SQL, result identical to the
    * full corpus (compaction moves bytes, never rows).
    */
  def snapshotSqlCall(s: SparkSession, dir: String): DataFrame = {
    val wh = scratch(dir, "snap_call_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    val cat = "gcall_" + math.abs(wh.hashCode).toString
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    t(s, dir, "documents").createOrReplaceTempView("graft_call_src")
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    BenchSetup.section {
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, text STRING, " +
        "lang STRING, source STRING, n_chars BIGINT)")
      (0 until 4).foreach(q => s.sql(
        s"INSERT INTO $cat.db.docs SELECT * FROM graft_call_src " +
          s"WHERE doc_id % 4 = $q"))
    }
    s.sql(s"CALL $cat.system.compact(table => 'db.docs', " +
      "target_file_mb => 1)")
    s.sql(s"CALL $cat.system.tag(table => 'db.docs', name => 'gold')")
    s.sql(s"SELECT doc_id, text, lang, source, n_chars " +
      s"FROM $cat.db.docs VERSION AS OF 'gold'")
  }

  /** STREAMING CHANGE DATA FEED ([[Streams.snapshotChangeFeed]] over
    * [[graft.io.Snapshots.changeFeed]]): commit the table, merge
    * updates+inserts (v2), merge-on-read delete a key set (v3), then
    * STREAM the feed from startingVersion=2 — the batches must carry
    * exactly the merge's delete+insert pairs and the mor delete's
    * dead rows with their commit versions, which is the oracle's
    * hand-built diff of the same operations. Rewritten-but-untouched
    * rows never appear (exceptAll cancels them).
    */
  def snapshotStreamChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val store =
      graft.io.Scratch.dir("graft_snap_cdf_").toString + "/tbl"
    BenchSetup.section {
      graft.io.Snapshots.commit(docs, store) } // v1
    val cols = docs.columns.map(col).toSeq
    val upd = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit("!")))
      .select(cols: _*)
    val ins = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .select(cols: _*)
    graft.io.Snapshots.merge(s, store, upd.unionByName(ins),
      Seq("doc_id")) // v2
    graft.io.Snapshots.deleteKeys(s, store,
      docs.filter(col("doc_id") % 10 === 7).select("doc_id"),
      Seq("doc_id"), mode = "mor") // v3
    Streams.runToTable(
      Streams.snapshotChangeFeed(s, store, startingVersion = Some(2L)),
      tableName(dir, "strm_cdf"), OutputMode.Append())
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_snapshot_changefeed" -> (snapshotStreamChangeFeed _),
    "q_snapshot_catalog" -> (snapshotCatalog _),
    "q_snapshot_spj" -> (snapshotSpj _),
    "q_snapshot_spj_mixed" -> (snapshotSpjMixed _),
    "q_snapshot_overwrite" -> (snapshotOverwrite _),
    "q_snapshot_dyn_overwrite" -> (snapshotDynOverwrite _),
    "q_snapshot_clone" -> (snapshotClone _),
    "q_snapshot_merge_evolve" -> (snapshotMergeEvolve _),
    "q_snapshot_agg_push" -> (snapshotAggPush _),
    "q_snapshot_agg_group" -> (snapshotAggGroup _),
    "q_snapshot_agg_where" -> (snapshotAggWhere _),
    "q_snapshot_limit" -> (snapshotLimit _),
    "q_snapshot_topn" -> (snapshotTopN _),
    "q_snapshot_range_skip" -> (snapshotRangeSkip _),
    "q_snapshot_shard_skip" -> (snapshotShardSkip _),
    "q_snapshot_runtime_skip" -> (snapshotRuntimeSkip _),
    "q_snapshot_bloom_skip" -> (snapshotBloomSkip _),
    "q_snapshot_analyze" -> (snapshotAnalyze _),
    "q_snapshot_autondv" -> (snapshotAutoNdv _),
    "q_snapshot_ctas" -> (snapshotCtas _),
    "q_snapshot_rewrite_dv" -> (snapshotRewriteDv _),
    "q_snapshot_branch" -> (snapshotBranch _),
    "q_snapshot_sql_update" -> (snapshotSqlUpdate _),
    "q_snapshot_sql_rowlevel" -> (snapshotSqlRowLevel _),
    "q_snapshot_sql_cow" -> (snapshotSqlCow _),
    "q_snapshot_sql_merge" -> (snapshotSqlMerge _),
    "q_snapshot_call" -> (snapshotSqlCall _),
    "q_snapshot_str_skip" -> (snapshotStrSkip _),
    "q_snapshot_hidden" -> (snapshotHidden _),
    "q_snapshot_eq" -> (snapshotEqDelete _),
    "q_snapshot_delta" -> (snapshotDeltaLog _),
    "q_snapshot_wap" -> (snapshotWap _),
    "q_snapshot_widen" -> (snapshotWiden _),
    "q_snapshot_count" -> (snapshotCount _),
    "q_snapshot_props" -> (snapshotProps _),
    "q_snapshot_rename" -> (snapshotRename _),
    "q_snapshot_dv" -> (snapshotDv _),
    "q_snapshot_changes" -> (snapshotChanges _),
    "q_snapshot_merge" -> (snapshotMerge _),
    "q_snapshot_merge_cols" -> (snapshotMergeCols _),
    "q_snapshot_partition" -> (snapshotPartition _),
    "q_snapshot_replace" -> (snapshotReplace _),
    "q_snapshot_delete" -> (snapshotDelete _),
    "q_snapshot_compact" -> (snapshotCompact _),
    "q_snapshot_evolve" -> (snapshotEvolve _),
    "q_snapshot_cluster" -> (snapshotCluster _),
    "q_snapshot_skip" -> (snapshotSkip _),
    "q_snapshot_tag" -> (snapshotTag _),
    "q_stream_upsert" -> (streamUpsert _),
    "q_stream_cdc" -> (streamCdc _),
    "q_stream_cdc_eq" -> (streamCdcEq _),
    "q_stream_snapshot" -> (streamSnapshot _),
    "q_snapshot_source" -> (streamSnapshotSource _),
    "q_snapshot_drop_col" -> (snapshotDropColumn _),
    "q_snapshot_history" -> (snapshotHistory _),
    "q_snapshot_pipeline" -> (snapshotPipeline _),
    "q_snapshot_read" -> (snapshotRead _),
    "q_snapshot_rollback" -> (snapshotRollback _),
    "q_range_layout" -> (rangeLayout _),
    "q_partitioned_sink" -> (partitionedSink _),
    "q_merge_dedup_sink" -> (mergeDedupSink _),
    "q_split_sink" -> (splitSink _),
    "q_compact_sink" -> (compactSink _),
    "q_stream_tumbling" -> (streamTumbling _),
    "q_stream_sliding" -> (streamSliding _),
    "q_stream_session" -> (streamSession _),
    "q_stream_user_stats" -> (streamUserStats _),
    "q_media_meta" -> (mediaMeta _),
    "q_frame_sample" -> (frameSample _),
    "q_media_chunks" -> (mediaChunks _),
    "q_wav_frames" -> (wavFrames _),
    "q_avi_frames" -> (aviFrames _),
    "q_mp4_frames" -> (mp4Frames _),
    "q_salted_join" -> (saltedJoin _),
    "q_stream_join" -> (streamStreamJoin _),
    "q_stream_left_join" -> (streamLeftJoin _),
    "q_stream_full_join" -> (streamFullJoin _),
    "q_zorder_layout" -> (zorderLayout _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_incremental_agg" -> (incrementalAgg _),
    "q_hll_store" -> (hllStore _),
    "q_kll_store" -> (kllStore _),
    "q_theta_store" -> (thetaStore _),
    "q_mg_store" -> (mgStore _),
    "q_schema_evolution" -> (schemaEvolution _),
    "q_media_resize" -> (mediaResize _),
    "q_stream_dedup" -> (streamDedup _))

  /** Bit-interleave of two 16-bit keys (mirrors Sinks.zOrderKey). */
  private def zTermsSql(na: String, nb: String): String =
    (0 until 16).map(i =>
      s"((($na >> $i) & 1) << ${2 * i}) + ((($nb >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  val oracles: Map[String, String] = Map(
    "q_snapshot_read" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 2 = 0""",
    "q_snapshot_rollback" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_stream_snapshot" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_snapshot_source" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_snapshot_drop_col" ->
      "SELECT doc_id, text, source, n_chars FROM documents",
    "q_snapshot_history" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'overwrite', TRUE),
           (CAST(2 AS BIGINT), 'append', TRUE),
           (CAST(3 AS BIGINT), 'deleteWhere', TRUE),
           (CAST(4 AS BIGINT), 'compact', TRUE))
         t(version, operation, has_files)""",
    "q_snapshot_pipeline" ->
      """SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1""",
    "q_snapshot_changes" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 2 = 1""",
    "q_snapshot_merge" ->
      """WITH upd AS (
           SELECT doc_id, upper(text) AS text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 5)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars FROM upd""",
    "q_snapshot_merge_cols" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 AND n_chars >= 300
                THEN upper(text) ELSE text END AS text,
           lang, source, n_chars
         FROM documents
         UNION ALL
         SELECT -doc_id - 1 AS doc_id, text,
                CAST(NULL AS VARCHAR) AS lang,
                CAST(NULL AS VARCHAR) AS source,
                CAST(NULL AS BIGINT) AS n_chars
         FROM documents WHERE doc_id % 10 = 5""",
    "q_snapshot_partition" ->
      """WITH e AS (
           SELECT event_id, user_id, value,
                  CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym
           FROM events)
         SELECT event_id, user_id, value, ym FROM e
         WHERE ym = (SELECT min(ym) FROM e)""",
    "q_snapshot_replace" ->
      """WITH e AS (
           SELECT event_id, user_id, value,
                  CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym
           FROM events)
         SELECT event_id, user_id,
                CASE WHEN ym = (SELECT min(ym) FROM e)
                     THEN value * 2 ELSE value END AS value, ym
         FROM e""",
    "q_snapshot_delete" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE NOT coalesce(n_chars < 300, FALSE)""",
    "q_snapshot_dv" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE NOT coalesce(n_chars < 300, FALSE)
           AND NOT doc_id % 7 = 0""",
    "q_snapshot_rename" ->
      """SELECT doc_id, text, lang, source, n_chars AS length
         FROM documents""",
    "q_snapshot_str_skip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE source >= 'src10' AND source <= 'src13'""",
    "q_snapshot_hidden" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE source = 'src12'""",
    "q_snapshot_eq" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 5 <> 0
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 10 = 0""",
    "q_snapshot_delta" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",
    "q_snapshot_wap" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",
    "q_snapshot_widen" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",
    "q_snapshot_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents""",
    "q_snapshot_props" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 25 = 0""",
    "q_snapshot_catalog" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE n_chars >= 300 AND lang <> 'zh'""",
    "q_snapshot_call" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_snapshot_spj" ->
      """SELECT o.o_orderkey AS o_orderkey, c.c_custkey AS c_custkey,
           c.c_mktsegment AS seg
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
    "q_snapshot_spj_mixed" ->
      """SELECT l.doc_id AS doc_id, l.n_chars AS n_chars,
           r.quality AS quality
         FROM documents l
         JOIN (SELECT doc_id, CAST(n_chars % 97 AS DOUBLE) AS quality,
                 lang FROM documents) r
           ON l.lang = r.lang AND l.doc_id = r.doc_id""",
    "q_snapshot_overwrite" ->
      """SELECT doc_id, n_chars, lang FROM documents
         WHERE lang <> 'en' AND lang <> 'zh'
         UNION ALL
         SELECT doc_id + 9000000 AS doc_id, n_chars, lang
         FROM documents WHERE lang = 'en' AND doc_id % 2 = 0
         UNION ALL
         SELECT doc_id + 70000000 AS doc_id, n_chars * 2 AS n_chars,
           lang
         FROM documents WHERE lang = 'zh' AND n_chars >= 500""",
    "q_snapshot_dyn_overwrite" ->
      """SELECT doc_id, n_chars, lang FROM documents
         WHERE lang <> 'en'
         UNION ALL
         SELECT doc_id + 4000000 AS doc_id, n_chars + 11 AS n_chars,
           lang
         FROM documents WHERE lang = 'en'""",
    "q_snapshot_clone" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id, lang, 'fork' AS source, n_chars
         FROM documents WHERE doc_id % 10 = 0""",
    "q_snapshot_merge_evolve" ->
      """SELECT doc_id, lang, n_chars,
           CASE WHEN doc_id % 7 = 0
                THEN CAST(n_chars * 2 AS DOUBLE) END AS quality
         FROM documents""",
    "q_snapshot_branch" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         UNION ALL
         SELECT doc_id, lang, 'branch-a' AS source, n_chars
         FROM documents WHERE doc_id % 11 = 0
         UNION ALL
         SELECT doc_id, lang, 'branch-b' AS source, n_chars
         FROM documents WHERE doc_id % 13 = 0""",
    "q_snapshot_agg_push" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           min(lang) AS min_lang, max(lang) AS max_lang,
           min(source) AS min_src, max(source) AS max_src,
           CAST(count(text) AS BIGINT) AS n_text,
           CAST(count(n_chars) AS BIGINT) AS n_nchars,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE doc_id % 9 <> 0) AS n_live
         FROM documents""",
    "q_snapshot_agg_where" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(lang) AS BIGINT) AS n_lang,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM (SELECT doc_id, lang, source FROM documents
               UNION ALL
               SELECT doc_id + 5000000, lang, source FROM documents)
         WHERE source = 'src3' GROUP BY lang""",
    "q_snapshot_limit" ->
      """SELECT CAST(least(60, 4 * (SELECT count(*) FROM documents))
           AS BIGINT) AS n_limited""",
    "q_snapshot_topn" ->
      """WITH both_commits AS (
           SELECT doc_id, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 5000000, n_chars + 7 FROM documents)
         SELECT * FROM (
           SELECT doc_id, n_chars, 'ASC' AS dirn FROM both_commits
           ORDER BY doc_id ASC LIMIT 20)
         UNION ALL
         SELECT * FROM (
           SELECT doc_id, n_chars, 'DESC' AS dirn FROM both_commits
           ORDER BY doc_id DESC LIMIT 20)""",
    "q_snapshot_range_skip" ->
      """SELECT doc_id, text, lang, n_chars FROM documents
         WHERE doc_id >= 2000
         UNION ALL
         SELECT doc_id + 5000000, text, lang, n_chars FROM documents
         WHERE doc_id <= 2000""",
    "q_snapshot_shard_skip" ->
      """SELECT doc_id + 10000000 AS doc_id, text, lang, n_chars
         FROM documents WHERE doc_id >= 100
         UNION ALL
         SELECT doc_id + 15000000, text, lang, n_chars FROM documents
         WHERE doc_id <= 100""",
    "q_snapshot_bloom_skip" ->
      """SELECT concat('JOB', lpad(cast(doc_id * 8 + 2 AS VARCHAR),
           9, '0')) AS jid, n_chars
         FROM documents WHERE doc_id = 42""",
    "q_snapshot_runtime_skip" ->
      """WITH f AS (
           SELECT doc_id AS doc_id, source, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 1000000, source, n_chars FROM documents),
         d AS (
           SELECT DISTINCT source,
             CAST(CAST(substring(source, 4) AS INT) % 3 AS INT) AS tier
           FROM documents)
         SELECT f.doc_id, f.source, f.n_chars
         FROM f JOIN d ON f.source = d.source WHERE d.tier = 1""",
    "q_snapshot_analyze" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_docs,
           CAST(2 * count(DISTINCT doc_id) AS BIGINT) AS exact_ids,
           CAST(count(DISTINCT lang) AS BIGINT) AS exact_langs,
           TRUE AS ndv_ids_ok, TRUE AS ndv_langs_ok
         FROM documents""",
    "q_snapshot_autondv" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_docs,
           CAST(2 * count(DISTINCT doc_id) AS BIGINT) AS exact_ids,
           CAST(count(DISTINCT lang) AS BIGINT) AS exact_langs,
           TRUE AS ndv_ids_ok, TRUE AS ndv_langs_ok
         FROM documents""",
    "q_snapshot_rewrite_dv" ->
      """WITH live AS (
           SELECT doc_id, lang, n_chars FROM documents
           WHERE doc_id % 17 NOT IN (3, 4, 5) AND doc_id >= 25)
         SELECT doc_id, lang, n_chars,
           (SELECT CAST(count(*) AS BIGINT) FROM live) AS n_live
         FROM live""",
    "q_snapshot_ctas" ->
      """SELECT doc_id, lang, n_chars + 1 AS n_chars,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
            WHERE n_chars >= 100) AS n_v1
         FROM documents WHERE lang <> 'zh'""",
    "q_snapshot_agg_group" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           max(n_chars) AS max_chars, max(source) AS max_src
         FROM (SELECT doc_id, text, lang, source, n_chars
                 FROM documents
               UNION ALL
               SELECT doc_id + 5000000, text, lang, source,
                 n_chars + 7 FROM documents)
         GROUP BY lang""",
    "q_snapshot_sql_update" ->
      """SELECT doc_id,
           CASE WHEN coalesce(n_chars < 300, FALSE)
                THEN upper(text) ELSE text END AS text,
           lang, source,
           CASE WHEN coalesce(n_chars < 300, FALSE)
                THEN n_chars + 1 ELSE n_chars END AS n_chars
         FROM documents""",
    "q_snapshot_sql_rowlevel" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE NOT coalesce(doc_id % 7 = 0
           OR n_chars > (SELECT max(n_chars) FROM documents) / 2,
           FALSE)""",
    "q_snapshot_sql_cow" ->
      """SELECT doc_id, text, lang,
           CASE WHEN doc_id % 4 = 1 THEN upper(source)
                ELSE source END AS source,
           CASE WHEN doc_id % 4 = 1 THEN n_chars + 100
                ELSE n_chars END AS n_chars
         FROM documents""",
    "q_snapshot_sql_merge" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 10 = 0 THEN upper(text) ELSE text END
             AS text,
           lang, source, n_chars
         FROM documents
         WHERE NOT (doc_id % 10 = 0
                    AND NOT coalesce(n_chars >= 300, FALSE))
         UNION ALL
         SELECT doc_id + 1000000, text, lang,
                CAST(NULL AS VARCHAR) AS source,
                CAST(NULL AS BIGINT) AS n_chars
         FROM documents WHERE doc_id % 10 = 3""",
    "q_snapshot_changefeed" ->
      """WITH base AS (
           SELECT doc_id, text, lang, source, n_chars FROM documents)
         SELECT doc_id, text, lang, source, n_chars,
                'delete' AS change_type,
                CAST(2 AS BIGINT) AS commit_version
         FROM base WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id, text || '!', lang, source, n_chars,
                'insert', CAST(2 AS BIGINT)
         FROM base WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id + 1000000, text, lang, source, n_chars,
                'insert', CAST(2 AS BIGINT)
         FROM base WHERE doc_id % 10 = 3
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars,
                'delete', CAST(3 AS BIGINT)
         FROM base WHERE doc_id % 10 = 7""",
    "q_snapshot_compact" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_snapshot_cluster" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "q_snapshot_skip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id BETWEEN 100 AND 199""",
    "q_snapshot_tag" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
         WHERE doc_id % 2 = 0""",
    "q_snapshot_evolve" ->
      """SELECT doc_id, text, lang, source,
                CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
         FROM documents""",
    "q_stream_cdc" ->
      """WITH upd AS (
           SELECT doc_id, upper(text) AS text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 5)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
           AND d.doc_id % 10 <> 7
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars FROM upd""",
    "q_stream_cdc_eq" ->
      """WITH upd AS (
           SELECT doc_id, upper(text) AS text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 5)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
           AND d.doc_id % 10 <> 7
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars FROM upd""",
    "q_stream_upsert" ->
      """WITH upd AS (
           SELECT doc_id, upper(text) AS text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT -doc_id - 1 AS doc_id, text, lang, source, n_chars
           FROM documents WHERE doc_id % 10 = 5)
         SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
         UNION ALL
         SELECT doc_id, text, lang, source, n_chars FROM upd""",
    "q_zorder_layout" ->
      s"""WITH e AS (SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
         m AS (SELECT CAST(min(user_id) AS DOUBLE) AS amin,
                 CAST(max(user_id) AS DOUBLE) AS amax,
                 CAST(min(t_us) AS DOUBLE) AS bmin,
                 CAST(max(t_us) AS DOUBLE) AS bmax FROM e),
         n AS (SELECT event_id, user_id, t_us,
                 CASE WHEN amax > amin THEN
                   CAST(floor((CAST(user_id AS DOUBLE) - amin) * 65535.0
                     / (amax - amin) + 0.5) AS BIGINT) ELSE 0 END AS na,
                 CASE WHEN bmax > bmin THEN
                   CAST(floor((CAST(t_us AS DOUBLE) - bmin) * 65535.0
                     / (bmax - bmin) + 0.5) AS BIGINT) ELSE 0 END AS nb
               FROM e CROSS JOIN m)
         SELECT event_id, user_id, t_us,
           ${zTermsSql("na", "nb")} AS z
         FROM n""",
    "q_range_layout" ->
      "SELECT event_id, user_id, event_type FROM events",
    "q_partitioned_sink" ->
      """SELECT event_id, value, strftime(ts, '%Y_%m') AS ym FROM events""",
    "q_merge_dedup_sink" ->
      """SELECT DISTINCT event_id, event_type, value,
           strftime(ts, '%Y_%m') AS ym
         FROM events""",
    "q_split_sink" ->
      "SELECT event_id, value FROM events",
    "q_compact_sink" ->
      "SELECT event_id, event_type, value FROM events",
    "q_stream_tumbling" ->
      """WITH b AS (
           SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP))
                    // 21600000000) * 21600000000) AS w_start,
                  event_type,
                  CAST(round(value * 100.0, 0) AS BIGINT) AS cents
           FROM events)
         SELECT w_start, w_start + INTERVAL 6 HOUR AS w_end, event_type,
                count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM b GROUP BY 1, 2, 3""",
    "q_stream_sliding" ->
      """WITH b AS (
           SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP))
                    // 21600000000) * 21600000000
                    - k * 21600000000) AS w_start,
                  event_type
           FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
         SELECT w_start, w_start + INTERVAL 12 HOUR AS w_end, event_type,
                count(*) AS n
         FROM b GROUP BY 1, 2, 3""",
    "q_stream_session" ->
      s"""WITH ev AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
           UNION ALL
           ${graft.Tables.SessionTie.sql}),
         o AS (
           SELECT user_id, ts,
                  CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                           OVER (PARTITION BY user_id ORDER BY ts)
                         > 3600000000 THEN 1 ELSE 0 END AS brk
           FROM ev),
         s AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT user_id, min(ts) AS s_start,
                max(ts) + INTERVAL 1 HOUR AS s_end,
                count(*) AS n
         FROM s GROUP BY user_id, sid""",
    "q_stream_user_stats" ->
      """SELECT user_id, count(*) AS n,
           max(CAST(round(value * 100.0, 0) AS BIGINT)) AS max_cents
         FROM events GROUP BY 1""",
    "q_media_meta" ->
      s"""SELECT doc_id AS media_id,
           CASE WHEN doc_id % 7 = 0 THEN 'wav'
                WHEN doc_id % 7 = 1 THEN 'mp4'
                ELSE 'unknown' END AS format,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 44100 END AS INT)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 2 END AS INT) AS channels,
           CAST(CASE WHEN doc_id % 7 = 0 THEN ${Multimodal.WavFixture.length}
                WHEN doc_id % 7 = 1 THEN ${Multimodal.FtypFixture.length}
                ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes
         FROM documents""",
    "q_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no
         FROM documents
         CROSS JOIN (SELECT unnest([0, 7, 14, 21, 28]) AS f)""",
    // replays the 32-byte chunking codec + step-2 sampling of the
    // first 4 frames with substr arithmetic (ASCII text: byte = char)
    "q_media_chunks" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
           substr(text, f * 32 + 1, 32) AS chunk
         FROM documents
         CROSS JOIN (SELECT unnest([0, 2]) AS f)
         WHERE text IS NOT NULL AND length(text) > f * 32""",
    // same substr replay: the 44-byte streaming WAV header is parsed
    // away by the codec and the data section IS the text bytes
    "q_wav_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
           substr(text, f * 32 + 1, 32) AS chunk
         FROM documents
         CROSS JOIN (SELECT unnest([0, 2]) AS f)
         WHERE text IS NOT NULL AND length(text) > f * 32""",
    "q_avi_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
           substr(text, f * 48 + 1, 48) AS chunk
         FROM documents
         CROSS JOIN (SELECT unnest([0, 2]) AS f)
         WHERE text IS NOT NULL AND length(text) > f * 48""",
    "q_mp4_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
           substr(text, f * 48 + 1, 48) AS chunk
         FROM documents
         CROSS JOIN (SELECT unnest([0, 2]) AS f)
         WHERE text IS NOT NULL AND length(text) > f * 48""",
    "q_salted_join" ->
      """SELECT event_id, user_id, value, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey""",
    "q_stream_join" ->
      """SELECT a.event_id AS buy_id, b.event_id AS click_id, a.user_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
         WHERE a.event_type = 'purchase' AND b.event_type = 'click'
           AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts""",
    "q_stream_left_join" ->
      """SELECT a.event_id AS buy_id, b.event_id AS click_id, a.user_id
         FROM events a LEFT JOIN events b
           ON a.user_id = b.user_id AND b.event_type = 'click'
             AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts
         WHERE a.event_type = 'purchase'""",
    "q_stream_full_join" ->
      """WITH buys AS (SELECT event_id AS buy_id, user_id AS buy_user,
                  ts AS buy_ts FROM events WHERE event_type = 'purchase'),
         cls AS (SELECT event_id AS click_id, user_id AS click_user,
                  ts AS click_ts FROM events WHERE event_type = 'click')
         SELECT buy_id, click_id,
                coalesce(buy_user, click_user) AS user_id
         FROM buys FULL JOIN cls
           ON buy_user = click_user
             AND click_ts >= buy_ts - INTERVAL 1 HOUR
             AND click_ts <= buy_ts""",
    "q_stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2""",
    "q_incremental_agg" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM events GROUP BY 1""",
    "q_stream_dedup" ->
      """SELECT DISTINCT event_id, event_type FROM events""",
    "q_media_resize" ->
      """SELECT doc_id AS media_id, 'passthrough' AS format,
                CAST(-1 AS INT) AS width, CAST(-1 AS INT) AS height,
                md5(text) AS payload_md5
         FROM documents""",
    "q_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE)
             AS o_totalprice, CAST(1 AS BIGINT) AS v FROM orders
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice,
                CAST(2 AS BIGINT) FROM orders""",
    "q_hll_store" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS exact_users, TRUE AS hll_ok
         FROM events GROUP BY 1
         UNION ALL
         SELECT '__total__' AS event_type,
                CAST(count(DISTINCT user_id) AS BIGINT), TRUE
         FROM events""",
    "q_kll_store" ->
      """SELECT event_type, TRUE AS ok25, TRUE AS ok50, TRUE AS ok90
         FROM (SELECT DISTINCT event_type FROM events)
         UNION ALL
         SELECT '__total__', TRUE, TRUE, TRUE""",
    "q_theta_store" ->
      """SELECT event_type, TRUE AS ok
         FROM (SELECT DISTINCT event_type FROM events)
         UNION ALL
         SELECT '__click_x_purchase__', TRUE
         UNION ALL
         SELECT '__click_minus_purchase__', TRUE""",
    "q_mg_store" ->
      """WITH tk AS (SELECT lang,
             unnest(string_split(text, ' ')) AS token
           FROM documents WHERE text IS NOT NULL),
         cnt AS (SELECT lang, token, count(*) AS n
                 FROM tk GROUP BY 1, 2),
         rk AS (SELECT lang, token, n, row_number() OVER
                  (PARTITION BY lang ORDER BY n DESC, token) AS r
                FROM cnt)
         SELECT lang, token, n, TRUE AS in_sketch
         FROM rk WHERE r <= 3"""
  ).map { case (k, v) => k -> v.linesIterator.map(_.trim).mkString(" ") }
}
