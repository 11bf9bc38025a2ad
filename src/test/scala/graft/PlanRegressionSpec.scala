package graft

/** Plan-shape regression guards for the scale-critical properties
  * documented in PLANS.md.
  */
class PlanRegressionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("scan: predicate pushdown and column pruning reach parquet") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"), p)
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"),
      "unused columns must not be read")
  }

  test("stage-2 spine: broadcast join, no shuffle exchange") {
    val p = plan("q_stage2_spine")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("ShuffleExchange") && !p.contains("SortMergeJoin"), p)
  }

  test("window lag: exactly one exchange") {
    val p = plan("q_window_lag")
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 1, p)
  }

  test("similarity top-k: custom operator, not a full-sort window") {
    val p = plan("q_cosine_topk")
    assert(p.contains("TopKPerKey"), p)
  }

  test("jaccard pairs: no quadratic join operator anywhere in the plan") {
    val p = plan("q_jaccard_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stratified sample: map-only, zero exchanges") {
    val p = plan("q_stratified_sample")
    assert(!p.contains("Exchange"),
      s"hash-based sampling must not shuffle:\n$p")
  }

  test("sequence packing: exactly one exchange (the per-source window)") {
    val p = plan("q_pack_sequences")
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 1, p)
  }

  test("quota sample: bounded heap + one exchange, no window sort") {
    val p = plan("q_quota_sample")
    assert(p.contains("TopKPerKey"), p)
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Window"), "no row_number window sort")
  }

  test("skew agg: composite-key two-phase, no distinct Expand") {
    val p = plan("q_skew_agg")
    assert(!p.contains("Expand"),
      s"count(DISTINCT) expansion defeats the two-phase shape:\n$p")
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 2,
      s"(key,distinct) shuffle then key shuffle:\n$p")
  }

  test("rand project: map-only, zero exchanges") {
    val p = plan("q_rand_project")
    assert(!p.contains("Exchange"),
      s"projection against literal planes must not shuffle:\n$p")
  }

  test("range join: binned equi-join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"key-less interval join must bin, not scan all pairs:\n$p")
  }

  test("kmeans: broadcast centroids + bounded-heap assignment") {
    val p = plan("q_kmeans")
    assert(p.contains("TopKPerKey"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("except keys: distinct-before-except broadcasts the build side") {
    // pre-distincting each side lets Catalyst broadcast the (tiny)
    // distinct right side and anti-join map-side — the big table's
    // raw rows never shuffle; the only shuffles carry distinct keys
    val p = plan("q_except_keys")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"except should plan as a broadcast anti-join over distinct keys:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"one key-only shuffle per side, nothing else:\n$p")
  }

  test("stage-1 mem: both events from ONE scan, zero exchanges") {
    // the two-projection union form reads the source twice; the
    // explode form must keep a single FileScan and stay map-only
    val p = plan("q_stage1_mem")
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      s"memused + memused_minus_diskcache must share one scan:\n$p")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), "explode present")
  }

  test("etl month: one window exchange, broadcast join, nothing extra") {
    // the §3 lifecycle composed as ONE plan must cost exactly what its
    // stages cost separately: the nfs window's hash exchange is the
    // only shuffle; the accounting join stays broadcast
    val p = plan("q_etl_month")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      s"only the nfs window may shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("intersect keys: distinct-before-intersect broadcasts the build side") {
    // same property as the EXCEPT guard: pre-distincting each side
    // lets Catalyst broadcast the (tiny) distinct right side and
    // semi-join map-side — the fact table's raw rows never shuffle;
    // the only hash exchanges carry distinct month keys
    val p = plan("q_intersect_keys")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"intersect should plan as a broadcast semi-join over distinct keys:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      s"one key-only shuffle per side, nothing else:\n$p")
  }

  test("weighted sample: bounded global top-k, not a full sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as a bounded top-k:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      "no global sort shuffle")
  }

  test("chunk docs: map-only explode, zero exchanges") {
    val p = plan("q_chunk_docs")
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), "explode present")
  }

  test("bloom join: probe filter sits in the big side's scan stage") {
    val p = plan("q_bloom_join")
    // O(1) plan string: the probe prints its byte length, never the
    // filter bits (Catalyst's own BloomFilterMightContain would embed
    // a multi-KB hex literal in every explain/log line)
    assert(p.contains("graft_bloom_contains"), p.take(800))
    assert(p.length < 20000,
      s"plan string must not embed the filter bits (${p.length} chars)")
    // the probe Filter must appear BELOW the semi join in the plan
    // tree — i.e. on the big side's scan branch, before any exchange
    val lines = p.linesIterator.toSeq
    val joinAt = lines.indexWhere(_.contains("LeftSemi"))
    val probeAt = lines.indexWhere(_.contains("graft_bloom_contains"))
    assert(joinAt >= 0 && probeAt > joinAt,
      s"probe filter must be under the join (scan-side), not above it:\n$p")
  }

  test("table diff: checksum phase shuffles buckets, not rows") {
    val a = Tables.t(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val p = graft.etl.Reconcile
      .changedBuckets(a, a, "o_orderkey", 256)
      .queryExecution.executedPlan.toString
    // partial_bit_xor before the exchange = map-side combine: every
    // task emits at most nBuckets checksum rows, so the exchange (and
    // everything above it) is O(nBuckets), independent of table size
    assert(p.contains("partial_bit_xor"),
      s"bucket checksums must partial-aggregate before the shuffle:\n$p")
    assert(p.contains("partial_count"),
      "row count rides the same partial aggregate")
  }

  test("quality score: hashed weights table broadcasts (bounded by " +
    "nBuckets by construction), corpus side never shuffles for the join") {
    val p = plan("q_quality_score")
    assert(p.contains("BroadcastHashJoin"),
      s"the nBuckets-bounded weights table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a shuffled join would move the corpus for a fixed-size dim:\n$p")
  }

  test("bpe encode: subword dictionary join broadcasts (vocab bounded " +
    "by |chars| + |merges| by construction)") {
    val p = plan("q_encode_tokens_bpe")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded subword vocabulary must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus tokens must not shuffle against a bounded dict:\n$p")
    assert(p.contains("graft_bpe_encode"),
      "the codegen'd expression, not an HOF/UDF, tokenizes the corpus")
  }

  test("byte bpe round trip: map-only — encode and decode are fused " +
    "projections, zero joins, zero exchanges") {
    val p = plan("q_byte_bpe_roundtrip")
    assert(!p.contains("Exchange"), s"no shuffle in a pure projection:\n$p")
    assert(p.contains("graft_byte_bpe_decode") &&
      p.contains("graft_byte_bpe_encode"), p)
  }

  test("intradoc dedup: two hash exchanges ((doc,line) then doc), " +
    "no window, no join — the per-doc-keyed aggregate never builds a " +
    "corpus-global line key") {
    val p = plan("q_intradoc_dedup")
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 2, p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("perplexity: only the 1-row vocabulary scalar is broadcast-" +
    "HINTED — the LM count tables join un-hinted (unbounded vocab; " +
    "statistics/AQE decide), and every aggregate partials before its " +
    "shuffle") {
    val qe = SparkEntry.queries("q_perplexity")(spark, dir).queryExecution
    val hints = "ResolvedHint".r.findAllIn(qe.analyzed.toString).size
    assert(hints === 1,
      s"exactly one broadcast hint (V): a forced LM-table broadcast " +
        s"is a 100 TB OOM:\n${qe.analyzed}")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"),
      s"map-side combine must precede the count shuffles:\n$p")
  }

  test("bm25: bounded-heap top-k (no corpus-wide window sort), and " +
    "every broadcast is query-sized by construction (query terms, " +
    "query-term df, 1-row N/Σdl scalar)") {
    val qe = SparkEntry.queries("q_bm25_topk")(spark, dir).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("TopKPerKey"),
      s"selection must be the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val hints = "ResolvedHint".r.findAllIn(qe.analyzed.toString).size
    assert(hints === 5,
      "exactly the bounded-by-construction broadcasts may be hinted: " +
        "the query-term prune inside the cached postings sliver " +
        "(appears in both consumer branches of the analyzed tree), " +
        "query terms in the scoring join, query-term df, and the " +
        s"1-row N/sdl scalar:\n${qe.analyzed}")
    assert(qe.executedPlan.toString.contains("InMemoryTableScan"),
      "both df and scoring must read the persisted query-term " +
        "postings sliver, not recompute the corpus postings aggregate")
  }

  test("shuffle shards: one hash exchange + per-shard window — no " +
    "global ordering structure anywhere in the plan") {
    val p = plan("q_shuffle_shards")
    assert("Exchange".r.findAllIn(p).size -
      "BroadcastExchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("rangepartitioning"),
      s"a range partition would mean a global sort:\n$p")
  }

  test("hybrid rrf: fusion selects via the bounded heap; the rank " +
    "window runs above it (pre-pruned rows only)") {
    val p = plan("q_hybrid_rrf")
    assert(p.contains("TopKPerKey"), p)
    assert(p.contains("Window"), s"rank window missing entirely:\n$p")
    assert(p.indexOf("Window") < p.indexOf("TopKPerKey"),
      s"Window must sit ABOVE TopKPerKey (plans print top-down):\n$p")
  }

  test("media chunks: per-partition codec, zero exchanges") {
    val p = plan("q_media_chunks")
    assert(!p.contains("Exchange"),
      s"the codec seam must not shuffle payloads:\n$p")
  }

  test("refined PQ: exact pass joins by broadcast, never a shuffle join") {
    val p = plan("q_pq_refined")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for the exact re-rank:\n$p")
    assert(p.contains("TopKPerKey"), p)
  }

  test("snapshot range read: residual predicate pushes into the parquet scan") {
    val p = plan("q_snapshot_skip")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,100), LessThanOrEqual(doc_id,199)]"),
      s"range must reach the scan as a pushed filter:\n$p")
  }

  test("plain snapshot read keeps its join-free plan (DV/mapping machinery stays off the common path)") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files
      .createTempDirectory("graft_snap_plain").toString + "/tbl"
    val docs = Tables.t(spark, dir, "documents")
    graft.io.Snapshots.commit(docs, path)
    val p = graft.io.Snapshots.read(spark, path)
      .filter(col("doc_id") < 100)
      .queryExecution.executedPlan.toString
    // no DVs and no renames ⇒ the read must be the bare manifest scan:
    // no anti-join, no row-index generation, no rename projection
    assert(!p.contains("Join"), s"unexpected join on the no-DV path:\n$p")
    assert(!p.contains("row_index"),
      s"row-identity generation leaked onto the common path:\n$p")
    // and the predicate still reaches parquet
    assert(p.contains("PushedFilters") && p.contains("LessThan(doc_id,100)"),
      s"pushdown lost:\n$p")
    // with a pending DV the SAME read applies it in-scan: still no
    // join, and exactly the replay's rows
    graft.io.Snapshots.deleteWhere(spark, path,
      col("n_chars") < 300, mode = "mor")
    val mor = graft.io.Snapshots.read(spark, path)
      .filter(col("doc_id") < 100)
    val p2 = mor.queryExecution.executedPlan.toString
    assert(!p2.contains("Join"), s"mor read must not join:\n$p2")
    val want = docs.filter(col("doc_id") < 100 &&
      !(col("n_chars") < 300).eqNullSafe(true))
    assert(mor.count() === want.count())
    assert(mor.exceptAll(want).isEmpty && want.exceptAll(mor).isEmpty)
  }

  test("equality-delete read: the key anti-join BROADCASTS (never a shuffled SMJ on the table side)") {
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files
      .createTempDirectory("graft_snap_eqplan").toString + "/tbl"
    val docs = Tables.t(spark, dir, "documents")
    graft.io.Snapshots.commit(docs, path)
    graft.io.Snapshots.deleteKeysEq(spark, path,
      docs.filter(col("doc_id") % 9 === 0).select("doc_id"),
      Seq("doc_id"))
    // past the delete-shipping budget, where the anti-join plans
    spark.conf.set(graft.io.Snapshots.MaxDeleteBytesConf, "1")
    val p = try graft.io.Snapshots.read(spark, path)
      .queryExecution.executedPlan.toString
    finally spark.conf.unset(graft.io.Snapshots.MaxDeleteBytesConf)
    // the delete-key file is tiny relative to the table - at 100 TB
    // the table side must NOT shuffle to apply a CDC delete batch
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"eq-delete read must broadcast the keys:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"table-side shuffle on the eq-delete read:\n$p")
  }

  test("graph supersteps: equi-joins only, no quadratic operator") {
    Seq("q_pagerank", "q_bfs_hops").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("PCA projection: map-only against broadcast state, zero exchanges") {
    val p = plan("q_pca_project")
    assert(!p.contains("Exchange"),
      s"scores fold per row against literal directions - no shuffle:\n$p")
  }

  test("partitioned snapshot read: Catalyst partition filters prune inside the scan") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FilterExec
    val path = java.nio.file.Files
      .createTempDirectory("graft_snap_plan").toString + "/tbl"
    val docs = Tables.t(spark, dir, "documents")
    graft.io.Snapshots.commit(
      docs.withColumn("bucket", col("doc_id") % 4), path,
      partitionBy = Seq("bucket"))
    val df = graft.io.Snapshots.read(spark, path)
      .filter(col("bucket") === 2L)
    // the partition predicate must be answered by the manifest (no
    // row-level Filter above the scan) and actually shrink the file
    // set the scan plans
    assert(df.queryExecution.sparkPlan.collect {
      case f: FilterExec => f }.isEmpty, df.queryExecution.sparkPlan)
    val scanned = plannedFiles(df).size
    val total = graft.io.Snapshots.read(spark, path)
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    assert(total >= 4, s"want >=4 partition files, got $total")
    assert(scanned < total,
      s"partition pruning must shrink the scan: $scanned of $total files")
    // and the pruned scan still answers exactly
    assert(df.count() === docs.filter(col("doc_id") % 4 === 2).count())
  }

  test("snapshot DSv2 scan: clean tables read COLUMNAR, delete-bearing tables row-based") {
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files
      .createTempDirectory("graft_colnr").toString
    val cat = s"gcolnr${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.io.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (v BIGINT, s STRING)")
    spark.range(0L, 1000L).toDF("v").selectExpr("v", "'x' AS s")
      .createOrReplaceTempView("colnr_src")
    spark.sql(s"INSERT INTO $cat.db.t SELECT * FROM colnr_src")
    def planOf(): String = {
      val df = spark.sql(s"SELECT v, s FROM $cat.db.t WHERE v >= 10")
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // clean table: batches hand off into the codegen'd ColumnarToRow
    val clean = planOf()
    assert(clean.contains("ColumnarToRow"),
      s"clean snapshot scan should read columnar:\n$clean")
    // POSITIONAL deletes stay columnar: the MoR apply is a zero-copy
    // selection view per batch ([[graft.io.SelectedColumnVector]]),
    // so a CDC-heavy table keeps vectorized reads
    graft.io.Snapshots.deleteWhere(spark, s"$wh/db/t",
      col("v") === 0L, mode = "mor")
    val mor = planOf()
    assert(mor.contains("ColumnarToRow"),
      s"positional-delete snapshot scan should read columnar:\n$mor")
    // results exact either way
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
      .head().getLong(0) === 999L)
    // EQUALITY deletes flip the scan row-based (their kill test
    // probes row values)
    graft.io.Snapshots.deleteKeysEq(spark, s"$wh/db/t",
      spark.range(1L, 2L).toDF("v"), Seq("v"))
    val eq = planOf()
    assert(!eq.contains("ColumnarToRow"),
      s"equality-delete snapshot scan must stay row-based:\n$eq")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t")
      .head().getLong(0) === 998L)
  }
}
