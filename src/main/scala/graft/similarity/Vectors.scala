package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), built on
  * higher-order functions — zero UDFs, so the distance math inlines
  * into whole-stage codegen.
  *
  * Scale design: the brute-force path broadcasts the (small) query set
  * against the corpus — a map-only scan, no shuffle, linear in corpus
  * size. The LSH path buckets vectors by random-hyperplane signs so
  * candidate generation is a bucket-equi-join (shuffle on a narrow key)
  * instead of an O(n·q) scan; at 100 TB only the bucketed variant runs.
  */
object Vectors {

  /** Query sets beyond this make the broadcast |corpus|×|queries| scan
    * the wrong tool — each executor evaluates every (row, query) pair,
    * and the broadcast itself approaches driver/executor memory. Same
    * fail-loudly posture as [[graft.etl.BloomJoin.MaxExpectedItems]]:
    * past the ceiling, use [[annTopK]] / [[ivfTopK]], which bucket the
    * corpus so cost stays proportional to candidates, not pairs.
    */
  val MaxBruteForceQueries: Long = 100000L

  /** Enforce the brute-force ceiling. NOTE: when `knownCount` is
    * empty this runs an EAGER Spark job at call time in an otherwise
    * lazy API — the query plan is evaluated here for the guard and
    * again by the actual join (a nondeterministic source could even
    * pass the guard yet exceed the ceiling at join time). Callers with
    * an expensive or nondeterministic query plan should pass
    * `queryCount` (or cache/localCheckpoint the queries first). The
    * probe itself is bounded — a LocalLimit stops the scan at
    * `MaxBruteForceQueries + 1` rows — so it costs O(ceiling)
    * regardless of the query set's true size.
    */
  private def requireBruteForceable(queries: DataFrame, op: String,
                                    knownCount: Option[Long]): Unit = {
    val n = knownCount.getOrElse(
      queries.limit(MaxBruteForceQueries.toInt + 1).count())
    require(n <= MaxBruteForceQueries,
      s"$op scans |corpus| x |queries| pairs and broadcasts the query " +
        s"set: > $MaxBruteForceQueries query rows is the regime for " +
        "annTopK/ivfTopK (bucketed candidates), not a brute-force scan")
  }

  /** float[] → double[] up front, so every subsequent fold is pure
    * double arithmetic (deterministic and oracle-reproducible).
    */
  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold dot product via composed built-ins — the
    * pure-built-in reference implementation, bit-identical to [[dot]].
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** Sequential dot product (left-to-right, bit-deterministic) —
    * fused native expression, stays in whole-stage codegen.
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.DotProductExpr(
      Bridge.expression(a), Bridge.expression(b)))
  }

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity via composed built-ins (four array walks).
    * Bit-identical to [[cosine]]; kept as the pure-built-in reference.
    */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Cosine similarity of two double[] columns — fused single-pass
    * native expression with whole-stage codegen
    * (graft.plans.CosineSimilarityExpr); accumulation order matches
    * [[cosineHof]] exactly.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.CosineSimilarityExpr(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Per-vector min-max scalar quantization to `levels` integer codes
    * (`levels = 255` ≈ int8): each component maps to
    * `⌊(x − min) / (max − min) · levels + 0.5⌋`, with the per-vector
    * `(vmin, vmax)` emitted for dequantization. A constant vector
    * (max = min) quantizes to all-zero codes.
    *
    * This is the storage-side half of a 100 TB ANN index: 4-byte floats
    * become 1-byte codes (plus two doubles per vector), cutting scan
    * and shuffle bytes ~4× while `code/levels·(max−min)+min`
    * reconstructs values to within half a step. Map-only (no shuffle),
    * pure exact double arithmetic (+,−,·,/ and floor are all correctly
    * rounded) — so codes are engine-portable, unlike anything built on
    * transcendentals.
    */
  def quantizeMinMax(vectors: DataFrame, levels: Int = 255,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val v = toDouble(col(vecCol))
    vectors
      .select(col(idCol).as("vec_id"), v.as("v"))
      .select(col("vec_id"),
        array_min(col("v")).as("vmin"), array_max(col("v")).as("vmax"),
        col("v"))
      .select(col("vec_id"), col("vmin"), col("vmax"),
        transform(col("v"), x =>
          when(col("vmax") > col("vmin"),
            floor((x - col("vmin")) / (col("vmax") - col("vmin"))
              * levels + 0.5).cast("long"))
            .otherwise(lit(0L))).as("codes"))
  }

  /** Shared ranking tail: prune to k rows per query with the custom
    * bounded-heap operator (no partition sort), then rank only the
    * k·queries survivors with a (now tiny) window.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val pruned = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("vec_id")), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("vec_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries are broadcast — a
    * map-only scan — and the top-k selection is the bounded-heap
    * operator. `cos` is rounded to 6 decimals so independent engines
    * rank identically.
    *
    * The ceiling guard runs one eager bounded count of `queries`
    * unless `queryCount` supplies the size — pass it (or cache the
    * queries) when the query plan is expensive to evaluate twice.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 queryCount: Option[Long] = None): DataFrame = {
    requireBruteForceable(queries, "cosineTopK", queryCount)
    val c = corpus.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Hard-negative mining (DPR/SimCSE-style): per query, the `k` MOST
    * similar corpus vectors whose cosine stays BELOW `maxCos` —
    * similar enough to be informative contrastive negatives, not so
    * similar they are latent positives. Same broadcast + bounded-heap
    * shape as [[cosineTopK]]; the ceiling filter runs before the heap
    * so near-dups never occupy heap slots. Same `queryCount` contract
    * as [[cosineTopK]] — the guard's bounded count is eager.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    maxCos: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    queryCount: Option[Long] = None): DataFrame = {
    requireBruteForceable(queries, "hardNegatives", queryCount)
    val c = corpus.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos"))
      .filter(col("cos") < maxCos)
    rankTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane: plane i, dimension d → a
    * double in [−0.5, 0.5). Pure integer arithmetic (Knuth
    * multiplicative hash mod a prime) evaluated once in Scala — IEEE
    * gives any engine computing the same formula the identical double,
    * so the literal array is oracle-safe and costs nothing per row.
    */
  def hyperplane(i: Int, dims: Int): Column =
    array((0 until dims).map { d =>
      lit(((i.toLong * dims + d) * 2654435761L % 1000003L).toDouble
        / 1000003.0 - 0.5)
    }: _*)

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * style): project each vector onto `outDims` deterministic
    * pseudo-random hyperplanes (the same coefficient stream as
    * [[lshBucket]], kept as real-valued projections instead of sign
    * bits). At 100 TB this is the cheap first stage of an ANN
    * cascade — distances are approximately preserved at a fraction of
    * the dimensionality, so coarse search runs on `outDims` doubles
    * (or their [[quantizeMinMax]] codes) and full vectors are read
    * only for final re-ranking. Map-only, one codegen'd projection per
    * output dim; values rounded to 6 decimals (fixed fold order) for
    * cross-engine reproducibility.
    */
  def randomProject(vectors: DataFrame, outDims: Int, dims: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val v = toDouble(col(vecCol))
    vectors.select(col(idCol).as("vec_id") +:
      (0 until outDims).map(i =>
        round(dot(v, hyperplane(i, dims)), 6).as(s"p_$i")): _*)
  }

  /** Deterministic Lloyd k-means over an embedding corpus — the
    * clustering stage of semantic dedup (SemDeDup-style: cluster
    * first, then near-dup search within clusters) and the trained-
    * centroid source for [[ivfTopK]]. Init seeds centroids from the id
    * prefix ([[ivfAssign]]'s convention); each iteration (a) assigns
    * every vector to its highest-cosine centroid — a broadcast join
    * against the k-row centroid table, rank 1 picked by the bounded-
    * heap TopKPerKey operator, cosine rounded to 6 decimals with ties
    * to the smaller centroid id — and (b) recomputes each centroid as
    * the element-wise mean of its members. The mean sums integer-
    * quantized components (`floor(x·1e6 + 0.5)` as long) so the
    * reduction is exact and order-independent — deterministic across
    * engines, runs, and partitionings, where a naive double sum is
    * none of those. Scale shape: per iteration one broadcast join plus
    * two balanced key shuffles ((cluster, dim), then cluster); the
    * centroid table stays k rows and is localCheckpoint'ed so the plan
    * does not grow with iterations. Returns (vec_id, cluster, cos).
    */
  def kmeans(vectors: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    def assign(cen: DataFrame): DataFrame = {
      val scored = v.join(broadcast(cen))
        .select(col("vec_id"), col("v"), col("centroid_id"),
          round(cosine(col("v"), col("cv")), 6).as("ccos"))
      graft.plans.TopK.perKey(scored, Seq(col("vec_id")),
        Seq(col("ccos").desc, col("centroid_id")), 1)
    }
    var cen = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    for (_ <- 0 until iters) {
      val parts = assign(cen)
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .select(col("centroid_id"), col("dim"),
          floor(col("x") * 1000000.0 + 0.5).cast("long").as("q"))
        .groupBy("centroid_id", "dim")
        .agg(sum("q").as("s"), count(lit(1)).as("cnt"))
      cen = parts.groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("s"), col("cnt")))),
          m => (m.getField("s").cast("double") / m.getField("cnt"))
            / 1000000.0).as("cv"))
        .localCheckpoint()
    }
    assign(cen).select(col("vec_id"),
      col("centroid_id").as("cluster"), col("ccos").as("cos"))
  }

  /** SemDeDup-style semantic deduplication: [[kmeans]] clusters are
    * the blocking key — near-duplicate pairs are searched only WITHIN
    * each cluster, and the larger id of every pair with rounded cosine
    * ≥ `threshold` is dropped. Returns the surviving (vec_id, cluster)
    * rows.
    *
    * Scale shape: clustering replaces the all-pairs O(n²) scan with
    * k · (n/k)² work — SIZING RULE: pick k ∝ n (e.g. n / 1000, the
    * same per-bucket bound as [[cosineNearDupPairs]]) so within-
    * cluster populations stay constant as the corpus grows. The
    * within-cluster join shuffles once on the cluster id; pair
    * scoring is the fused codegen cosine.
    *
    * LIFETIME CONTRACT: the returned survivor set is materialized
    * eagerly via `localCheckpoint` (so the internal caches can be
    * released before returning). Checkpoint blocks live on the
    * executors that computed them — under dynamic allocation, losing
    * those executors makes the returned DataFrame unrecomputable
    * later in the session. Consume (write/collect) the result before
    * executors can be reclaimed, or persist it to storage first.
    */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int,
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // cache: the assignment feeds both sides of the self-join AND the
    // final anti-join — uncached, k-means re-runs three times
    val assigned = kmeans(vectors, k, iters, idCol, vecCol)
      .select(col("vec_id"), col("cluster")).cache()
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val cv = v.join(assigned, "vec_id").cache()
    val losers = cv.as("a").join(cv.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosine(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    // materialize the (small) survivor set eagerly so the internal
    // caches can be released before returning — otherwise every call
    // leaks two cached frames into executor memory for the session's
    // lifetime (the survivors are a strict subset of the ids: tiny
    // next to the cached vector table they replace)
    val survivors = assigned.join(losers, Seq("vec_id"), "left_anti")
      .localCheckpoint()
    cv.unpersist()
    assigned.unpersist()
    survivors
  }

  /** Random-hyperplane LSH bucket id: bit i set iff dot(v, plane_i) > 0.
    * Vectors in the same bucket are ANN candidates.
    */
  def lshBucket(v: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { i =>
      when(dot(v, hyperplane(i, dims)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding-cosine near-duplicate pairs via LSH blocking: only
    * same-bucket pairs are scored (vectors with cosine → 1 agree on
    * every hyperplane sign with high probability). Returns `doc_a <
    * doc_b` pairs with rounded cosine ≥ threshold.
    *
    * SIZING RULE (100 TB guard): `planes` bounds the bucket count at
    * 2^planes, and the within-bucket self-join is quadratic in bucket
    * population ≈ n / 2^planes. Keep per-bucket population ≤ ~1000 —
    * i.e. `planes ≥ log2(n / 1000)`; a 1e9-vector corpus needs ≥ 20
    * planes, not the 8 a small test uses. Pass `expectedCorpusSize` to
    * have the rule enforced instead of remembered.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, planes: Int,
                         dims: Int, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         expectedCorpusSize: Option[Long] = None,
                         targetBucketSize: Long = 1000L): DataFrame = {
    expectedCorpusSize.foreach { n =>
      val needed = math.ceil(
        math.log(math.max(1.0, n.toDouble / targetBucketSize))
          / math.log(2.0)).toInt
      require(planes >= needed,
        s"planes=$planes gives 2^$planes buckets; corpus of $n needs >= " +
          s"$needed planes to keep ~$targetBucketSize vectors/bucket " +
          "(the within-bucket join is quadratic in bucket population)")
    }
    val c = corpus.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes, dims))
    c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style clustering with deterministic centroids (a fixed id
    * prefix of the corpus stands in for trained k-means centers — at
    * production scale the assignment/probe machinery is identical, only
    * the centroid table changes). Each vector goes to its highest-
    * cosine centroid; ties break on the smaller centroid id.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    // single source of truth for the score/round/tie-break rules the
    // DuckDB oracle mirrors — assignment IS the nprobe=1 probe
    ivfAssignProbes(vectors.select(col("vec_id"), col("v")),
      centroids, nprobe = 1)

  /** Query-side multi-probe assignment: each query fans out to its
    * `nprobe` highest-cosine centroids (ties break on smaller centroid
    * id) — the standard IVF recall knob: higher nprobe scans more
    * inverted lists for better recall at proportional cost.
    */
  private def ivfAssignProbes(vectors: DataFrame, centroids: DataFrame,
                              nprobe: Int): DataFrame = {
    val scored = vectors.join(broadcast(centroids.select(
        col("vec_id").as("centroid_id"), col("v").as("cv"))))
      .select(col("vec_id"), col("v"), col("centroid_id"),
        round(cosine(col("v"), col("cv")), 6).as("ccos"))
    // top-nprobe per vector via the bounded-heap operator — same
    // (ccos desc, centroid_id) tie-break as a rank window, no sort of
    // every vector's full centroid list
    graft.plans.TopK.perKey(scored, Seq(col("vec_id")),
      Seq(col("ccos").desc, col("centroid_id")), nprobe)
      .select(col("vec_id"), col("v"), col("centroid_id").as("cluster"))
  }

  /** IVF top-k: corpus vectors live in their single nearest cluster's
    * inverted list; each query probes its `nprobe` nearest clusters.
    * The cluster equi-join replaces the full-corpus scan — cost scales
    * with nprobe/nclusters of the corpus instead of all of it.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    def prep(df: DataFrame) = df.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val cen = prep(centroids)
    val c = ivfAssign(prep(corpus), cen)
    val q = ivfAssignProbes(prep(queries), cen, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("cluster"))
    // UN-hinted cluster equi-join: this is the documented remediation
    // path for query sets too big to brute-force, so it must not force
    // a broadcast itself — AQE broadcasts small query sets at runtime
    // and hash-partitions both sides on the cluster key otherwise
    val scored = c.join(q, "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos"))
    // no dedup needed: each corpus vector lives in exactly one cluster,
    // so a (query, vec) pair meets at most once even with nprobe > 1
    rankTopK(scored, k)
  }

  /** Persist an IVF index: the centroid table plus the corpus assigned
    * to inverted lists, PARTITIONED BY list — the vector-search twin
    * of the BM25 postings store
    * ([[graft.functions.TextAnalysis.buildBm25Index]]). Serving
    * ([[ivfTopKIndexed]]) then reads only the probed lists' partitions
    * instead of re-assigning the corpus per query batch.
    */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    def prep(df: DataFrame) = df.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    // explicit count: AQE would coalesce a bare repartition(col) to one
    // task at small scale, serializing the write (see buildBm25Index)
    val nPart =
      corpus.sparkSession.sessionState.conf.numShufflePartitions
    val cen = prep(centroids)
    cen.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // cluster-before-write (guide §6, as in the BM25 postings build):
    // one file per inverted list instead of one per task per list —
    // serving reads the probed lists with minimal task/footer overhead
    // and the build's commit handles 16 files, not hundreds
    ivfAssign(prep(corpus), cen)
      .repartition(nPart, col("cluster"))
      .sortWithinPartitions("cluster", "vec_id")
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/lists")
  }

  /** Incremental maintenance of a [[buildIvfIndex]] store: new
    * vectors assign to the STORED centroids (the index's cluster
    * geometry is fixed at build — retraining centroids is a rebuild,
    * by definition) and append into the affected list partitions; no
    * existing data is rewritten. Same guard posture as the BM25
    * store's `updateBm25Index`: intra-batch duplicate ids, ids
    * already indexed, and ids still tombstoned all refuse loudly.
    */
  def updateIvfIndex(vectors: DataFrame, path: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val spark = vectors.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val prepped = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v")).persist()
    try {
      // ONE probe job for all three overlap guards (see
      // [[graft.functions.TextAnalysis.updateBm25Index]] — same
      // consolidation, same unchanged error surface)
      val dupIn = prepped.groupBy("vec_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).select(lit("dup").as("why"))
      val lists = spark.read.parquet(s"$path/lists")
      val indexed = prepped.select("vec_id")
        .join(lists, Seq("vec_id"), "left_semi").limit(1)
        .select(lit("indexed").as("why"))
      val tombed = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
        .map(d => prepped.select("vec_id")
          .join(d, Seq("vec_id"), "left_semi").limit(1)
          .select(lit("tombstoned").as("why")))
      val bad = (Seq(dupIn, indexed) ++ tombed.toSeq)
        .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
      require(!bad("dup"),
        "updateIvfIndex batch repeats vec_ids within itself - " +
          "dropDuplicates the batch on the id first")
      require(!bad("indexed"),
        "updateIvfIndex batch contains vec_ids already indexed - " +
          "re-indexing requires deleteFromIvfIndex + compactIvfIndex " +
          "first (or a rebuild)")
      require(!bad("tombstoned"),
        "updateIvfIndex batch contains tombstoned vec_ids - run " +
          "compactIvfIndex first")
      // one appended file per touched list, as in the build
      ivfAssign(prepped, spark.read.parquet(s"$path/centroids"))
        .repartition(nPart, col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/lists")
    } finally { prepped.unpersist(); () }
  }

  /** Tombstone-delete vectors from a [[buildIvfIndex]] store: ONE
    * append to a `deletes/` table; serving anti-joins the probed
    * lists against it (tombstone-sized work) — no second write, no
    * consistency window, duplicate tombstones harmless (the BM25
    * store's delete posture). Physical removal at
    * [[compactIvfIndex]].
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String = "vec_id"): Unit =
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .join(spark.read.parquet(s"$path/lists").select("vec_id"),
        Seq("vec_id"), "left_semi")
      .write.mode("append").parquet(s"$path/deletes")

  /** Compact a [[buildIvfIndex]] store: rewrite the lists
    * one-file-per-cluster (appends accumulate files per batch),
    * applying tombstones physically, then clear them — the shared
    * store-compaction swap ([[graft.io.Sinks.swapInRewrite]]) with
    * its crash detection/rollback semantics.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val nPart = spark.sessionState.conf.numShufflePartitions
    val dels = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
    graft.io.Sinks.swapInRewrite(spark, path, "lists") { (live, tmp) =>
      val survivors = dels.fold(spark.read.parquet(live))(d =>
        spark.read.parquet(live).join(d, Seq("vec_id"), "left_anti"))
      // a dynamic-partitioned write of an EMPTY frame produces a dir
      // with no schema-bearing file — activating it would brick every
      // later read of lists/. An index whose every vector is deleted
      // is not a store to keep; refuse with the remediation (the
      // un-compacted store keeps serving empty results correctly).
      require(!survivors.isEmpty,
        "compactIvfIndex: every indexed vector is tombstoned - " +
          "compaction would leave an unreadable empty store; delete " +
          "the store directory (or rebuild) instead")
      survivors
        .repartition(nPart, col("cluster"))
        .sortWithinPartitions("cluster", "vec_id")
        .write.mode("overwrite").partitionBy("cluster").parquet(tmp)
    }
    val delP = new org.apache.hadoop.fs.Path(s"$path/deletes")
    delP.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(delP, true)
    ()
  }

  /** IVF top-k served from a [[buildIvfIndex]] store: the query batch
    * probes its `nprobe` nearest centroids (tiny broadcast table from
    * the store) and the lists scan statically prunes to the probed
    * clusters' partitions — cost scales with the probed sliver of the
    * stored corpus, and assignment work is NEVER redone at query
    * time. The probed-cluster collect is bounded by |queries|·nprobe
    * (a query API, the qterms-broadcast contract). Results are
    * identical to [[ivfTopK]] over the same corpus/centroids.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                     path: String, queries: DataFrame, k: Int,
                     nprobe: Int = 1, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cen = spark.read.parquet(s"$path/centroids")
    // retain the assigned query batch: the probed-cluster collect and
    // the scoring join both consume it, and a re-executed
    // nondeterministic queries plan could probe one cluster set but
    // join with another — silently dropping results. Session-owned
    // lifetime (the result is lazy), the CacheScope contract.
    val q = graft.CacheScope.retain(
      ivfAssignProbes(
          queries.select(col(idCol).as("vec_id"),
            toDouble(col(vecCol)).as("v")), cen, nprobe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("cluster")),
      "ivf.query-probes")
    val probed = q.select("cluster").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    // tombstoned vectors drop from the probed lists by derivation
    // (tombstone-sized anti-join) — the delete is effective the
    // moment the tombstone lands, physical removal waits for compact
    val raw = spark.read.parquet(s"$path/lists")
      .filter(col("cluster").isin(probed: _*))
    val lists = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
      .fold(raw)(d => raw.join(d, Seq("vec_id"), "left_anti"))
    val scored = lists.join(q, "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos"))
    rankTopK(scored, k)
  }

  /** Bucketed ANN top-k: same output shape as [[cosineTopK]] but only
    * same-bucket pairs are scored — the scale path. `probes` > 1 turns
    * on multiprobe LSH: each query also searches buckets differing in
    * one hyperplane bit (buckets `b0 ^ 2^i` for the first probes−1
    * planes) — the standard recall fix for near-duplicate vectors that
    * land one sign-flip apart, at probes× the candidate cost instead
    * of doubling the table count.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int,
              dims: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", probes: Int = 1): DataFrame = {
    require(probes >= 1 && probes <= planes,
      s"probes must be in [1, planes=$planes], got $probes")
    val c = corpus.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
      .withColumn("bucket", lshBucket(col("v"), planes, dims))
    val b0 = lshBucket(col("qv"), planes, dims)
    val probed = array(b0 +:
      (0 until probes - 1).map(i => b0.bitwiseXOR(lit(1L << i))): _*)
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
      .withColumn("bucket", explode(probed))
    // no dedup: a corpus vector has ONE bucket and the probed buckets
    // are pairwise distinct, so a (query, vec) pair meets at most once.
    // UN-hinted bucket equi-join, same rationale as ivfTopK: the ANN
    // paths are where oversized query sets are SENT — they must scale
    // past the broadcast regime themselves
    val scored = c.join(q, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos"))
    rankTopK(scored, k)
  }

  // --- product quantization -------------------------------------------

  /** Sequential-fold squared L2 distance (left-to-right, like
    * [[dotHof]]) — PQ's distance: codebooks minimize within-subspace
    * L2, and ADC sums per-subspace squared distances.
    */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)

  /** The (j, subvector) rows of every vector: subspace j holds dims
    * [j·sub, (j+1)·sub). Map-only explode — no shuffle.
    */
  private def subvectors(df: DataFrame, m: Int, dims: Int,
                         idAs: String): DataFrame = {
    val sub = dims / m
    df.select(col(idAs), explode(array((0 until m).map(j =>
      struct(lit(j).as("j"),
        slice(col("v"), j * sub + 1, sub).as("s"))): _*)).as("e"))
      .select(col(idAs), col("e.j").as("j"), col("e.s").as("s"))
  }

  /** One grouped-Lloyd assignment: every (vec, subspace) row to its
    * nearest codeword IN ITS SUBSPACE — one broadcast join against
    * the m·ksub-row codebook table, rank 1 via the bounded-heap TopK
    * (squared L2 rounded to 6 decimals, ties to the smaller code).
    */
  private def pqAssign(sv: DataFrame, codebooks: DataFrame,
                       idAs: String): DataFrame = {
    val scored = sv.join(broadcast(codebooks), "j")
      .select(col(idAs), col("j"), col("s"), col("code"),
        round(l2Sq(col("s"), col("c")), 6).as("dist"))
    graft.plans.TopK.perKey(scored, Seq(col(idAs), col("j")),
      Seq(col("dist"), col("code")), 1)
  }

  /** Train product-quantization codebooks: split each vector into `m`
    * subvectors and run a DETERMINISTIC grouped Lloyd over all
    * subspaces AT ONCE — one broadcast-join + two key shuffles per
    * iteration for the whole codebook set, never a job per subspace
    * (the per-subspace-jobs shape is the r6 BPE-trainer scale defect).
    * Same determinism contract as [[kmeans]]: codewords seed from the
    * id prefix (`vec_id < ksub`), distances round to 6 decimals with
    * ties to the smaller code, means sum integer-quantized components
    * (exact, order-independent). Returns `(j, code, c: array<double>)`
    * — m·ksub rows, broadcastable by construction.
    *
    * Scale: PQ is how a billion-vector corpus serves ANN from RAM —
    * `m` byte codes per vector instead of `dims` floats (64× at
    * m=8/dims=64 fp32). Training touches the corpus `iters + 1`
    * times, map-only except the two bounded key shuffles.
    */
  def trainPqCodebooks(vectors: DataFrame, m: Int, ksub: Int,
                       dims: Int, iters: Int = 1,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"m=$m must divide the vector dimensionality $dims")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val sv = subvectors(v, m, dims, "vec_id")
    var cb = sv.filter(col("vec_id") < ksub)
      .select(col("j"), col("vec_id").cast("int").as("code"),
        col("s").as("c"))
    for (_ <- 0 until iters) {
      val parts = pqAssign(sv, cb, "vec_id")
        .select(col("j"), col("code"),
          posexplode(col("s")).as(Seq("dim", "x")))
        .select(col("j"), col("code"), col("dim"),
          floor(col("x") * 1000000.0 + 0.5).cast("long").as("q"))
        .groupBy("j", "code", "dim")
        .agg(sum("q").as("sm"), count(lit(1)).as("cnt"))
      cb = parts.groupBy("j", "code")
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("sm"),
            col("cnt")))),
          t => (t.getField("sm").cast("double") / t.getField("cnt"))
            / 1000000.0).as("c"))
        .localCheckpoint()
    }
    cb
  }

  /** Encode a corpus against trained codebooks: `(vec_id, codes)`
    * where `codes[j]` is the nearest codeword in subspace j. The
    * compressed representation ADC scans — m small ints per vector.
    */
  def encodePq(vectors: DataFrame, codebooks: DataFrame, m: Int,
               dims: Int, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    pqAssign(subvectors(v, m, dims, "vec_id"), codebooks, "vec_id")
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("code")))),
        t => t.getField("code")).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query
    * precomputes its distance to every codeword ONCE (the m·ksub-row
    * lookup table, built query-side and broadcast as a map), then the
    * corpus scan is `m` map lookups + a fold per vector — never a
    * full-dimension distance against the corpus. The scan reads the
    * CODES table (m ints/vector), not the embeddings: at a billion
    * vectors this is the difference between scanning GBs and TBs.
    * Approximate by construction; exactness appears exactly when every
    * subvector is its own codeword (PqSpec pins both directions).
    * Returns `(query_id, vec_id, dist, rank)` — ascending squared-L2.
    */
  def pqTopK(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
             k: Int, m: Int, ksub: Int, dims: Int,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             queryCountHint: Option[Long] = None): DataFrame = {
    requireBruteForceable(queries, "pqTopK", queryCountHint)
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("v"))
    val lut = subvectors(q, m, dims, "query_id")
      .join(broadcast(codebooks), "j")
      .select(col("query_id"),
        (col("j") * ksub + col("code")).as("key"),
        l2Sq(col("s"), col("c")).as("pd"))
      .groupBy("query_id")
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("key"), col("pd"))))).as("lut"))
    // fold over subspaces in j order — bit-deterministic, matching the
    // oracle's ORDER BY j fold; lut keys are j·ksub+code (codebooks
    // may legitimately have non-contiguous codes after empty-codeword
    // drops, which a positional array could not index)
    val dist = round(aggregate(
      zip_with(col("codes"),
        sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(col("lut"), (j * ksub + c).cast("int"))),
      lit(0.0), _ + _), 6)
    val scored = codes.crossJoin(broadcast(lut))
      .select(col("query_id"), col("vec_id"), dist.as("dist"))
    rankByDist(scored, k)
  }

  /** Principal-component projection via deterministic POWER ITERATION
    * — distributed PCA without ever materializing the covariance
    * matrix: each iteration computes y = Σ_rows c·(c⋅x) in two fused
    * passes over the centered corpus (a per-row in-order dot, then a
    * per-dimension sum of QUANTIZED products — exact long arithmetic,
    * so the cross-engine float-summation-order trap never appears;
    * the kmeans/PQ determinism contract). The iteration state x is
    * `dims` doubles on the driver (bounded, like the BPE trainer's
    * merge list), renormalized and rounded to 6 decimals per step
    * with HALF_UP — matching both Spark's and DuckDB's round — so
    * the oracle can replay every step bit-exactly with unrolled CTEs.
    *
    * Scale: one mean pass + `iters` corpus passes + the lazy
    * projection, all map-side except the dims-row aggregations;
    * nothing driver-side ever exceeds `dims` numbers. Mean-centering
    * is done in-plan against a broadcast literal. Returns
    * `(vec_id, pc1)` — the signed projection of each centered vector
    * on the dominant principal direction (+0.0-normalized so the
    * -0.0/0.0 repr split cannot break a value hash).
    */
  def pcaProject(vectors: DataFrame, dims: Int, iters: Int,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    pcaProjectK(vectors, dims, iters, k = 1, idCol, vecCol)

  private def pcaRound6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `iters` power-iteration steps over a centered `(vec_id, c)`
    * corpus; returns the rounded unit direction (driver-side, `dims`
    * doubles). Quantized per-dimension sums — see [[pcaProject]].
    */
  private def powerDirection(c: DataFrame, dims: Int,
                             iters: Int): Array[Double] = {
    var x = Array.fill(dims)(pcaRound6(1.0 / math.sqrt(dims.toDouble)))
    for (_ <- 0 until iters) {
      val xLit = array(x.map(lit).toSeq: _*)
      val dot = aggregate(zip_with(col("c"), xLit, _ * _),
        lit(0.0), _ + _)
      val yRows = c
        .select(col("c"), dot.as("dot"))
        .select(posexplode(col("c")).as(Seq("d", "cd")), col("dot"))
        .select(col("d"),
          floor(col("cd") * col("dot") * 1000000.0 + 0.5)
            .cast("long").as("q"))
        .groupBy("d").agg(sum("q").as("sm"))
        .collect()
      val y = Array.ofDim[Double](dims)
      yRows.foreach(r => y(r.getInt(0)) =
        r.getLong(1).toDouble / 1000000.0)
      // in-d-order fold, exactly the oracle's list_reduce
      val norm = math.sqrt(y.foldLeft(0.0)((acc, t) => acc + t * t))
      require(norm > 0.0,
        "pcaProject: zero-variance corpus (or start vector " +
          "orthogonal to all data) - no principal direction")
      x = y.map(t => pcaRound6(t / norm))
    }
    x
  }

  /** Top-`k` principal-component projections via power iteration with
    * DEFLATION: after each direction converges, its contribution is
    * subtracted in-plan from every centered vector (c ← c − (c⋅x)·x)
    * and the next direction is iterated on the residual — the
    * classic deflated power method, each stage one more set of fused
    * corpus passes. Scores are taken against the ORIGINAL centered
    * vectors for every component. Same determinism contract as
    * [[pcaProject]] (quantized sums, HALF_UP rounding, ±0.0
    * normalization) — the oracle replays all k stages. Returns
    * `(vec_id, pc1 … pck)`.
    */
  def pcaProjectK(vectors: DataFrame, dims: Int, iters: Int, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(k >= 1 && k <= dims, s"k=$k must sit in [1, dims=$dims]")
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val muRows = v
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .select(col("d"),
        floor(col("x") * 1000000.0 + 0.5).cast("long").as("q"))
      .groupBy("d").agg(sum("q").as("sm"), count(lit(1)).as("cnt"))
      .collect()
    require(muRows.nonEmpty, "pcaProject: the corpus is empty")
    val mu = Array.ofDim[Double](dims)
    muRows.foreach(r => mu(r.getInt(0)) =
      (r.getLong(1).toDouble / r.getLong(2)) / 1000000.0)
    val c = v.select(col("vec_id"),
      zip_with(col("v"), array(mu.map(lit).toSeq: _*), _ - _).as("c"))
      .persist()
    val deflated = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var cur = c
      for (j <- 1 to k) {
        val x = powerDirection(cur, dims, iters)
        comps += x
        if (j < k) {
          val xLit = array(x.map(lit).toSeq: _*)
          val dot = aggregate(zip_with(col("c"), xLit, _ * _),
            lit(0.0), _ + _)
          cur = cur
            .select(col("vec_id"), col("c"), dot.as("dot"))
            .select(col("vec_id"),
              zip_with(col("c"), xLit,
                (cd, xd) => cd - col("dot") * xd).as("c"))
            .persist()
          deflated += cur
        }
      }
      val projCols = comps.zipWithIndex.map { case (x, i) =>
        (round(aggregate(
          zip_with(col("c"), array(x.map(lit).toSeq: _*), _ * _),
          lit(0.0), _ + _), 6) + lit(0.0)).as(s"pc${i + 1}")
      }
      // materialize the (small: n × k+1) projections BEFORE the
      // finally-block unpersists the centered corpus and deflation
      // chain — the returned frame is otherwise lazy, and every
      // downstream action would silently recompute the centering and
      // all k deflation passes from scratch
      c.select(col("vec_id") +: projCols.toSeq: _*).localCheckpoint()
    } finally {
      c.unpersist(); deflated.foreach(_.unpersist()); ()
    }
  }

  /** Refined PQ serving — FAISS IndexRefineFlat's shape: ADC produces
    * a SHORTLIST of `shortlist >= k` candidates from the codes table,
    * and only those (query, candidate) pairs pay an exact
    * full-dimension squared-L2 against the stored vectors, re-ranked
    * to k. This fixes ADC's quantization error where it matters (the
    * top of the ranking) at negligible extra cost: the exact pass is
    * one MAP-ONLY scan of the vectors table against the broadcast
    * shortlist (bounded by queries × shortlist — the brute-force
    * guard on `queries` bounds it by construction), so at a billion
    * vectors the engine still never shuffles embeddings; it reads
    * them once and keeps `nq·shortlist` exact distances.
    */
  def pqTopKRefined(codes: DataFrame, codebooks: DataFrame,
                    vectors: DataFrame, queries: DataFrame, k: Int,
                    shortlist: Int, m: Int, ksub: Int, dims: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    queryCountHint: Option[Long] = None): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) - a shortlist smaller " +
        "than the answer cannot be re-ranked into one")
    val cand = pqTopK(codes, codebooks, queries, shortlist, m, ksub,
      dims, idCol, vecCol, queryCountHint)
      .select("query_id", "vec_id")
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("cv"))
    val exact = v.join(broadcast(cand), "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(l2Sq(col("cv"), col("qv")), 6).as("dist"))
    rankByDist(exact, k)
  }

  /** Ascending-distance ranking tail shared by the PQ family. */
  private def rankByDist(scored: DataFrame, k: Int): DataFrame = {
    val pruned = graft.plans.TopK.perKey(scored, Seq(col("query_id")),
      Seq(col("dist"), col("vec_id")), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist"), col("vec_id"))
    pruned.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("vec_id"), col("dist"),
        col("rank").cast("long").as("rank"))
  }

  /** Nearest-L2 centroid per vector (rounded 6, ties to the smaller
    * centroid id) — the coarse quantizer of the IVF-PQ composition,
    * metric-matched to ADC's squared L2 (the cosine-based [[ivfAssign]]
    * family stays the coarse quantizer of the cosine IVF path; mixing
    * metrics across the two stages would make the pruning disagree
    * with the ranking). One broadcast join + the bounded heap; runs at
    * INDEX-BUILD time, one corpus pass. Returns (vec_id, cluster).
    */
  def ivfAssignL2(vectors: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("vec_id"),
      toDouble(col(vecCol)).as("v"))
    val cen = centroids.select(col(idCol).as("centroid_id"),
      toDouble(col(vecCol)).as("cv"))
    graft.plans.TopK.perKey(
      v.crossJoin(broadcast(cen))
        .select(col("vec_id"), col("centroid_id"),
          round(l2Sq(col("v"), col("cv")), 6).as("cd")),
      Seq(col("vec_id")), Seq(col("cd"), col("centroid_id")), 1)
      .select(col("vec_id"), col("centroid_id").as("cluster"))
  }

  /** IVF-PQ top-k — the two-stage compressed-ANN architecture (FAISS
    * IndexIVFPQ's shape): queries probe their `nprobe` nearest-L2
    * clusters, and ONLY the probed clusters' PQ codes are scanned with
    * the ADC lookup table. The corpus side reads
    * `codesWithCluster (vec_id, cluster, codes)` — built once by
    * [[ivfAssignL2]] + [[encodePq]] — so serving cost is
    * (probed fraction of corpus) × (m map lookups), with the full
    * vectors never touched: at a billion vectors the scan is the
    * probed slice of a codes table, not a TB of floats. The cluster
    * equi-join against the broadcast (query × probed-cluster) LUT
    * table IS the inverted-list pruning. Approximation is two-layer
    * (cluster pruning can miss, codes quantize) — the recall knobs
    * are nprobe and m/ksub respectively.
    */
  def ivfPqTopK(codesWithCluster: DataFrame, codebooks: DataFrame,
                centroids: DataFrame, queries: DataFrame, k: Int,
                nprobe: Int, m: Int, ksub: Int, dims: Int,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                queryCountHint: Option[Long] = None): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireBruteForceable(queries, "ivfPqTopK", queryCountHint)
    val q = queries.select(col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("v"))
    val cen = centroids.select(col(idCol).as("centroid_id"),
      toDouble(col(vecCol)).as("cv"))
    val probed = graft.plans.TopK.perKey(
      q.crossJoin(broadcast(cen))
        .select(col("query_id"), col("centroid_id"),
          round(l2Sq(col("v"), col("cv")), 6).as("cd")),
      Seq(col("query_id")), Seq(col("cd"), col("centroid_id")), nprobe)
      .select(col("query_id"), col("centroid_id").as("cluster"))
    adcServe(codesWithCluster, codebooks, probed, q, k, m, ksub, dims)
  }

  /** The shared ADC tail of both IVF-PQ paths (in-memory
    * [[ivfPqTopK]] and stored [[ivfPqTopKIndexed]]): per-query LUT
    * from the broadcast codebooks, the (query, probed cluster, lut)
    * table broadcast against the codes — its cluster equi-join IS the
    * inverted-list pruning — then m map lookups + an ordered j-fold
    * per candidate and the bounded-heap ranking.
    */
  private def adcServe(codesWithCluster: DataFrame, codebooks: DataFrame,
                       probed: DataFrame, q: DataFrame, k: Int, m: Int,
                       ksub: Int, dims: Int): DataFrame = {
    val lut = subvectors(q, m, dims, "query_id")
      .join(broadcast(codebooks), "j")
      .select(col("query_id"),
        (col("j") * ksub + col("code")).as("key"),
        l2Sq(col("s"), col("c")).as("pd"))
      .groupBy("query_id")
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("key"), col("pd"))))).as("lut"))
    val probeLut = probed.join(lut, "query_id")
    val dist = round(aggregate(
      zip_with(col("codes"),
        sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(col("lut"), (j * ksub + c).cast("int"))),
      lit(0.0), _ + _), 6)
    val scored = codesWithCluster.join(broadcast(probeLut), "cluster")
      .select(col("query_id"), col("vec_id"), dist.as("dist"))
    rankByDist(scored, k)
  }

  /** Persist an IVF-PQ index: centroids + trained codebooks + the
    * corpus as PQ codes PARTITIONED BY cluster, plus a 1-row meta
    * table (m, ksub, dims) so serving needs no out-of-band
    * parameters (the BM25 store's pbuckets-portability contract).
    * The expensive work — codebook training, encoding, cluster
    * assignment — happens ONCE here; the stored corpus is m ints per
    * vector, 64× smaller than fp32 at m=8/dims=64, which at a billion
    * vectors is the difference between an index that fits hot storage
    * and one that doesn't.
    */
  def buildIvfPqIndex(corpus: DataFrame, centroids: DataFrame,
                      path: String, m: Int, ksub: Int, dims: Int,
                      iters: Int = 1, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nPart = spark.sessionState.conf.numShufflePartitions
    val cb = trainPqCodebooks(corpus, m, ksub, dims, iters, idCol, vecCol)
    centroids.select(col(idCol).as("centroid_id"),
        toDouble(col(vecCol)).as("cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((m, ksub, dims)).toDF("m", "ksub", "dims").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    // one code file per cluster (see [[buildIvfIndex]])
    encodePq(corpus, cb, m, dims, idCol, vecCol)
      .join(ivfAssignL2(corpus, centroids, idCol, vecCol), "vec_id")
      .repartition(nPart, col("cluster"))
      .sortWithinPartitions("cluster", "vec_id")
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes")
  }

  /** IVF-PQ top-k served from a [[buildIvfPqIndex]] store alone:
    * queries probe their `nprobe` nearest stored centroids, the codes
    * scan statically prunes to the probed clusters' PARTITIONS
    * (PartitionFilters, not a post-scan filter), and ADC runs against
    * the stored codebooks — neither training, encoding, nor
    * assignment is ever redone at query time. Results are identical
    * to [[ivfPqTopK]] over the same corpus/centroids/parameters.
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       path: String, queries: DataFrame, k: Int,
                       nprobe: Int = 1, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       queryCountHint: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireBruteForceable(queries, "ivfPqTopKIndexed", queryCountHint)
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    val (m, ksub, dims) = (meta.getAs[Int]("m"),
      meta.getAs[Int]("ksub"), meta.getAs[Int]("dims"))
    val cen = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebooks")
    // retain: the probed-cluster collect and the ADC join both read
    // the probe result — a re-executed nondeterministic queries plan
    // must not probe one cluster set and join another (the
    // ivfTopKIndexed contract)
    val q = graft.CacheScope.retain(
      queries.select(col(idCol).as("query_id"),
        toDouble(col(vecCol)).as("v")), "ivfpq.queries")
    val probed = graft.CacheScope.retain(
      graft.plans.TopK.perKey(
        q.crossJoin(broadcast(cen))
          .select(col("query_id"), col("centroid_id"),
            round(l2Sq(col("v"), col("cv")), 6).as("cd")),
        Seq(col("query_id")), Seq(col("cd"), col("centroid_id")),
        nprobe)
        .select(col("query_id"), col("centroid_id").as("cluster")),
      "ivfpq.query-probes")
    val clusters = probed.select("cluster").distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cluster").isin(clusters: _*))
    adcServe(codes, cb, probed, q, k, m, ksub, dims)
  }
}
