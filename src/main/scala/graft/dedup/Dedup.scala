package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication operators for training-data pipelines, all designed
  * for the 100 TB regime:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle on the
  *    md5 key, no driver-side state.
  *  - n-gram Jaccard: prefix-filtered inverted-index self-join over
  *    word shingles (PPJoin-style). Exact, with no O(n²) stage — only
  *    pairs sharing a globally-rare prefix shingle are ever compared.
  *  - MinHash + LSH: k portable hash functions over shingles (array
  *    `transform` + `array_min`, zero UDFs), banded into b buckets;
  *    candidate pairs meet only inside a bucket (the standard
  *    shingle→minhash→band→bucket-join pipeline). Verification with
  *    exact Jaccard happens only on candidates.
  *  - SimHash: term-frequency-weighted bit votes via explode +
  *    one hash-aggregate per document.
  *
  * All hashes derive from md5 (TextAnalysis.hash60) so results are
  * engine-portable and oracle-checkable.
  */
object Dedup {

  /** MinHash parameters: k permutations `(a_i·h + b_i) mod p` over the
    * 60-bit content hash reduced mod p (p = 2^31 − 1, prime). All
    * arithmetic stays < 2^62 — exact in any 64-bit engine.
    */
  val P: Long = 2147483647L
  def hashA(i: Int): Long = 2L * i + 3L
  def hashB(i: Int): Long = 101L * i + 17L

  /** Exact dedup: group by fingerprint, keep the minimal doc id as the
    * canonical representative plus the duplicate count. Deterministic
    * (unlike bare `dropDuplicates`, whose surviving row is arbitrary).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).cast("long").as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** Distinct word-n-gram shingle sets per document (the Jaccard
    * universe). Word shingles, not character shingles — see
    * TextAnalysis.wordShingles for the scale rationale.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    // shingling is CPU-heavy per-row work (higher-order functions are
    // interpreted); spread it across the cluster even when the input
    // arrives in few partitions (e.g. one big parquet row group) — the
    // row shuffle is trivial next to the compute it parallelizes
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .select(col("doc_id"),
        array_distinct(TextAnalysis.wordShinglesOfNative(col("w"), n))
          .as("sh"))

  /** Exact n-gram Jaccard near-duplicate pairs with PPJoin-style
    * prefix filtering.
    *
    * A naive inverted-index self-join explodes on frequent shingles
    * (every pair sharing "the a" meets → ~O(n²) intermediate). Instead,
    * only each document's prefix — its `|d| − ⌈t·|d|⌉ + 1` globally
    * rarest shingles — is indexed. Completeness: if `J(a,b) ≥ t` then
    * `|∩| ≥ t·|a|`; were the prefixes disjoint from ∩, all common
    * shingles would sit in the `⌈t·|a|⌉ − 1 < t·|a|` suffix —
    * contradiction. So every qualifying pair shares a prefix shingle,
    * and rarest-first ordering keeps prefix collisions (and the join)
    * small. Candidates are then verified with exact `array_intersect`.
    *
    * Shuffle profile at scale: one groupBy (shingle frequency), one
    * join (frequency back to postings), one window (per-doc rank), one
    * self-join on the pruned prefix index, two hash joins back to the
    * (compact) shingle-array table — all key-partitioned, nothing
    * driver-side, no O(n²) stage.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   n: Int = 3): DataFrame = {
    // CACHE LIFETIME: session-owned via [[graft.CacheScope]] (the
    // result must stay lazy — callers assert on its plan — so the
    // operator cannot unpersist before returning); long-lived sessions
    // composing many dedup calls drop every engine-held cache with
    // `CacheScope.release(spark)` between corpora.
    // the shingle table feeds four DAG branches (freq, prefix, and the
    // two verification joins); cache it rather than re-shingling — the
    // production-scale equivalent is materializing it to a table.
    // Shingles are hashed to 60-bit longs ONCE up front: every
    // downstream shuffle, join key, and verification array then moves
    // 8-byte longs instead of n-gram strings (the round-2 bench's
    // dominant constant factor). 60-bit hashing is collision-free in
    // practice (birthday bound ~n²/2^61), so |∩| is unchanged.
    val sets = graft.CacheScope.retain(
      shingleSets(docs, idCol, textCol, n)
        .select(col("doc_id"),
          array_distinct(TextAnalysis.hash60Array(col("sh"))).as("sh")),
      "dedup.jaccard.shingles")
    val inv = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val freq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    val prefix = inv.join(freq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select("doc_id", "s", "n_sh", "rn")
    // PPJoin pruning on top of the prefix match:
    //  - length filter: J ≥ t requires t·max(|a|,|b|) ≤ min(|a|,|b|)
    //  - positional filter: remaining-suffix overlap bound
    //    1 + min(|a|−pos_a, |b|−pos_b) must reach the required overlap
    //    α = ⌈t/(1+t)·(|a|+|b|)⌉; the pair's first common prefix
    //    shingle maximizes the bound, so any-match-passes is complete
    val a = col("a.n_sh"); val b = col("b.n_sh")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          greatest(a, b) * threshold <= least(a, b) &&
          least(a - col("a.rn"), b - col("b.rn")) + 1 >=
            ceil((a + b) * (threshold / (1 + threshold))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_a",
        "sh" -> "sh_a")), "doc_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_b",
        "sh" -> "sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("jaccard"))
  }

  /** Broadcast ceiling for [[contamination]]'s probe shingle set —
    * past it the probe side is too big to ship to every executor and
    * the Bloom-prefiltered shuffle join takes over automatically.
    */
  val MaxBroadcastProbeShingles: Long = 2000000L

  /** Benchmark decontamination: for each training doc, how many of its
    * distinct word n-grams also appear in the probe corpus (eval/
    * benchmark text). The standard pretraining hygiene gate — docs
    * with hits get dropped or flagged.
    *
    * Probe shingles broadcast when the probe set is small (the normal
    * case — eval suites are tiny next to the corpus), keeping the
    * training-side scan map-only. Past `maxBroadcastShingles` the
    * query degrades instead of OOMing (both strategies are correct —
    * unlike the brute-force-similarity guard, there is nothing to
    * refuse): a Bloom filter over hashed probe shingles prunes the
    * corpus in its scan stage ([[graft.etl.BloomJoin]]) and the exact
    * string join runs un-hinted, so the shuffle carries ≈ hits +
    * fpp·|corpus shingles| rows, never the corpus.
    *
    * The distinct probe-shingle set is persisted and counted ONCE:
    * that single evaluation serves the broadcast-vs-Bloom decision,
    * the Bloom sizing, and whichever join strategy wins (the Bloom
    * build and the exact join read the cache, never re-running the
    * distinct shuffle). CACHE LIFETIME: owned by the session, like
    * [[jaccardPairs]]' shingle cache — registered with
    * [[graft.CacheScope]]; `CacheScope.release(spark)` between corpora.
    * The degraded path inherits
    * [[graft.etl.BloomJoin.MaxExpectedItems]]: a probe set past THAT
    * ceiling (5×10⁸ distinct shingles — no real eval suite) fails
    * loudly in `buildFilter` rather than building an undersized
    * filter.
    */
  def contamination(docs: DataFrame, probes: DataFrame, n: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text",
                    maxBroadcastShingles: Long =
                      MaxBroadcastProbeShingles): DataFrame = {
    val d = shingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val p = graft.CacheScope.retain(
      shingleSets(probes, idCol, textCol, n)
        .select(explode(col("sh")).as("s")).distinct(),
      "dedup.contamination.probe-shingles")
    val probeShingles = p.count()
    val joined =
      if (probeShingles <= maxBroadcastShingles) d.join(broadcast(p), "s")
      else {
        val filter = graft.etl.BloomJoin.buildFilter(
          p, TextAnalysis.hash60(col("s")), expectedItems = probeShingles)
        d.filter(graft.etl.BloomJoin.mightContain(
            filter, TextAnalysis.hash60(col("s"))))
          .join(p, "s") // exact join kills the Bloom false positives
      }
    joined.groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Directed shingle-containment pairs: `C(a→b) = |A∩B| / |A| ≥ t` —
    * the asymmetric near-dup relation Jaccard misses. A short document
    * quoted whole inside a long one has containment 1.0 but Jaccard
    * |A|/|B| → 0, so symmetric dedup keeps both; containment is the
    * right gate for quote/subset/boilerplate-inclusion detection.
    *
    * Scale shape mirrors [[jaccardPairs]]: only the CONTAINED side
    * needs prefix pruning (if C ≥ t, a's `|A| − ⌈t·|A|⌉ + 1` rarest
    * shingles must intersect A∩B — same argument as PPJoin; b is
    * unconstrained, so its full inverted index is joined). Rarest-
    * first ordering keeps prefix collisions small; exact
    * `array_intersect` verifies candidates only.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       n: Int = 3): DataFrame = {
    // CACHE LIFETIME: as in [[jaccardPairs]] — session-owned via
    // [[graft.CacheScope]]; CacheScope.release(spark) between corpora.
    val sets = graft.CacheScope.retain(
      shingleSets(docs, idCol, textCol, n)
        .select(col("doc_id"),
          array_distinct(TextAnalysis.hash60Array(col("sh"))).as("sh")),
      "dedup.containment.shingles")
    val inv = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val freq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "s")
    val prefix = inv.join(freq, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n_sh") - ceil(col("n_sh") * threshold) + 1)
      .select(col("doc_id").as("doc_a"), col("s"))
    val cand = prefix
      .join(inv.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_a",
        "sh" -> "sh_a")), "doc_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_b",
        "sh" -> "sh_b")), "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("containment"))
  }

  /** One MinHash value over pre-hashed shingles:
    * `min over h of (a·h + b) mod p`, `h = h60(s) mod p`.
    * Empty set → p (sentinel larger than any hash).
    */
  def minhashCol(hashed: Column, i: Int): Column = {
    val mapped = transform(hashed, h =>
      (lit(hashA(i)) * h + hashB(i)) % P)
    coalesce(array_min(mapped), lit(P)).cast("long")
  }

  /** MinHash signatures: doc_id + k minhash columns `mh_0..mh_{k-1}`.
    * The md5-derived base hash is computed once per shingle and reused
    * by all k permutations (k× fewer md5 evaluations).
    */
  def minhashSignatures(docs: DataFrame, k: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3): DataFrame = {
    val hashed = shingleSets(docs, idCol, textCol, n)
      .select(col("doc_id"),
        transform(TextAnalysis.hash60Array(col("sh")), h => h % P)
          .as("hs"))
    val cols = col("doc_id") +:
      (0 until k).map(i => minhashCol(col("hs"), i).as(s"mh_$i"))
    hashed.select(cols: _*)
  }

  /** LSH banding: rows of r minhashes each; a pair is a candidate iff
    * it agrees on ALL r values of at least one band. The band signature
    * is the struct of the band's r minhash values — exact for ANY r
    * (arithmetic packing `a·p + b` overflows Long at r ≥ 3, where
    * p^3 ≈ 9.9e27; struct equality has no such range limit and joins/
    * shuffles on it hash the fields directly).
    */
  def lshCandidates(sig: DataFrame, k: Int, r: Int = 2): DataFrame = {
    require(k % r == 0, s"k=$k must be divisible by band width r=$r")
    val bands = (0 until k / r).map { j =>
      val packed = struct(
        (0 until r).map(o => col(s"mh_${j * r + o}").as(s"m_$o")): _*)
      sig.select(col("doc_id"), lit(j).as("band"), packed.as("bsig"))
    }.reduce(_ unionByName _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Fuzzy dedup, end to end: MinHash-LSH candidates verified with
    * exact Jaccard — the 100 TB path (only same-bucket pairs are ever
    * compared; LSH recall is tunable via k and r).
    */
  def fuzzy(docs: DataFrame, threshold: Double, k: Int = 8, r: Int = 2,
            idCol: String = "doc_id", textCol: String = "text",
            n: Int = 3): DataFrame = {
    // signatures and shingle sets are each consumed by several DAG
    // branches (band fan-out, self-join sides, verification joins);
    // cache both — at production scale these are materialized tables.
    // Session-owned lifetime (the result is lazy), so both register
    // with CacheScope for the one-call release contract.
    val sets = graft.CacheScope.retain(
      shingleSets(docs, idCol, textCol, n), "fuzzy.shingleSets")
    val sizes = sets.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val cand = lshCandidates(graft.CacheScope.retain(
      minhashSignatures(docs, k, idCol, textCol, n),
      "fuzzy.minhashSignatures"), k, r)
    // exact Jaccard only on candidates: |∩| via array_intersect after a
    // broadcast-friendly join back to the shingle sets
    cand
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")),
        "doc_a")
      .join(sets.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")),
        "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"),
        col("jaccard"))
  }

  /** Connected-components clustering of near-duplicate pairs — the step
    * between pair generation ([[jaccardPairs]] / [[fuzzy]]) and survivor
    * selection: transitively-linked documents form one cluster, labeled
    * by the minimal member id. Output: `(doc_id, cluster_id)` for every
    * id in `docs`; singletons label themselves.
    *
    * Algorithm: iterative min-label propagation with ADAPTIVE POINTER
    * JUMPING. Each round (a) joins the current labels across the
    * (symmetrized) edge list and takes the minimum neighbor label;
    * from round 3 on it also (b) path-compresses: every node's label
    * is re-mapped through the label-node's own label (Shiloach–
    * Vishkin-style pointer doubling). Step (b) lets a label travel the
    * distance ALREADY covered by its parent each round, so chains
    * converge in O(log diameter) rounds instead of O(diameter) — while
    * the overwhelmingly common case (tiny cliques, converged in 2
    * pull-only rounds) never pays the compression join at all.
    *
    * Execution shape — ONE materialization job per round, by design:
    * the convergence check is FOLDED into the round itself. Each
    * node's pre-round label rides the pull aggregate as
    * `min(cluster_id) over the self row` (`old_label`), so a
    * `changed` flag falls out of the round's own columns, the round
    * localCheckpoints, and the fixpoint probe is a trivial aggregate
    * over the already-materialized blocks. The previous cadence
    * design (checkpoint every 3rd round, probe via a join against
    * the lazy tail) re-executed up to two rounds of joins per probe
    * — and the interplay of those replays with AQE made the round's
    * SHUFFLE BYTES run-variant, breaking the repo's own
    * "shuffle bytes are the plan tripwire" methodology on its most
    * expensive gate. One eager job per round is both cheaper (no
    * replay) and byte-deterministic (fixed inputs → fixed plan →
    * fixed shuffle). The executed round count is published at
    * [[lastClusterRounds]] for gates/bench to record. `maxIter`
    * bounds pathological graphs.
    */
  /** Executed round count of the most recent [[clusters]] call in
    * this JVM — published so gates and bench runs can record the
    * iteration depth next to the timing (a convergence regression
    * shows as a round-count jump even when wall-time noise hides it).
    */
  val lastClusterRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  def clusters(docs: DataFrame, pairs: DataFrame,
               idCol: String = "doc_id", maxIter: Int = 20,
               reliable: Boolean = false): DataFrame = {
    import graft.graph.Graph.cut
    // sortWithinPartitions before caching: a shuffle's reduce side
    // emits rows in map-block ARRIVAL order (genuinely
    // nondeterministic), so the cached edge blocks — read by every
    // round's join map side — would carry run-variant row order,
    // and compressed shuffle BYTES would jitter run-to-run. The
    // in-partition sort pins block content, which pins every
    // downstream map output: shuffle bytes become the exact plan
    // tripwire the bench methodology assumes.
    // partitioned by dst — the pull join's key — and in-partition
    // sorted by it: the SMJ-pinned pull join below then reads the
    // cached edge blocks with NO per-round exchange and NO per-round
    // sort (InMemoryRelation preserves partitioning and ordering),
    // where the previous (src, dst)-clustered cache re-shuffled and
    // re-sorted the whole edge table every round (guide §2.4: two
    // operations keyed the same way share one exchange). The sort
    // still pins block content, so shuffle bytes stay
    // run-deterministic — the bench tripwire this cache exists for.
    // materialize the pair table ONCE before mirroring it: the
    // symmetric union below reads `pairs` twice (one branch per
    // direction), and an un-materialized pairs plan — a full PPJoin
    // verify for the Jaccard gates — would EXECUTE twice (guide
    // §1.2 #1: don't recompute what you already have). Unpersisted
    // right after the edge cache materializes.
    // in-partition sort BEFORE caching, same reasoning as the edges
    // cache below: the pair generator's last shuffle emits rows in
    // map-block arrival order, so unsorted cached blocks would make
    // the mirror union's map outputs — and the edge repartition's
    // compressed shuffle BYTES — run-variant (observed: ±2% on
    // q_dedup_clusters between otherwise byte-identical runs). The
    // sort pins block content; the staged pair table is a sliver, so
    // the one-time in-partition sort is noise next to pair generation.
    val p = pairs.select(col("doc_a"), col("doc_b"))
      .sortWithinPartitions("doc_a", "doc_b").cache()
    // one exchange, not two: hash-partition the mirrored rows by the
    // pull-join key FIRST (explicit count — a bare repartition(col)
    // is AQE-coalescible and the no-per-round-exchange property below
    // must not depend on cached-plan AQE settings), then dedup
    // IN-PARTITION (hash(dst) already satisfies the (dst, src)
    // clustering a distinct needs), then pin block content with the
    // in-partition sort. The previous shape paid a (src, dst)
    // distinct exchange AND a dst repartition exchange over the full
    // edge table (guide §2.4: two operations keyed compatibly should
    // share one exchange).
    val nPart = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(nPart, col("dst"))
      .dropDuplicates("dst", "src")
      .sortWithinPartitions("dst", "src").cache()
    // iterate ONLY over nodes with at least one edge — near-dup
    // endpoints are a sliver of the corpus, so every round's join and
    // aggregate run on the sliver, not the full document set;
    // singletons join back labeled with their own id at the end.
    // Lineage is cut per round: iterative self-reference otherwise
    // grows the logical plan exponentially with the round count;
    // `reliable` picks durable checkpoints over executor-lifetime
    // blocks (see [[graft.graph.Graph.cut]])
    var labelsCkpt = cut(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .sortWithinPartitions("doc_id"), reliable)
    var labels = labelsCkpt
    // the labels job above materialized the edge cache; the staged
    // pair table has served its purpose
    p.unpersist()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node pulls the min label over itself and its neighbors;
      // the self row is TAGGED so the node's pre-round label rides
      // the same aggregate (`old_label = min over the unique self
      // row`) — the convergence check then needs no extra join and
      // no lazy-plan replay, just a flag comparison on the round's
      // own output
      // the pull join is PINNED to sort-merge: AQE would otherwise
      // pick broadcast-vs-shuffle from runtime map-output sizes,
      // which sit near the threshold for sliver-sized label sets —
      // the one strategy flip that made CC shuffle bytes run-variant
      // (a cold first run broadcast, warm runs shuffled). SMJ also
      // emits sorted output, so every downstream map side sees a
      // deterministic row order.
      val viaEdges = edges
        .join(labels.withColumnsRenamed(
          Map("doc_id" -> "dst", "cluster_id" -> "nbr"))
          .hint("merge"), "dst")
        .select(col("src").as("doc_id"), col("nbr").as("cluster_id"),
          lit(false).as("is_self"))
      val pulled = labels.withColumn("is_self", lit(true))
        .unionByName(viaEdges)
        .groupBy("doc_id")
        .agg(min(col("cluster_id")).as("cluster_id"),
          min(when(col("is_self"), col("cluster_id"))).as("old_label"))
      // pointer-jump from round 3 on: a node labeled L adopts L's own
      // (already lower or equal) label. Labels are always member ids
      // of the same component, so the jump stays inside the component
      // and is monotone decreasing; the left join + coalesce is belt-
      // and-braces (every label IS a node of `pulled` by
      // construction). Near-dup graphs are overwhelmingly tiny cliques
      // that converge in 2 pull-only rounds — those pay nothing; a
      // graph still unconverged by round 3 has proven itself deep, and
      // compression turns the remaining O(diameter) rounds into
      // O(log diameter). `pulled` is deliberately NOT checkpointed in
      // the jump: the self-join's two sides share the aggregate's
      // shuffle (exchange reuse), so the jump costs one extra in-round
      // join, not an extra materialization job per round.
      val stepped = if (i < 2) pulled
      else {
        val lm = pulled.select(col("doc_id").as("lbl"),
          col("cluster_id").as("lbl_root")).hint("merge")
        pulled.join(lm, pulled("cluster_id") === lm("lbl"), "left")
          .select(pulled("doc_id"),
            coalesce(col("lbl_root"), pulled("cluster_id"))
              .as("cluster_id"),
            pulled("old_label"))
      }
      // ONE job per round: materialize the round (checkpoint cuts
      // lineage), then probe convergence on the materialized blocks —
      // a column compare, no join, no replay. sortWithinPartitions
      // pins the checkpointed block content (see the edges note), so
      // the next round's map outputs — and with them the gate's
      // total shuffle bytes — are run-deterministic.
      val next = cut(stepped.select(col("doc_id"), col("cluster_id"),
        (col("cluster_id") < col("old_label")).as("changed"))
        .sortWithinPartitions("doc_id"), reliable)
      val anyChanged = !next.filter(col("changed")).isEmpty
      // the previous round's blocks are only released AFTER the next
      // checkpoint materialized — its lazy consumers are gone now
      labelsCkpt.unpersist()
      labelsCkpt = next
      labels = next.select(col("doc_id"), col("cluster_id"))
      converged = !anyChanged
      i += 1
    }
    lastClusterRounds.set(i)
    edges.unpersist()
    // a silent exit via maxIter would return partially-propagated
    // (wrong) cluster labels; fail loudly instead — a component with
    // diameter > maxIter means the pair graph is pathological (a long
    // chain), which callers should know about, not paper over
    if (!converged)
      throw new IllegalStateException(
        s"label propagation did not converge within maxIter=$maxIter " +
          "rounds; the near-dup graph has a component with diameter > " +
          s"$maxIter — raise maxIter or investigate the pair generator")
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** C4-style line-level dedup: across the whole corpus, every repeated
    * line survives only at its first occurrence (ordered by doc id,
    * then line position); documents are reassembled from their kept
    * lines. Output: `(doc_id, text)` with `text = ''` when every line
    * of a document was seen earlier elsewhere.
    *
    * Shape at 100 TB: lines are keyed by their 60-bit content hash (not
    * the line string), so the winner aggregate and the membership join
    * shuffle only `(long, long, int)` triples; the full line strings
    * stay partition-local until per-document reassembly. One hash
    * aggregate on the line hash (map-side combining collapses
    * within-partition repeats), one join back, one per-doc aggregate —
    * no windows, no corpus-wide sort. The winner rule is a plain
    * `min(struct(doc_id, pos))`, which is associative — it spills and
    * combines like any min.
    *
    * COLLISION TRADE-OFF (same as [[jaccardPairs]], stated explicitly
    * because here a collision DROPS data): lines are identified purely
    * by their 60-bit hash, so two distinct lines colliding merge into
    * one dedup key and the later one is silently removed. Birthday
    * bound ≈ n²/2^61: negligible below ~1e8 distinct lines, but at
    * ~1e12 (the 100 TB regime) expect ~1e5 collisions. If that loss
    * rate matters, pass `verifyExact = true`: the dedup key becomes
    * `(hash, line)` so distinct colliding lines never merge, at the
    * cost of shuffling strings instead of longs.
    *
    * `hashFn` is an injection seam for the collision spec (a constant
    * hash makes every line collide); production callers leave the
    * default.
    */
  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", sep: String = "\n",
                verifyExact: Boolean = false,
                hashFn: Column => Column = TextAnalysis.hash60): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
      .withColumn("h", hashFn(col("line")))
    val keyCols = if (verifyExact) Seq("h", "line") else Seq("h")
    val winners = lines.groupBy(keyCols.map(col): _*)
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"))
    val kept = lines.join(winners, keyCols)
      .filter(struct(col("doc_id"), col("pos")) === col("keep"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        e => e.getField("line")), sep).as("text"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** INTRA-document line dedup: within each document, keep only the
    * first occurrence of every distinct line, preserving original
    * line order — the within-page half of boilerplate removal
    * (repeated nav bars, cookie banners, chat-log echoes), the
    * complement of corpus-level [[lineDedup]] which arbitrates across
    * documents. A line repeated in MANY documents survives once per
    * document here; run both when the corpus needs both guarantees.
    *
    * Shape at 100 TB: one hash aggregate keyed `(doc_id, line)` — the
    * key carries the doc id, so unlike [[lineDedup]] no corpus-global
    * line key ever forms and per-key cardinality is bounded by a
    * single document's line count — then one per-doc aggregate to
    * reassemble. Map-side combining collapses within-partition
    * repeats before the shuffle. No windows, no joins, no sort wider
    * than one document's lines. Null text drops the document (split
    * of NULL explodes to nothing), matching [[lineDedup]]'s contract.
    */
  def intraDocLineDedup(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    lines.groupBy(col("doc_id"), col("line"))
      .agg(min(col("pos")).as("pos"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        e => e.getField("line")), sep).as("text"))
  }

  /** Exact duplicated-substring spans (the "dedup training data" /
    * suffix-style analysis, token granularity): every maximal token
    * range of length ≥ `k` whose every `k`-token window also occurs
    * elsewhere in the corpus (or again in the same document). Output:
    * `(doc_id, span_start, span_end, n_tokens)` with 0-based inclusive
    * token indices — the maximal intervals of tokens covered by
    * duplicated windows (overlapping AND adjacent coverage merges, so
    * each span is a contiguous cuttable range).
    *
    * Shape at 100 TB: k-token windows are hashed to 60-bit longs, so
    * the frequency aggregate and the membership join move only longs;
    * the only per-document work is one window function over that
    * document's *duplicated* window starts (a sliver of the corpus) to
    * merge overlaps — interval merging via running-max, one exchange
    * keyed on doc id. No suffix array needed: a window hash aggregate
    * finds the same repeats with two shuffles total.
    *
    * COLLISION TRADE-OFF: k-token windows are identified purely by
    * their 60-bit hash; a collision marks a unique window as
    * duplicated (a false-positive span — over-cutting, never data
    * loss). Birthday bound ≈ n²/2^61 over distinct windows; at ~1e12
    * windows expect ~1e5 spurious window marks. Verify on the window
    * string in the membership join if over-cutting is unacceptable.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 8,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(TextAnalysis.wordShinglesOfNative(
        TextAnalysis.tokens(col(textCol)), k)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        TextAnalysis.hash60(col("g")).as("h"))
    val dupHashes = wins.groupBy("h")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select("h")
    val dupStarts = wins.join(dupHashes, "h").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max(col("pos") + (k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    dupStarts
      .withColumn("new_span",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd + 1, 1L)
          .otherwise(0L))
      .withColumn("span", sum(col("new_span")).over(w))
      .groupBy("doc_id", "span")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** Apply [[duplicateSpans]]: cut every duplicated span's tokens and
    * reassemble each document from the survivors. Output `(doc_id,
    * text)`; a document whose every token sits in a duplicated span
    * (e.g. a full copy of another document) becomes `''`.
    *
    * SEMANTIC: removes ALL occurrences of a duplicated range,
    * including the first — the conservative decontamination-style cut
    * (contrast [[lineDedup]], which keeps the first occurrence).
    * Keeping one occurrence at span granularity would need a global
    * order over window occurrences, a corpus-wide sort this
    * deliberately avoids.
    *
    * Shape at 100 TB: [[duplicateSpans]]' two narrow-key shuffles plus
    * one broadcast-able anti-join — spans are a sliver of the corpus
    * (only documents containing repeats), joined on doc id equality
    * with the span range as a residual predicate (hash anti-join, not
    * a nested loop) — and one per-doc reassembly aggregate.
    */
  def cutSpans(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(docs, k, idCol, textCol)
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "tok")))
    val kept = toks.join(spans,
      toks("doc_id") === spans("doc_id") &&
        toks("pos").between(spans("span_start"), spans("span_end")),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        e => e.getField("tok")), " ").as("text"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** SimHash (term-frequency-weighted, `bits`-bit, default 28 so the
    * per-bit extraction stays in exact integer range): explode tokens,
    * one hash-aggregate per doc summing ±1 votes per bit, then pack.
    * One shuffle on doc_id.
    */
  def simhash(docs: DataFrame, bits: Int = 28, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", TextAnalysis.hash60(col("tok")))
    val votes = (0 until bits).map { b =>
      sum(shiftright(col("h"), b) % 2 * 2 - 1).as(s"v_$b")
    }
    val packed = (0 until bits).map { b =>
      when(col(s"v_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }
}
