package graft.graph

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** Iterative graph analytics over edge tables — the Pregel-shaped
  * family ([[graft.dedup.Dedup.clusters]]' min-label propagation is
  * the other member). Everything here is expressed as joins +
  * aggregations so Catalyst plans it: one hash join on the source key
  * plus one groupBy on the destination per superstep, the canonical
  * MapReduce-PageRank shape that scales to any edge count.
  */
object Graph {

  /** The session's shuffle parallelism, as an EXPLICIT repartition
    * count: a bare `repartition(col)` is AQE-coalescible, and the
    * superstep no-exchange properties in this file must not depend on
    * adaptive-plan settings. At scale this is the cluster fan-out; the
    * value is the same one every other exchange in the query uses.
    */
  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Lineage cut between supersteps. `reliable = false` (default)
    * uses `localCheckpoint` — executor-lifetime blocks, the right
    * cost on a stable cluster — but a lost executor (preemption,
    * dynamic allocation) kills the lineage-severed blocks and the
    * whole N-superstep run restarts from zero. `reliable = true`
    * writes each cut to the session's configured CHECKPOINT DIR
    * (`sparkContext.setCheckpointDir` — durable storage), so a
    * 50-superstep PageRank on a preemptible 100×-scale cluster
    * resumes from the last superstep, not from scratch. Refuses
    * loudly when no checkpoint dir is configured rather than
    * silently degrading durability.
    */
  private[graft] def cut(df: DataFrame, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint()
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable=true needs sparkContext.setCheckpointDir(<durable " +
          "dir>) - a location that survives executor loss (HDFS/" +
          "object store); otherwise use reliable=false (localCheckpoint)")
      df.checkpoint()
    }

  /** Fixed-iteration PageRank in 1e-9 FIXED-POINT integer arithmetic:
    * every quantity is a non-negative long number of "nano-rank"
    * units, all divisions are integer divisions, so the result is
    * BIT-EXACT across engines (float summation order — the usual
    * cross-engine divergence — never appears; the driver's DuckDB
    * oracle replays the iterations with `//` and matches hashes).
    *
    *   r_0(v)   = 1e9 / N
    *   r_t+1(v) = ((den−num)·1e9/den)/N + num · Σ_{u→v} (r_t(u)/deg(u)) / den
    *
    * with damping num/den (default 17/20 = 0.85). Duplicate edges
    * collapse first (an edge table, not a multigraph); rank mass
    * leaking through dangling nodes and integer truncation is NOT
    * redistributed — the standard simplification when ranking is the
    * goal (ordering is unaffected; absolute mass is not conserved).
    *
    * Scale: each iteration is ONE equi-join of edges against the
    * current ranks on src (plus the tiny out-degree table, computed
    * once) and ONE sum-by-dst — both map-side combinable; lineage is
    * cut per iteration so a 50-superstep run doesn't build a
    * 50-join plan. Returns `(id, rank_q)` — nano-rank longs; divide
    * by 1e9 for the conventional value.
    */
  def pageRank(edges: DataFrame, iters: Int,
               srcCol: String = "src", dstCol: String = "dst",
               dampingNum: Long = 17L, dampingDen: Long = 20L,
               reliable: Boolean = false): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    require(dampingNum >= 0 && dampingDen > 0 && dampingNum <= dampingDen,
      s"damping $dampingNum/$dampingDen must sit in [0, 1]")
    // ONE exchange feeds the whole preparation: the explicit hash(src)
    // repartition satisfies the (src, dst) clustering the dedup needs,
    // the src clustering the degree aggregate needs, AND the src-side
    // distribution of the e⋈deg join — dedup, degree count and join
    // all run in-partition on it (the two reads of `e` share the one
    // exchange via ReusedExchange). Previously: a (src, dst) distinct
    // exchange, a src degree exchange, and a final src repartition.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(shufflePartitions(edges), col("src"))
      .dropDuplicates("src", "dst")
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // materialize the superstep probe side ONCE: edge rows with their
    // source's out-degree folded in, hash-partitioned by the join key
    // and sorted within partitions (sort pins block content, so
    // shuffle bytes stay run-deterministic — the bench tripwire).
    // Before this cut, EVERY superstep re-derived it from the source
    // table: two scans, a distinct, an aggregate and two broadcast
    // builds per iteration, all recomputed because checkpointed
    // lineage cannot share stages across jobs. After: each superstep
    // reads these blocks with no exchange (localCheckpoint preserves
    // the partitioning), and the iteration's only shuffle is the
    // contribution sum by destination — the data movement PageRank
    // fundamentally requires (guide §1.2/§2.4).
    val eDeg = cut(e.join(deg, "src")
      .sortWithinPartitions("src", "dst"),
      reliable)
    val nodes = cut(eDeg.select(col("src").as("id"))
      .union(eDeg.select(col("dst").as("id"))).distinct(), reliable)
    val n = nodes.count()
    require(n > 0, "pageRank: the edge table has no nodes")
    val unit = 1000000000L
    val base = (dampingDen - dampingNum) * unit / dampingDen / n
    val r0 = nodes.select(col("id"), lit(unit / n).as("rank_q"))
    runPageRank(eDeg, nodes, r0, iters, base, dampingNum, dampingDen,
      reliable)
  }

  private def runPageRank(eDeg: DataFrame, nodes: DataFrame,
                          r0: DataFrame, iters: Int, base: Long,
                          dampingNum: Long, dampingDen: Long,
                          reliable: Boolean): DataFrame = {
    var r = r0
    for (_ <- 0 until iters) {
      val contribs = eDeg.join(r, eDeg("src") === r("id"))
        .select(col("dst").as("id"),
          F.expr("rank_q div outdeg").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      r = cut(nodes.join(contribs, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0L)).as("s0"))
        .select(col("id"),
          (lit(base) + F.expr(s"($dampingNum * s0) div $dampingDen"))
            .as("rank_q")), reliable)
    }
    r
  }

  /** Multi-source BFS hop counts over the DIRECTED edge table:
    * `hops(v)` = length of the shortest path from ANY source node,
    * explored to `iters` supersteps (a path longer than `iters` reads
    * as unreachable — fixed-depth exploration is the bounded-cost
    * contract; callers wanting convergence pick `iters` ≥ graph
    * diameter). Pure integer arithmetic with an explicit INFINITY
    * sentinel instead of NULL distances, so Spark's and DuckDB's
    * NULL-vs-least semantics can never disagree; unreachable nodes
    * surface as NULL only in the final projection. Each superstep is
    * one frontier equi-join + one min-by-dst (map-side combinable),
    * lineage cut per step — the same Pregel shape as [[pageRank]].
    * Returns `(id, hops)`, hops NULL when unreached within `iters`.
    */
  def shortestHops(edges: DataFrame, sources: DataFrame, iters: Int,
                   srcCol: String = "src", dstCol: String = "dst",
                   sourceIdCol: String = "id",
                   reliable: Boolean = false): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    val Inf = 1000000L
    require(iters < Inf - 1, s"iters must be < ${Inf - 1}")
    // materialize the deduped edge table ONCE, partitioned by the
    // frontier join key and in-partition sorted (deterministic
    // blocks): previously every superstep re-scanned the source table
    // and re-ran the distinct — checkpointed lineage cannot share
    // stages across jobs — so a 4-superstep BFS paid the edge
    // preparation five times (guide §1.2/§2.4)
    // one exchange, not two: hash-partition by the frontier join key
    // FIRST (explicit count — a bare repartition(col) is
    // AQE-coalescible), then dedup IN-PARTITION (hash(src) satisfies
    // the (src, dst) clustering), then pin block content with the
    // in-partition sort (guide §2.4: the distinct and the repartition
    // are keyed compatibly, so they share one exchange)
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(shufflePartitions(edges), col("src"))
      .dropDuplicates("src", "dst")
      .sortWithinPartitions("src", "dst"),
      reliable)
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct(), reliable)
    val s = sources.select(col(sourceIdCol).as("id")).distinct()
    var d = cut(nodes.join(s.withColumn("z", lit(0L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("z"), lit(Inf)).as("h")), reliable)
    for (_ <- 0 until iters) {
      // only REACHED nodes can improve a neighbor: an INF node's
      // candidate (INF+1) always loses the least() below, so joining
      // it is pure shuffle waste — at scale the early frontiers are
      // tiny slivers of the node set
      val cand = e.join(d.filter(col("h") < Inf), e("src") === d("id"))
        .select(col("dst").as("id"), (col("h") + 1L).as("ch"))
        .groupBy("id").agg(F.min("ch").as("ch"))
      d = cut(d.join(cand, Seq("id"), "left")
        .select(col("id"),
          F.least(col("h"), coalesce(col("ch"), lit(Inf))).as("h")),
        reliable)
    }
    d.select(col("id"),
      F.when(col("h") >= Inf, lit(null).cast("long"))
        .otherwise(col("h")).as("hops"))
  }

  /** Weighted single/multi-source shortest paths — Bellman–Ford
    * explored to `iters` supersteps: `dist(v)` = minimum total weight
    * over paths of at most `iters` edges from any source (a cheaper
    * path needing more hops than `iters` reads as the best within
    * budget — the same fixed-depth bounded-cost contract as
    * [[shortestHops]]; pick `iters` ≥ graph diameter for the exact
    * fixpoint). Weights are LONGS in `[0, 1e9]`, refused loudly
    * outside that range: non-negative keeps the INF-sentinel algebra
    * monotone, the cap plus `iters <= 1000` proves `h + w` can never
    * overflow the 1e15 sentinel — all-integer arithmetic, so the
    * result is bit-exact across engines like the rest of the family.
    * Parallel edges collapse to their cheapest weight first. Each
    * superstep is one frontier equi-join + one min-by-dst (map-side
    * combinable), lineage cut per step. Returns `(id, dist)`, NULL
    * when unreached within `iters`.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, iters: Int,
                    srcCol: String = "src", dstCol: String = "dst",
                    weightCol: String = "w",
                    sourceIdCol: String = "id",
                    reliable: Boolean = false): DataFrame = {
    require(iters >= 0 && iters <= 1000,
      s"iters must sit in [0, 1000]: $iters (the bound proves the " +
        "integer sentinel arithmetic cannot overflow)")
    val Inf = 1000000000000000L // 1e15 > 1000 supersteps × 1e9 max w
    val MaxW = 1000000000L
    // materialize the collapsed weighted edge table ONCE, partitioned
    // by the frontier join key (same rationale as [[shortestHops]]);
    // the weight-range guard below then reads the materialized blocks
    // instead of forcing an extra full derivation
    // one exchange, not two (same rationale as [[shortestHops]]): the
    // min-weight collapse needs only (src, dst) clustering, which the
    // explicit hash(src) repartition already provides — the aggregate
    // then runs in-partition with no second exchange
    val e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .repartition(shufflePartitions(edges), col("src"))
      .groupBy("src", "dst").agg(F.min("w").as("w")) // cheapest parallel edge
      .sortWithinPartitions("src", "dst"),
      reliable)
    require(e.filter(col("w") < 0L || col("w") > MaxW).isEmpty,
      s"shortestPaths: edge weights must sit in [0, $MaxW] - negative " +
        "weights break the monotone sentinel algebra and larger ones " +
        "could overflow it; rescale the weights")
    val nodes = cut(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct(), reliable)
    val s = sources.select(col(sourceIdCol).as("id")).distinct()
    var d = cut(nodes.join(s.withColumn("z", lit(0L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("z"), lit(Inf)).as("h")), reliable)
    for (_ <- 0 until iters) {
      val cand = e.join(d.filter(col("h") < Inf), e("src") === d("id"))
        .select(col("dst").as("id"), (col("h") + col("w")).as("ch"))
        .groupBy("id").agg(F.min("ch").as("ch"))
      d = cut(d.join(cand, Seq("id"), "left")
        .select(col("id"),
          F.least(col("h"), coalesce(col("ch"), lit(Inf))).as("h")),
        reliable)
    }
    d.select(col("id"),
      F.when(col("h") >= Inf, lit(null).cast("long"))
        .otherwise(col("h")).as("dist"))
  }

  /** Connected components of the UNDIRECTED graph induced by the edge
    * table: `(id, component)` for every node, labeled by the minimal
    * member id — [[graft.dedup.Dedup.clusters]] exposed under the graph
    * API it belongs to, with both of its paths. An edge table of at
    * most `spark.sql.autoBroadcastJoinThreshold / 16` edges, and never
    * more than 100,000 (`Dedup.DriverLabelMaxPairs`), is labelled on
    * the driver by union-find after one bounded collect: no round runs,
    * `maxIter` and `reliable` do not apply, and
    * `Dedup.lastClusterRounds` reads 0. A larger table, and every table
    * with broadcasting off, runs the adaptive pointer-jumping label
    * propagation (each round cut durably when `reliable`,
    * fixpoint-checked, loud when `maxIter` rounds do not converge).
    * Self-loops are fine (they
    * never move a label); edges with a NULL endpoint are dropped;
    * isolated ids never appear (the node set IS the edge endpoints —
    * pass a `docs` frame to [[graft.dedup.Dedup.clusters]] directly
    * to label a wider universe with singletons).
    */
  def connectedComponents(edges: DataFrame,
                          srcCol: String = "src", dstCol: String = "dst",
                          maxIter: Int = 20,
                          reliable: Boolean = false): DataFrame = {
    val pairs = edges
      .select(col(srcCol).as("doc_a"), col(dstCol).as("doc_b"))
      .filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    graft.dedup.Dedup.clusters(nodes, pairs, maxIter = maxIter,
        reliable = reliable)
      .select(col("doc_id").as("id"), col("cluster_id").as("component"))
  }

  /** Per-node triangle counts on the UNDIRECTED simple graph induced
    * by the edge table (direction, duplicates and self-loops
    * discarded). The count is orientation-independent, so the engine
    * is free to pick the join-friendly orientation: each undirected
    * edge points from its lower (degree, id) endpoint to the higher —
    * Schank's trick, which bounds every node's out-neighborhood by
    * O(√m) and keeps the wedge join from exploding on hub nodes (the
    * plain id orientation would enumerate a celebrity node's full
    * neighborhood choose 2; the DuckDB oracle, which has no skew
    * problem at gate scale, uses exactly that simpler orientation and
    * gets the identical triangle set). Plan: two self-equi-joins +
    * one explode/groupBy — no iteration, no driver data.
    * Returns `(id, triangles)` for every node, zeros included.
    */
  def triangleCounts(edges: DataFrame,
                     srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(F.least(col(srcCol), col(dstCol)).as("a"),
        F.greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint() // three self-joins below read it
    val nodes = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    val deg = und.select(F.explode(F.array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // orient by (degree, id): u → v iff (d(u), u) < (d(v), v)
    val dir = und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(
        F.when(F.struct(col("da"), col("a")) < F.struct(col("db"), col("b")),
          F.struct(col("a").as("u"), col("b").as("v"),
            col("db").as("dv")))
          .otherwise(F.struct(col("b").as("u"), col("a").as("v"),
            col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    // wedges at u between out-neighbors v1 < v2 (in the same order),
    // closed by the oriented edge (v1, v2)
    val e1 = dir.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val e2 = dir.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val tri = e1.join(e2, Seq("u"))
      .filter(F.struct(col("dv1"), col("v1")) <
        F.struct(col("dv2"), col("v2")))
      .join(dir.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val perNode = tri
      .select(F.explode(F.array(col("u"), col("v1"), col("v2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    nodes.join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
