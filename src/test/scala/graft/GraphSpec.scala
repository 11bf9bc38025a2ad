package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Graph

/** Graph family contracts not covered by the oracle gates: weighted
  * shortest-path semantics, and the reliable-checkpoint durability
  * option (identical results in both modes; durable mode actually
  * writes to the configured checkpoint dir and refuses without one).
  */
class GraphSpec extends SparkSpec {

  private def df3(rows: (Long, Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("src", "dst", "w")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("shortestPaths: cheapest path within the superstep budget") {
    import spark.implicits._
    val edges = df3((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 4L, 2L), (6L, 7L, 9L))
    val src = Seq(1L).toDF("id")
    val got = Graph.shortestPaths(edges, src, iters = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    // 1→2→3 (4) beats 1→3 (10); 4 via 3; 6/7 unreachable
    assert(got === Map(1L -> 0L, 2L -> 3L, 3L -> 4L, 4L -> 6L,
      6L -> null, 7L -> null))
    // a ONE-superstep budget sees only the direct edge to 3
    val one = Graph.shortestPaths(edges, src, iters = 1)
      .filter(col("id") === 3L).collect()(0).getLong(1)
    assert(one === 10L)
    // parallel edges collapse to the cheapest
    val par = Graph.shortestPaths(
      df3((1L, 2L, 9L), (1L, 2L, 4L)), src, iters = 1)
      .filter(col("id") === 2L).collect()(0).getLong(1)
    assert(par === 4L)
    // negative and oversized weights refuse loudly
    val e1 = intercept[IllegalArgumentException](
      Graph.shortestPaths(df3((1L, 2L, -1L)), src, 1).collect())
    assert(e1.getMessage.contains("weights"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Graph.shortestPaths(df3((1L, 2L, 2000000000L)), src, 1).collect())
    assert(e2.getMessage.contains("weights"), e2.getMessage)
  }

  test("connectedComponents labels every endpoint by its component minimum") {
    import spark.implicits._
    val edges = df3((1L, 2L, 0L), (2L, 3L, 0L), (7L, 8L, 0L), (9L, 9L, 0L))
    val got = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L,
      8L -> 7L, 9L -> 9L))
  }

  test("reliable checkpointing: refuses without a dir, then matches local-mode results") {
    import spark.implicits._
    val edges = df3((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L),
      (3L, 4L, 2L), (5L, 4L, 1L))
    val src = Seq(1L).toDF("id")
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException](
        Graph.pageRank(edges, 2, reliable = true))
      assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
    }
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    assert(sortedRows(Graph.pageRank(edges, 3, reliable = true)) ===
      sortedRows(Graph.pageRank(edges, 3)))
    assert(sortedRows(Graph.shortestHops(edges, src, 3, reliable = true)) ===
      sortedRows(Graph.shortestHops(edges, src, 3)))
    assert(sortedRows(Graph.shortestPaths(edges, src, 3, reliable = true)) ===
      sortedRows(Graph.shortestPaths(edges, src, 3)))
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val docs = (1L to 9L).toDF("doc_id")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(sortedRows(Graph.connectedComponents(edges, reliable = true)) ===
        sortedRows(Graph.connectedComponents(edges)))
      assert(sortedRows(graft.dedup.Dedup.clusters(docs, pairs,
          reliable = true)) ===
        sortedRows(graft.dedup.Dedup.clusters(docs, pairs)))
    }
    // durable mode really wrote checkpoint data
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no checkpoint data under $dir")
  }
}
