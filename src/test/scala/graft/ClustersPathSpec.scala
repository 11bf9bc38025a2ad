package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.dedup.Dedup

/** `Dedup.clusters` labels a pair graph of at most
  * `Dedup.driverLabelPairs(spark.sql.autoBroadcastJoinThreshold)` pairs
  * on the driver and a larger one in distributed rounds; both paths give
  * the same rows. */
class ClustersPathSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Sorted `(doc_id, cluster_id)` rows and the executed round count. */
  private def labels(docs: DataFrame,
                     pairs: DataFrame): (Seq[(Long, Long)], Int) = {
    val out = Dedup.clusters(docs, pairs)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Seq("doc_id" -> LongType, "cluster_id" -> LongType))
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    (rows.toSeq.sorted, Dedup.lastClusterRounds.get())
  }

  /** One seeded graph over ids 0 until 60: a chain, a star, a clique,
    * self-loops, pairs with a NULL endpoint, duplicated and mirrored
    * pairs, and endpoints outside `docs`; ids are shuffled so no shape
    * is laid out in id order. */
  private def graph(seed: Int): Seq[(Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 60L).toList).toIndexedSeq
    val chain = ids.slice(0, 12).sliding(2).map(w => (w(0), w(1))).toSeq
    val star = ids.slice(12, 20).tail.map(leaf => (leaf, ids(12)))
    val clique = for (a <- ids.slice(20, 25); b <- ids.slice(20, 25)
                      if a < b) yield (a, b)
    val loops = ids.slice(25, 28).map(i => (i, i))
    val bridge = Seq((ids(5), ids(15)), (ids(30), 75L), (76L, ids(31)))
    val pairs = chain ++ star ++ clique ++ loops ++ bridge
    val dupes = Seq.fill(6)(pairs(rnd.nextInt(pairs.size)))
    val mirrored = Seq.fill(6)(pairs(rnd.nextInt(pairs.size)).swap)
    val some = rnd.shuffle(pairs ++ dupes ++ mirrored)
      .map { case (a, b) => (Option(a), Option(b)) }
    some ++ Seq[(Option[Long], Option[Long])]((None, Some(ids(40))),
      (Some(ids(41)), None), (None, None))
  }

  test("driver-labelled and round-labelled graphs give identical rows") {
    import spark.implicits._
    val docs = (0L until 60L).toDF("doc_id")
    (1 to 6).foreach { seed =>
      val g = graph(seed)
      val longs = g.toDF("doc_a", "doc_b")
      val ints = g.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }
        .toDF("doc_a", "doc_b")
      Seq("long" -> longs, "int" -> ints).foreach { case (kind, pairs) =>
        val (driver, driverRounds) = labels(docs, pairs)
        val (rounds, executed) =
          withSQLConf(Threshold -> "-1")(labels(docs, pairs))
        assert(driverRounds === 0, s"seed $seed $kind: ran rounds")
        assert(executed > 0, s"seed $seed $kind: ran no round")
        assert(driver === rounds, s"seed $seed $kind")
        assert(driver.size === 60)
      }
    }
  }

  test("a threshold of n pairs labels n pairs on the driver and n + 1 in rounds") {
    import spark.implicits._
    val n = 5
    val docs = (0L to 10L).toDF("doc_id")
    val chain = (0L to n.toLong).map(i => (i + 1, i))
    withSQLConf(Threshold -> (16 * n).toString) {
      val (atBound, atRounds) =
        labels(docs, chain.take(n).toDF("doc_a", "doc_b"))
      assert(atRounds === 0, "n pairs take the driver path")
      assert(atBound.map(_._2) ===
        Seq.fill(n + 1)(0L) ++ ((n + 1) to 10).map(_.toLong))
      val (past, pastRounds) = labels(docs, chain.toDF("doc_a", "doc_b"))
      assert(pastRounds > 0, "n + 1 pairs take the rounds")
      assert(past.map(_._2) ===
        Seq.fill(n + 2)(0L) ++ ((n + 2) to 10).map(_.toLong))
    }
  }

  test("no threshold labels more than DriverLabelMaxPairs pairs on the driver") {
    val n = Dedup.DriverLabelMaxPairs
    assert(Dedup.driverLabelPairs(Long.MaxValue) === n)
    assert(Dedup.driverLabelPairs(16L * n + 16) === n)
    assert(Dedup.driverLabelPairs(-1) === 0 && Dedup.driverLabelPairs(15) === 0)
    // disjoint pairs (2i, 2i + 1): two-node components at any size
    def pairs(m: Int) = spark.range(m)
      .select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
    val docs = spark.range(4).toDF("doc_id")
    withSQLConf(Threshold -> Long.MaxValue.toString) {
      val (atCap, capRounds) = labels(docs, pairs(n))
      assert(capRounds === 0, "DriverLabelMaxPairs pairs take the driver path")
      val (past, pastRounds) = labels(docs, pairs(n + 1))
      assert(pastRounds > 0, "one pair more takes the rounds")
      assert(atCap === Seq(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
      assert(past === atCap)
    }
  }
}
