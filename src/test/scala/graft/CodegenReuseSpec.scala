package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.io.Snapshots
import graft.pipeline.Curation

/** A repeated pipeline step reuses the classes Catalyst generated and
  * Janino compiled for it the first time: run a step once, then again
  * on the same shape, and the second run compiles nothing. Each
  * compilation updates `CodegenMetrics.METRIC_COMPILATION_TIME`, on the
  * driver and in tasks alike (local mode runs both in this JVM).
  *
  * The passes run with AQE off. AQE re-plans as query stages finish,
  * and which stage finishes first decides between equivalent plan
  * shapes (a join's build side, a sort fused into an aggregate), so an
  * AQE pass may plan, and compile, a shape the previous pass did not:
  * 0 to 6 classes per repeated curation pass here, against 0 in every
  * pass with AQE off. A static plan isolates what this spec pins: the
  * cache holds a pass's classes, no probe generates a fresh class per
  * call, and store writes keep one executor class loader.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compilations while `body` runs. */
  private def compilesOf(body: => Unit): Long = {
    val c0 = compiles()
    body
    compiles() - c0
  }

  private def withoutAqe[A](body: => A): A =
    withSQLConf("spark.sql.adaptive.enabled" -> "false")(body)

  /** ~60 documents: 30 distinct bases over a 60-word vocabulary, and
    * 10 near-duplicate chains base → first → second, each hop swapping
    * two words of its source, so the connected-component labelling
    * runs more than one round. */
  private lazy val corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    val bases = (0 until 30).map(_ => Seq.fill(24)(vocab(rnd.nextInt(60))))
    def swap(ws: Seq[String], at: Int): Seq[String] =
      ws.updated(at, s"x${rnd.nextInt(1000)}")
        .updated(at + 10, s"y${rnd.nextInt(1000)}")
    val chains = bases.take(10).zipWithIndex.flatMap { case (b, i) =>
      val first = swap(b, i % 10)
      Seq(first, swap(first, (i + 5) % 10))
    }
    (bases ++ chains).zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "), Seq("web", "code")(i % 2))
    }.toDF("doc_id", "text", "source")
  }

  /** One curation pass: the leakage-safe split's counts and the
    * curated ids. */
  private def curationPass(): (Map[String, Long], Seq[Long]) = {
    val splits = Curation.leakageSafeSplit(corpus,
        Dedup.jaccardPairs(corpus, 0.5),
        Seq("train" -> 90, "valid" -> 95), "test")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Curation.curate(corpus, minChars = 20,
        maxStopwordRatio = 0.5, stopwords = Seq("w0", "w1"),
        jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    CacheScope.release(spark)
    (splits, kept)
  }

  /** Runs two passes; asserts the second returns the same and compiles
    * no class. Returns the first pass's `lastClusterRounds`. */
  private def secondPassCompilesNothing(): Int = withoutAqe {
    val first = curationPass()
    val rounds = Dedup.lastClusterRounds.get()
    var second: (Map[String, Long], Seq[Long]) = null
    val n = compilesOf { second = curationPass() }
    assert(second === first)
    assert(first._2.size < corpus.count(), "curation removes near-dups")
    assert(n === 0L, s"the second pass compiled $n generated classes")
    rounds
  }

  test("a second curation pass over the same corpus compiles nothing") {
    // broadcasting off: the labelling runs its distributed rounds
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(secondPassCompilesNothing() > 1,
        "the chains must make the labelling iterate")
    }
  }

  test("a second curation pass labelled on the driver compiles nothing") {
    assert(secondPassCompilesNothing() === 0,
      "the pair graph is small enough to label on the driver")
  }

  test("a second same-shaped mergeInto compiles nothing, and a conf " +
    "change between the writes still reaches the second") {
    val path = Files.createTempDirectory("graft_codegen_merge").toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    Snapshots.createEmpty(spark, path, schema)
    def merge(from: Long, n: Int): Unit = {
      import spark.implicits._
      // half the batch re-delivers keys of the previous one
      val batch = (from - n / 2 until from + n / 2)
        .map(k => (k, s"v$k")).toDF("k", "v")
      Snapshots.mergeInto(spark, path, batch, on = Seq("k" -> "k"),
        notMatched = Seq(Snapshots.WhenNotMatchedInsert(None,
          Seq("k" -> Snapshots.src("k"), "v" -> Snapshots.src("v")))))
    }
    def files(): Seq[String] =
      Snapshots.files(spark, path).select("file").collect()
        .map(_.getString(0)).toSeq
    withoutAqe {
      merge(0L, 20)
      merge(10L, 20)
      val before = files().toSet
      val key = "spark.sql.files.maxRecordsPerFile"
      spark.conf.set(key, "2")
      try {
        val n = compilesOf(merge(20L, 20))
        assert(n === 0L, s"the second same-shaped merge compiled $n classes")
      } finally spark.conf.unset(key)
      val added = files().filterNot(before)
        .map(f => spark.read.parquet(s"$path/$f").count())
      assert(added.sum === 10L, "ten new keys inserted")
      assert(added.forall(_ <= 2L),
        "maxRecordsPerFile set on the session caps every new file: " +
          added.mkString(","))
      assert(Snapshots.read(spark, path).count() === 40L)
    }
  }
}
