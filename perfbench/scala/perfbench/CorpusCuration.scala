package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.CacheScope
import graft.dedup.Dedup
import graft.io.Sinks
import graft.pipeline.Curation

/** The training-data tier over one corpus batch per step: a leakage-safe
  * split over the Jaccard near-dup pairs, curation (quality gate, exact
  * and near-dup removal), a stratified sample packed into sequences, and
  * the written mix. Each step is one batch.
  */
final class CorpusCuration(spark: SparkSession, data: String, work: String)
    extends Workload {

  private implicit val formats: Formats = DefaultFormats
  private val params = {
    val src = scala.io.Source.fromFile(s"$data/expected.json")
    try JsonMethods.parse(src.mkString) finally src.close()
  }
  private val stopwords = (params \ "stopwords").extract[Seq[String]]
  private val minChars = (params \ "min_chars").extract[Int]
  private val maxStop = (params \ "max_stopword_ratio").extract[Double]
  private val cut = (params \ "jaccard").extract[Double]
  private val rates = (params \ "rates").extract[Map[String, Double]]
  private val Schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))
  private val TokenBudget = 2048

  private val batches = new java.io.File(data).list()
    .filter(_.matches("b\\d\\d")).sorted.toSeq
  private var nextBatch = Main.WarmUpSteps
  private val mixes = scala.collection.mutable.ArrayBuffer[String]()

  /** Runs the pipeline on one batch; returns the split sizes and the
    * curated documents. */
  private def run(b: String, out: String,
                  trace: Trace): (Map[String, Long], DataFrame) = {
    val docs = spark.read.schema(Schema).option("header", "true")
      .csv(s"$data/$b/docs.csv")
    val splits = trace.span("curation.split") {
      Curation.leakageSafeSplit(docs, Dedup.jaccardPairs(docs, cut),
        Seq("train" -> 90, "valid" -> 95), "test")
        .groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val curated = trace.span("curation.curate") {
      Curation.curate(docs, minChars, maxStop, stopwords, cut)
        .select("doc_id", "source", "text").localCheckpoint()
    }
    trace.span("curation.mix") {
      val mixed = Curation.stratifiedSample(curated, rates)
      val packed = Curation.packSequences(mixed, TokenBudget)
      Sinks.writePartitioned(mixed.join(packed.drop("source"), "doc_id"),
        out, Seq("source"))
    }
    (splits, curated)
  }

  def setup(): Unit =
    batches.take(Main.WarmUpSteps).foreach { b =>
      run(b, s"$work/setup/$b", new Trace(spark, enabled = false))
      CacheScope.release(spark)
    }

  def hasNext: Boolean = nextBatch < batches.size

  def next(trace: Trace): Step = {
    val b = batches(nextBatch)
    nextBatch += 1
    val out = s"$work/mix/$b"
    val ((splits, curated), s, cpu, jit) = Main.measure(run(b, out, trace))
    val survivors = curated.select("doc_id").collect().map(_.getLong(0))
    CacheScope.release(spark)
    mixes += out
    val mix = spark.read.parquet(out).agg(count(lit(1)),
      sum("n_tokens")).head()
    Step(s, cpu, jit, Map("batch" -> b, "splits" -> splits,
      "survivors" -> survivors.sorted.toSeq, "mix_docs" -> mix.getLong(0),
      "mix_tokens" -> mix.getLong(1)))
  }

  def observe(): Map[String, Any] = {
    val rows = mixes.map(spark.read.parquet(_).count()).sum
    val bytes = mixes.map { m =>
      val p = new org.apache.hadoop.fs.Path(m)
      val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      var n = 0L
      while (files.hasNext) {
        val f = files.next()
        if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
      }
      n
    }.sum
    Map("store_rows" -> rows, "store_bytes" -> bytes)
  }
}
