package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Stage1, Stage2}
import graft.io.{Sinks, Snapshots}

/** The paper's monthly batch: raw Conte block/cpu/mem/llite CSVs →
  * Stage 1 → merge-with-dedup into the FRESCO snapshot store (the
  * reference's S11: insert only rows whose key is not stored yet) →
  * Stage 2 over the month, read back through the store's SQL catalog
  * (the DSv2 scan) → day-partitioned sink. Each step is one month.
  */
final class FrescoEtl(spark: SparkSession, data: String, work: String)
    extends Workload {

  private val Counters = Map(
    "block" -> Seq("rd_sectors", "wr_sectors", "rd_ticks", "wr_ticks"),
    "cpu" -> Seq("user", "nice", "system", "idle", "iowait", "irq",
      "softirq"),
    "mem" -> Seq("MemTotal", "MemFree", "FilePages"),
    "llite" -> Seq("read_bytes", "write_bytes"))
  private val JobCols = Seq("jobID", "qtime", "start", "end",
    "Resource_List.walltime", "Resource_List.nodect",
    "Resource_List.ncpus", "account", "queue", "jobname", "user", "group",
    "exec_host", "jobevent", "Exit_status")
  private val StoreCols = Stage1.FrescoColumns :+ "ym"
  private val Keys = Seq("Job Id", "Host", "Event", "Timestamp", "ym")
  private val StoreSchema = StructType(Seq(
    StructField("Job Id", StringType), StructField("Host", StringType),
    StructField("Event", StringType), StructField("Value", DoubleType),
    StructField("Units", StringType), StructField("Timestamp", TimestampType),
    StructField("ym", StringType)))

  private val months = new java.io.File(data).list()
    .filter(_.matches("m\\d\\d")).sorted.toSeq
  private val table = "fresco.etl.store"
  private val store = s"$work/etl/store"
  private val sink = s"$work/sink"
  private var nextMonth = Main.WarmUpSteps
  private val done = scala.collection.mutable.ArrayBuffer[String]()

  private def raw(m: String, metric: String): DataFrame = {
    val df = Sinks.readCsvAllString(spark, s"$data/$m/$metric",
      Seq("jobID", "node", "timestamp") ++ Counters(metric))
    Counters(metric).foldLeft(df)((d, c) =>
      d.withColumn(c, Sinks.coerce(col(c), "double")))
  }

  private def jobs(m: String): DataFrame = {
    val df = Sinks.readCsvAllString(spark, s"$data/$m/jobs.csv", JobCols)
    Seq("qtime", "start", "end").foldLeft(df)((d, c) =>
      d.withColumn(c, Sinks.coerce(col(c), "timestamp")))
  }

  private def ingest(m: String, trace: Trace): Unit =
    trace.span("etl.ingest") {
      val fresco = Stage1.withMonthKey(Stage1.unionAll(
        Stage1.block(raw(m, "block")), Stage1.cpu(raw(m, "cpu")),
        Stage1.mem(raw(m, "mem")), Stage1.nfs(raw(m, "llite"))))
      Snapshots.mergeInto(spark, store, fresco, on = Keys.map(k => k -> k),
        notMatched = Seq(Snapshots.WhenNotMatchedInsert(None,
          StoreCols.map(c => c -> Snapshots.src(c)))))
    }

  private def widen(m: String, trace: Trace): String =
    trace.span("etl.widen") {
      val ym = ymOf(m)
      val ts = spark.table(table).where(col("ym") === ym)
      val out = Stage2.withDayKey(Stage2.joinAndWiden(ts, jobs(m)))
      Sinks.writePartitioned(out, s"$sink/ym=$ym", Seq("day"))
      ym
    }

  /** The month a folder holds, as Stage 1's `ym` key (2015_01 = m00). */
  private def ymOf(m: String): String = {
    val i = m.drop(1).toInt
    f"${2015 + i / 12}%d_${1 + i % 12}%02d"
  }

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.fresco", "graft.io.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fresco.warehouse", work)
    Snapshots.createEmpty(spark, store, StoreSchema, partitionBy = Seq("ym"))
    val off = new Trace(spark, enabled = false)
    months.take(Main.WarmUpSteps).foreach { m => ingest(m, off); widen(m, off) }
  }

  def hasNext: Boolean = nextMonth < months.size

  def next(trace: Trace): Step = {
    val m = months(nextMonth)
    nextMonth += 1
    val (ym, s, cpu, jit) = Main.measure { ingest(m, trace); widen(m, trace) }
    done += ym
    Step(s, cpu, jit, Map("month" -> m, "ym" -> ym))
  }

  def observe(): Map[String, Any] = {
    val all = Snapshots.read(spark, store)
    val byYm = all.groupBy("ym").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val distinct = all.select(Keys.map(col): _*).distinct().count()
    val bytes = Snapshots.files(spark, store).agg(sum("bytes"))
      .head().getLong(0)
    val events = Stage2.OutputColumns.map(_._1).filter(_.startsWith("value_"))
    val sinks = done.map { ym =>
      val df = spark.read.parquet(s"$sink/ym=$ym")
      val days = df.groupBy("day").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      val nonNull = df.select(events.map(e => count(col(e)).as(e)): _*)
        .head().getValuesMap[Long](events)
      ym -> Map("days" -> days, "events" -> nonNull)
    }.toMap
    Map("store_rows_by_ym" -> byYm, "store_rows" -> byYm.values.sum,
      "store_distinct_keys" -> distinct, "store_bytes" -> bytes,
      "sinks" -> sinks)
  }
}
