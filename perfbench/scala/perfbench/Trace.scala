package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans opened by the benchmark around its calls into one graft layer.
  *
  * While a span is open, its Spark jobs carry the span's job group, and a
  * SparkListener and a QueryExecutionListener credit their work to it:
  * job intervals, task CPU/GC/run time, input, shuffle, spill, output and
  * peak memory, and the Catalyst phases of every query (analysis,
  * optimization, planning) from `QueryExecution.tracker`. The `file`
  * scheme's operations come from [[CountingLocalFileSystem]]. The bus is
  * drained before a span opens and before it closes, so no event lands in
  * the wrong span. Spans are sequential: the benchmark runs one client.
  *
  * When `enabled` is false, `span` just runs its body: untraced runs
  * register no listener at all.
  */
final class Trace(spark: SparkSession, enabled: Boolean) {

  /** One span instance; counters are summed over its tasks. */
  private final class Span(val id: Int, val name: String) {
    var t0, t1 = 0.0
    val jobs = mutable.ArrayBuffer[(Long, Long)]()
    var planMs = 0.0
    val counters = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  }

  private val sc = spark.sparkContext
  private val closed = mutable.ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var open: Span = _
  private var nextId = 0
  private val GroupPrefix = "perfbench-span-"

  private def nowMs: Double = System.nanoTime() / 1e6 + epochOffsetMs
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix))
      .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toInt)))
      .getOrElse(open)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.putIfAbsent(_, s))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, start) =>
        s.jobs.synchronized { s.jobs += ((start, e.time)) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.counters.synchronized {
        val c = s.counters
        c("cpu_ns") += m.executorCpuTime
        c("gc_ms") += m.jvmGCTime
        c("run_ms") += m.executorRunTime
        c("in_bytes") += m.inputMetrics.bytesRead
        c("in_rows") += m.inputMetrics.recordsRead
        c("shuf_w_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuf_r_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        c("spill_bytes") += m.diskBytesSpilled
        c("out_bytes") += m.outputMetrics.bytesWritten
        c("peak_mem_bytes") =
          math.max(c("peak_mem_bytes"), m.peakExecutionMemory.toDouble)
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    private def credit(qe: QueryExecution): Unit = {
      val s = open
      if (s != null) s.synchronized {
        s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      credit(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = credit(qe)
  }

  if (enabled) {
    sc.addSparkListener(Jobs)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(Queries)
  }

  /** Runs `body` as span `name`. */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    BusDrain(sc)
    nextId += 1
    val s = new Span(nextId, name)
    byId.put(s.id, s)
    val reads0 = CountingLocalFileSystem.reads.get
    val writes0 = CountingLocalFileSystem.writes.get
    open = s
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    s.t0 = nowMs
    try body
    finally {
      s.t1 = nowMs
      BusDrain(sc)
      sc.clearJobGroup()
      open = null
      byId.remove(s.id)
      s.counters("fs_reads") = CountingLocalFileSystem.reads.get - reads0
      s.counters("fs_writes") = CountingLocalFileSystem.writes.get - writes0
      closed += s
    }
  }

  /** Every closed span, as the JSON the report step aggregates. */
  def records: Seq[Map[String, Any]] = closed.toSeq.map { s =>
    Map("name" -> s.name, "t0_ms" -> s.t0, "t1_ms" -> s.t1,
      "jobs_ms" -> s.jobs.toSeq.map { case (a, b) => Seq(a, b) },
      "plan_ms" -> s.planMs) ++ s.counters
  }
}
