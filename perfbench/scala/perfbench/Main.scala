package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

/** One timed step of a workload: a month of ETL or one corpus batch.
  * `cpuSeconds` leaves out the JIT compiler's threads, `jitSeconds` is
  * theirs (see [[Main.measure]]). `obs` holds what the step produced, for
  * the checks. */
final case class Step(seconds: Double, cpuSeconds: Double,
                      jitSeconds: Double, obs: Map[String, Any])

/** A workload drives graft's public entry points over generated inputs.
  * `setup()` builds the fixture the timed steps use and runs the first
  * `WarmUpSteps` inputs through the whole pipeline: the first pass runs
  * on a cold JVM, the second lets the JIT catch up, so the timed steps
  * measure a warm pipeline while the warm-up still counts as set-up. */
trait Workload {
  def setup(): Unit
  def hasNext: Boolean
  def next(trace: Trace): Step
  /** Untimed: what the checks need once the timed steps are done. */
  def observe(): Map[String, Any]
}

object Main {
  val WarmUpSteps = 2
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `body`, returning its result, wall seconds, process CPU
    * seconds without the JIT compiler threads, and theirs.
    *
    * The compiler's share is kept apart because it is warm-up: in a month
    * of fresco_etl it falls from about 7 CPU seconds in the first timed
    * month to about 3 four months later, and how much of it lands in one
    * step depends on when the compiler gets to its queue. The rest of the
    * process moves far less: by about a tenth over the same months. */
  def measure[A](body: => A): (A, Double, Double, Double) = {
    val c0 = cpuBean.getProcessCpuTime
    val j0 = compilerCpu()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
    val jit = compilerCpu().map { case (t, c) => c - j0.getOrElse(t, 0.0) }.sum
    (r, wall, cpu - jit, jit)
  }

  /** CPU seconds of each live JIT compiler thread, by thread id, from
    * `/proc/self/task` (Linux; times are in USER_HZ, 100 per second).
    * The runner's JVM keeps its compiler threads for its whole life
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none ends mid-step. */
  private def compilerCpu(): Map[String, Double] =
    new java.io.File("/proc/self/task").list().toSeq.flatMap { t =>
      val stat = try {
        val src = scala.io.Source.fromFile(s"/proc/self/task/$t/stat")
        try Some(src.mkString) finally src.close()
      } catch { case _: java.io.IOException => None }   // thread ended
      stat.filter { s =>
        val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
      }.map { s =>
        // utime and stime: fields 14 and 15, the 12th and 13th after comm
        val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
        t -> (f(11).toLong + f(12).toLong) / 100.0
      }
    }.toMap

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.build("perfbench",
      master = s"local[$cores]", shufflePartitions = cores)
    val w: Workload = a("workload") match {
      case "fresco_etl" => new FrescoEtl(spark, a("data"), a("work"))
      case "corpus_curation" =>
        new CorpusCuration(spark, a("data"), a("work"))
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - procStart) / 1e3
    // a traced run spends its first half untraced, so the report can
    // state the overhead of tracing as the difference between the halves;
    // it runs at least one traced step
    val untraced = new Trace(spark, enabled = false)
    var trace = untraced
    val steps = mutable.ArrayBuffer[Map[String, Any]]()
    var timed = 0.0
    var tracedSteps = 0
    while (w.hasNext && (timed < seconds || traced && tracedSteps == 0)) {
      if (traced && (trace eq untraced) && timed >= seconds / 2)
        trace = new Trace(spark, enabled = true)
      val s = w.next(trace)
      timed += s.seconds
      if (trace ne untraced) tracedSteps += 1
      steps += Map("seconds" -> s.seconds, "cpu_s" -> s.cpuSeconds,
        "jit_cpu_s" -> s.jitSeconds,
        "traced" -> (trace ne untraced)) ++ s.obs
    }
    val obs = w.observe()
    val out = Map(
      "setup_s" -> setupS, "cores" -> cores,
      "steps" -> steps, "observed" -> obs, "peak_rss_mb" -> peakRssMb(),
      "spans" -> trace.records)
    val f = new java.io.PrintWriter(a("out"), "UTF-8")
    try f.write(Json.render(out)) finally f.close()
    spark.stop()
  }
}
