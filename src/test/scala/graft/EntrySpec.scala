package graft

/** The driver's flagship smoke contract: entry() returns rows. */
class EntrySpec extends SparkSpec {
  test("flagship entry produces rows with the 22-column contract") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq === graft.etl.Stage2.OutputColumns.map(_._1))
    assert(df.count() > 0)
  }
  test("every query has an oracle (no rows-only gates remain)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle === Set.empty[String],
      s"unexpected oracle-less queries: $noOracle")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans === Set.empty[String],
      s"oracles without a query: $orphans")
  }

  /** (path relative to `src/main/scala`, content) of every main source. */
  private lazy val sources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"run from the repo root: ${root.getAbsolutePath}")
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(root).filter(_.getName.endsWith(".scala"))
      .map(f => root.toPath.relativize(f.toPath).toString ->
        java.nio.file.Files.readString(f.toPath))
  }

  test("only Bench, Verify and PlanDump are entry points, and no engine " +
    "object reads a graft.* system property") {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(\s*\w+\s*:\s*Array\[String\]""".r
    val mains = sources.flatMap { case (_, src) =>
      val prefix = pkg.findFirstMatchIn(src).fold("")(_.group(1) + ".")
      main.findAllMatchIn(src).map { m =>
        prefix + obj.findAllMatchIn(src.take(m.start)).toSeq
          .lastOption.fold("?")(_.group(1))
      }
    }.toSet
    assert(mains === Set("graft.Bench", "graft.Verify", "graft.PlanDump"),
      "a one-off main is back; measure through Bench or perfbench instead")
    // the one allowed read is Bench's own output-path option
    // (Hadoop conf keys such as `conf.getBoolean("graft...")` are
    // per-session configuration, not system properties)
    val propRead = ("""(?:sys\.props|System\.getProperty|""" +
      """Boolean\.getBoolean|Integer\.getInteger|Long\.getLong)""" +
      """[^"\n]*"(graft\.[^"]*)"""").r
    val reads = sources.flatMap { case (rel, src) =>
      propRead.findAllMatchIn(src).map(m => rel -> m.group(1))
    }.toSet
    assert(reads === Set("graft/Bench.scala" -> "graft.bench.out"),
      "engine behaviour must not hang off a JVM-wide system property")
  }

  test("no `.limit(1).count()` emptiness probe in the engine") {
    // a code-generated limit names its counter after a JVM-wide id, so
    // its generated class never repeats and every call compiles anew;
    // `isEmpty` plans a CollectLimit, which is not code-generated
    val probe = """\.limit\(\s*1\s*\)\s*\.count\(\s*\)""".r
    val hits = sources.flatMap { case (rel, src) =>
      probe.findAllMatchIn(src).map(m =>
        s"$rel:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(hits.isEmpty, s"use isEmpty or a plain count: $hits")
  }
}
