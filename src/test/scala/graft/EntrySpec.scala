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

  test("object Snapshots declares no global var beyond its publish " +
    "hooks and the coordinator registry") {
    // members of `object Snapshots` sit at two-space indent; locals
    // and nested objects' members sit deeper
    val topVar = """(?m)^  (?:[\w\[\]@]+\s+)*var\s+(\w+)""".r
    val src = sources.collectFirst {
      case (rel, s) if rel == "graft/io/Snapshots.scala" => s
    }.get
    val vars = topVar.findAllMatchIn(src).map(_.group(1)).toSet
    assert(vars === Set("onBeforePublish", "onBeforeStagedClaim",
      "onBeforePromoteClaim", "coordinators"),
      "a test seam must not live as a global var on the store")
  }

  test("Snapshots writes no file through a DataFrameWriter, and the " +
    "store-write session, its sync and the commit-dir listing are gone") {
    val snapshots = sources.collectFirst {
      case (rel, s) if rel == "graft/io/Snapshots.scala" => s
    }.get
    // `os.write(bytes)` is a stream write; a DataFrameWriter is
    // reached as `.write` with no argument list
    val dfWrite = """\.write\b(?!\s*\()""".r
    val hits = dfWrite.findAllMatchIn(snapshots)
      .map(m => snapshots.take(m.start).count(_ == '\n') + 1).toSeq
    assert(hits.isEmpty, s"Snapshots.scala lines $hits write through a " +
      "DataFrameWriter; commit files through writeBatchFiles")
    val gone = Seq("storeWriteSession", "StoreWritePins", "syncClone",
      "listCommitFiles", "parMapOrdered")
    val back = sources.flatMap { case (rel, src) =>
      gone.filter(src.contains).map(n => s"$rel: $n") }
    assert(back.isEmpty, s"second write path is back: $back")
  }

  test("one batch read route: no V1 opt-out or DML strategy, and the " +
    "public readers reach the anti-join plan only through readWhere") {
    val gone = Seq("spark.graft.snapshot.v2.enabled", "GraftDmlStrategy",
      "prunedEntriesString")
    val back = sources.flatMap { case (rel, src) =>
      (gone.filter(src.contains) ++
        """\bprunedEntries\b""".r.findFirstIn(src)).map(n => s"$rel: $n")
    }
    assert(back.isEmpty, s"second read route is back: $back")
    val snapshots = sources.collectFirst {
      case (rel, s) if rel == "graft/io/Snapshots.scala" => s
    }.get
    // a public member of `object Snapshots` runs from its `def` at
    // two-space indent to the next two-space-indent line
    val member = """(?m)^  def (\w+)\b""".r
    val starts = member.findAllMatchIn(snapshots).toSeq
    val bodies = starts.map { m =>
      val rest = snapshots.substring(m.end)
      val end = """(?m)^  \S""".r.findFirstMatchIn(rest)
        .fold(rest.length)(_.start)
      m.group(1) -> rest.take(end)
    }
    val readers = bodies.filter { case (n, _) =>
      n.startsWith("read") || n == "rowCount" }
    val names = Seq("read", "readAsOf", "readTag", "readStaged",
      "readBetween", "readBetweenStrings", "readEquals", "rowCount")
    assert(names.forall(readers.map(_._1).contains), readers.map(_._1))
    val direct = readers.collect { case (n, b) if Seq("openLive",
      "openEntries", "liveWithId", "entriesRelation").exists(b.contains) => n }
    assert(direct.isEmpty,
      s"public readers opening entries past readWhere: $direct")
    val tvf = sources.collectFirst {
      case (rel, s) if rel == "graft/GraftExtensions.scala" => s
    }.get
    assert(!tvf.contains("entriesRelation"),
      "graft_snapshot() must return the pinned DSv2 relation")
    // the snapshot scan is the only code turning data files into
    // rows: no file index or V1 file relation beside it
    val second = Seq("SnapshotFileIndex", "entriesRelation",
      "HadoopFsRelation", "baseRelationToDataFrame", "_metadata.")
    val stack = sources.filter(_._1.startsWith("graft/")).flatMap {
      case (rel, src) => second.filter(src.contains).map(n => s"$rel: $n")
    }
    assert(stack.isEmpty, s"second read stack is back: $stack")
  }

  test("merge and mergeUpdate are clause sets over mergeInto's engine: " +
    "no scan, join or commit code of their own") {
    val snapshots = sources.collectFirst {
      case (rel, s) if rel == "graft/io/Snapshots.scala" => s
    }.get
    // a member of `object Snapshots` runs from its `def` at two-space
    // indent to the next two-space-indent line
    val member = """(?m)^  (?:private\[graft\] )?def (\w+)\b""".r
    val bodies = member.findAllMatchIn(snapshots).map { m =>
      val rest = snapshots.substring(m.end)
      val end = """(?m)^  \S""".r.findFirstMatchIn(rest)
        .fold(rest.length)(_.start)
      m.group(1) -> rest.take(end)
    }.toSeq
    val wrappers = Seq("merge", "mergeDeleting", "mergeUpdate")
    assert(wrappers.forall(bodies.map(_._1).contains), bodies.map(_._1))
    val own = Seq("openLive", "liveWithId", "discoverAffected",
      "writeCommit", "publishLoop", "writeBatchFiles")
    val hits = bodies.collect { case (n, b) if wrappers.contains(n) =>
      own.filter(b.contains).map(c => s"$n: $c") }.flatten
    assert(hits.isEmpty, s"a merge wrapper holds engine code: $hits")
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
