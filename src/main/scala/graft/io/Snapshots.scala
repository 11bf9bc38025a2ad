package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{broadcast, coalesce, col, expr, lit, log, not, pmod, round, when}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType,
  FloatType, IntegerType, LongType, ShortType, StringType, StructType,
  TimestampType}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Snapshot-versioned parquet store: manifest-based time travel,
  * rollback and retention over immutable data files — the minimal
  * table-format posture (what Delta/Iceberg pin down) that a 100 TB
  * deployment needs and a bare parquet directory cannot give:
  *
  *   - **Atomic visibility.** A commit IS the publication of an
  *     immutable manifest listing immutable files — written to a
  *     `_tmp_` sibling and claimed by rename-WITHOUT-overwrite, so a
  *     reader can never observe a half-committed table OR a partial
  *     manifest, and a writer crash at ANY point before the rename
  *     leaves only invisible garbage (data files, a `_tmp_` manifest)
  *     that [[vacuum]] collects.
  *   - **Optimistic concurrency.** Version `v+1` can be claimed by
  *     exactly ONE writer (atomic no-overwrite rename of the manifest
  *     — the HDFS primitive Delta's HDFSLogStore uses; object stores
  *     plug a [[CommitCoordinator]], and unplugged S3-family schemes
  *     REFUSE rather than silently racing). A loser re-reads the
  *     new table state: an APPEND rebases and retries (appends
  *     commute — both writers' rows survive, in either order);
  *     merge / delete / update / compact rebase over APPEND-ONLY
  *     interlopers (WriteSerializable, Delta's default isolation:
  *     the result equals [rewrite, then append], so an hours-long
  *     compaction lands under continuous ingestion) and REFUSE with
  *     `ConcurrentModificationException` when the interloper itself
  *     removed or rewrote files (publishing would drop its changes);
  *     overwrite / replacePartitions always refuse — they define the
  *     table's (or partition's) whole contents, so ANY interleaved
  *     commit contradicts the caller's intent. Streaming ingestion +
  *     scheduled compaction — the standard two-writer deployment —
  *     now BOTH land under exactly this split.
  *   - **Structural sharing.** [[commitAppend]] writes ONLY the new
  *     rows' files; the new manifest lists old files + new files. At
  *     100 TB an append costs the append, never a rewrite, and every
  *     historical snapshot remains readable at zero storage cost
  *     beyond its delta.
  *   - **Time travel & rollback.** [[read]] with a version pins any
  *     committed snapshot (reproducibility: train/eval jobs pin the
  *     corpus version they ran on). [[rollback]] is a new manifest
  *     referencing an old snapshot's files — constant-time, no data
  *     IO, and itself versioned (nothing is lost by rolling back).
  *   - **Partition columns.** [[commit]] with `partitionBy` lays data
  *     out Hive-style (`ym=202403/part-*.parquet`); the partition
  *     values ride IN the manifest entries' relative paths, so a
  *     range scan ([[readBetween]]) prunes whole partitions from the
  *     manifest alone — the month-directory pruning a 100 TB
  *     time-partitioned corpus lives by — before any footer or stats
  *     logic runs.
  *   - **Retention.** [[expire]] drops old manifests; [[vacuum]]
  *     deletes data files no surviving manifest references. Split in
  *     two on purpose: expiry is a metadata decision, physical
  *     deletion is the irreversible one.
  *
  * Layout under `path/`: `data/c-<uuid>/[k=v/]part-*.parquet` (one
  * subdir per commit's write), `_manifests/v%09d.manifest` (one
  * RELATIVE file path per line — the store is relocatable), `_latest`
  * (a monotonic hint of the newest version, for humans and external
  * pollers; the manifest listing is authoritative). Manifests list
  * files, not rows: commit metadata stays O(files-per-commit) however
  * large the table grows.
  */
object Snapshots {

  // v3: line 2 is the snapshot's schema (Spark DataType JSON), line 3
  // the partition spec ("-" = unpartitioned), then the body: marker
  // lines and file entries. Past the shard threshold a full manifest
  // is written as v4 instead (below); no other header is accepted.
  private val Header = "graft-snapshot-v3"

  /** SHARDED manifest header (v4) — the metadata layer's own
    * partition pruning. Past [[shardSize]] entries, a full manifest
    * stops inlining its entry list: entries group by their
    * PARTITION-VALUE tuple ([[shardGroupKey]]; then chunk to
    * `shardSize`), each group writes an immutable, content-addressed
    * SHARD FILE under `_manifests/shards/`, and the manifest body
    * carries one `#shard=<file>|<count>|<pseudo-entry>` line per
    * shard — where the pseudo-entry is an entry-SHAPED line
    * (`<k=v tuple>/_` + merged min/max/null/rows stats over the
    * shard's members) the existing prune predicates evaluate
    * directly. Scan planning then proves whole-shard skips BEFORE
    * reading any entry: a point lookup on a million-file table costs
    * O(shards) driver CPU + O(matching shards) memory, not
    * O(files) — the same month-windowing the reference applies to
    * data (conte-etl-step-2-manager.py:817-821), applied to the
    * metadata itself. Shard files are REUSED across commits
    * ([[renderV4]]): an unchanged group's refs carry over verbatim
    * and an appended-to group reuses its prior shards plus a tail
    * shard for just the fresh entries, so commit-time metadata IO
    * stays O(delta). A table crossing the threshold switches
    * encodings transparently.
    */
  private val HeaderV4 = "graft-snapshot-v4"
  private val ShardHeader = "graft-snapshot-shard-1"

  /** One shard reference parsed from a v4 manifest: the shard file
    * name (under `_manifests/shards/`), its entry count, and the
    * pseudo-entry the prune predicates test for whole-shard skips.
    */
  private[graft] final case class ShardRef(file: String, count: Int,
                                           pseudo: String)

  /** Entries per shard block; a full manifest shards when it holds
    * at least two blocks' worth. Deployment knob
    * `graft.snapshot.manifestShardSize` (Hadoop conf, fixed at
    * FileSystem creation); the accessor pair below is the test
    * seam — THREAD-LOCAL (inheritable), so gates/specs running on a
    * parallel runner can't race each other's set/restore windows.
    */
  private val shardSizeOverrideTl =
    new InheritableThreadLocal[Option[Int]] {
      override def initialValue(): Option[Int] = None
    }
  private[graft] def shardSizeOverride: Option[Int] =
    shardSizeOverrideTl.get()
  private[graft] def shardSizeOverride_=(v: Option[Int]): Unit =
    shardSizeOverrideTl.set(v)
  private def shardSize(f: FileSystem): Int = {
    val s = shardSizeOverride.getOrElse(
      f.getConf.getInt("graft.snapshot.manifestShardSize", 1024))
    require(s >= 1, s"snapshot: manifestShardSize must be >= 1: $s")
    s
  }

  /** Max shards one directory group may accrete (append-reused
    * shards + tail shards) before a commit re-chunks the group
    * inline; [[reshard]]/[[maintain]] heal lazily below this hard
    * bound. Bounds per-dir planning fan-out AND per-append write
    * amplification: amortized, each entry is rewritten into a shard
    * O(1) times per fanout-window instead of once per commit.
    */
  private def shardFanout(f: FileSystem): Int = {
    val s = f.getConf.getInt("graft.snapshot.manifestShardFanout", 64)
    require(s >= 2, s"snapshot: manifestShardFanout must be >= 2: $s")
    s
  }

  /** Observability counters for shard-level pruning (gates/specs
    * assert skips actually happen): a prune DESCENDING into a shard
    * (loading its entries) bumps `shardsLoaded`; a whole-shard skip
    * proven from the pseudo-entry alone bumps `shardsSkipped`.
    */
  private[graft] val shardsLoaded =
    new java.util.concurrent.atomic.AtomicLong
  private[graft] val shardsSkipped =
    new java.util.concurrent.atomic.AtomicLong

  private def shardPath(base: String, name: String): Path =
    new Path(s"$base/_manifests/shards/$name")

  /** Parsed-shard LRU (shard files are immutable and content-named;
    * 256 shards ≈ a few hundred thousand cached entry lines max).
    */
  private val shardCache =
    new java.util.LinkedHashMap[String, Seq[String]](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[String]]): Boolean =
        size() > 256
    }

  private def loadShard(f: FileSystem, base: String, name: String)
      : Seq[String] = {
    val key = f.makeQualified(shardPath(base, name)).toString
    shardCache.synchronized {
      val hit = shardCache.get(key)
      if (hit != null) return hit
    }
    val lines = readLines(f, shardPath(base, name))
    require(lines.headOption.contains(ShardHeader),
      s"snapshot: $name is not a graft shard file")
    val entries = lines.drop(1).filter(_.nonEmpty)
    shardCache.synchronized { shardCache.put(key, entries) }
    entries
  }

  /** Write one shard block, content-addressed: identical content →
    * identical name → the write is skipped (this is what makes an
    * append's untouched directory groups free). A racing identical
    * writer is benign for the same reason — whoever wins the rename
    * wrote the same bytes.
    */
  private def writeShardFile(f: FileSystem, base: String,
                             entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val digest = md.digest(entries.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(10).map(b => f"$b%02x").mkString
    val name = s"s-$digest-${entries.size}.shard"
    val target = shardPath(base, name)
    if (!f.exists(target)) {
      f.mkdirs(target.getParent)
      val tmp = new Path(target.getParent,
        s"_tmp_${java.util.UUID.randomUUID()}_$name")
      val os = f.create(tmp, false)
      try os.write(((ShardHeader +: entries) :+ "").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      try org.apache.hadoop.fs.FileContext
        .getFileContext(target.toUri, f.getConf).rename(tmp, target)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false) // identical content already landed
        case e: java.io.IOException =>
          val landed = f.exists(target)
          f.delete(tmp, false)
          if (!landed) throw e
      }
    }
    name
  }

  /** The directory group key of one entry line (everything up to the
    * file name) — shard grouping is per partition directory, so a
    * shard's pseudo-entry carries the group's exact `k=v` values and
    * the dir-based prune predicates apply to it verbatim.
    */
  private def dirKeyOf(entryLine: String): String = {
    val rel = relOf(entryLine)
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** The shard-grouping key of one entry (or pseudo-entry) line: the
    * PARTITION-VALUE tuple — the `k=v` path segments in path order,
    * physical prefixes (`data/c-<uuid>`) dropped. Grouping by tuple
    * rather than physical directory lets appends LAND IN the same
    * group as prior commits' files for the same partition (each
    * commit writes under a fresh uuid dir, so physical dirs never
    * repeat): the group's prior shards reuse verbatim and only a
    * tail shard writes, and an unpartitioned table converges to
    * ceil(files/shardSize) shards instead of one-plus per commit.
    * Sound for every pseudo consumer because all of them read the
    * pseudo rel through [[partValsOf]]/stat grammar — and a group's
    * members share EXACTLY the tuple the pseudo carries, same as
    * the per-dir invariant before. Old per-dir refs key to the same
    * tuple (their `k=v` chain is a suffix), so pre-tuple manifests
    * migrate through the ordinary append-reuse path.
    */
  private def shardGroupKey(entryLine: String): String = {
    val rel = relOf(entryLine)
    val i = rel.lastIndexOf('/')
    if (i < 0) ""
    else rel.substring(0, i).split('/')
      .filter(_.contains('=')).mkString("/")
  }

  /** Merge member entries' stat suffixes into the shard's
    * pseudo-stats — every merged stat is a SOUND whole-shard bound
    * (true for some member ⇒ true for the merge), and a (column,
    * kind) absent from ANY member is dropped (unknown keeps, the
    * prune-only-on-proof posture). Bounds kinds (L/U min-of-min,
    * max-of-max as exact longs; D doubles; T byte bounds, always
    * serialized inexact) merge as ranges; the additive pseudo-stats
    * (`__rows`, `__len`, 'N' null counts) SUM — which keeps the
    * all-null shard proof (`nulls == rows`) exact. Sketch kinds
    * (V/Q/B) don't merge here: per-file consumers descend anyway.
    */
  private def mergeShardStats(entries: Seq[String]): String = {
    type K = (String, Char)
    def partsOf(e: String): Map[K, (String, String)] = {
      val i = e.indexOf('\t')
      if (i < 0) Map.empty
      else e.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
        .flatMap { part =>
          part.split(':') match {
            case Array(n, k, a, b)
                if k.length == 1 && "LDUTN".contains(k) =>
              Some((n, k.head) -> ((a, b)))
            case _ => None
          }
        }.toMap
    }
    val maps = entries.map(partsOf)
    if (maps.exists(_.isEmpty)) return ""
    val shared = maps.map(_.keySet).reduce(_ intersect _)
    def hexOf(s: String): Array[Byte] =
      s.stripSuffix("~").sliding(2, 2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
    def hexStr(b: Array[Byte]): String =
      b.map(x => f"$x%02x").mkString
    shared.toSeq.sortBy(k => (k._1, k._2)).flatMap { case (n, k) =>
      val vs = maps.map(_((n, k)))
      k match {
        case 'L' | 'U' if n == RowsStat || n == LenStat =>
          val s = vs.map(_._1.toLong).sum
          Some(s"$n:$k:$s:$s")
        case 'L' | 'U' =>
          scala.util.Try {
            val lo = vs.map(_._1.toLong).min
            val hi = vs.map(_._2.toLong).max
            s"$n:$k:$lo:$hi"
          }.toOption
        case 'D' =>
          scala.util.Try {
            val lo = vs.map(_._1.toDouble).min
            val hi = vs.map(_._2.toDouble).max
            if (lo.isNaN || hi.isNaN) throw new NumberFormatException
            s"$n:$k:$lo:$hi"
          }.toOption
        case 'N' =>
          scala.util.Try {
            val s = vs.map(_._1.toLong).sum
            s"$n:N:$s:$s"
          }.toOption
        case 'T' =>
          scala.util.Try {
            val lo = vs.map(v => hexOf(v._1))
              .reduce((a, b) => if (bytesCompare(a, b) <= 0) a else b)
            // any unbounded member ('*') leaves the shard unbounded
            val hi =
              if (vs.exists(_._2 == "*")) "*"
              else hexStr(vs.map(v => hexOf(v._2))
                .reduce((a, b) =>
                  if (bytesCompare(a, b) >= 0) a else b)) + "~"
            // always inexact ('~'): shard bounds prune, never answer
            s"$n:T:${hexStr(lo)}~:$hi"
          }.toOption
        case _ => None
      }
    }.mkString(";")
  }

  /** Encode a full v3 rendering as a v4 SHARDED manifest: write (or
    * reuse) the shard files, return the v4 lines.
    *
    * Commit-time metadata IO scales with the DELTA, not the group:
    * a directory whose prior shards are a strict subset of its new
    * entries (a pure append) reuses every prior shard line VERBATIM
    * and writes only tail shard(s) for the fresh entries — at a
    * million files per partition a small append writes one shard,
    * not ~a thousand. An unchanged group reuses verbatim too (no
    * re-hash). The price is ACCRETION: repeated small appends grow
    * sub-size tail shards per directory, so past
    * `graft.snapshot.manifestShardFanout` shards in one directory
    * the group re-chunks inline (sorted, `sSize`-sized — the
    * canonical layout), and [[reshard]] / [[maintain]] heal lazily
    * below that bound. Any non-append change to a group (compact,
    * delete, rewrite) re-chunks it outright, so removals
    * self-heal. Reused pseudo-stats stay sound because the member
    * entries they bound are byte-identical.
    */
  private def renderV4(f: FileSystem, base: String,
                       fullLines: Seq[String], sSize: Int,
                       prevRefs: Seq[ShardRef] = Nil,
                       forceRechunk: Boolean = false)
      : Seq[String] = {
    val body = fullLines.drop(3).filter(_.nonEmpty)
    val markers = body.filter(_.startsWith("#"))
    val entryLines = body.filterNot(_.startsWith("#"))
    val fanout = shardFanout(f)
    val prevByDir: Map[String, Seq[ShardRef]] =
      if (forceRechunk) Map.empty
      else prevRefs.groupBy(r => shardGroupKey(r.pseudo))
    def chunkLines(dir: String, es: Seq[String]): Seq[String] =
      es.grouped(sSize).map { chunk =>
        val file = writeShardFile(f, base, chunk)
        val stats = mergeShardStats(chunk)
        val pseudo = (if (dir.isEmpty) "_" else s"$dir/_") +
          (if (stats.isEmpty) "" else s"\t$stats")
        s"#shard=$file|${chunk.size}|$pseudo"
      }.toSeq
    def refLine(r: ShardRef): String =
      s"#shard=${r.file}|${r.count}|${r.pseudo}"
    val shardLines = entryLines.groupBy(shardGroupKey).toSeq
      .sortBy(_._1)
      .flatMap { case (dir, es) =>
        def rechunk = chunkLines(dir, es.sorted)
        val prior = prevByDir.getOrElse(dir, Nil)
        if (prior.isEmpty || prior.size >= fanout) rechunk
        else {
          val priorEntries =
            prior.flatMap(r => loadShard(f, base, r.file))
          val priorSet = priorEntries.toSet
          if (priorSet.size != priorEntries.size) rechunk
          else if (priorSet.size == es.size && es.forall(priorSet))
            prior.map(refLine) // unchanged group: free
          else if (es.size > priorSet.size && {
            val newSet = es.toSet
            priorEntries.forall(newSet)
          }) // pure append: prior shards verbatim + fresh tail(s)
            prior.map(refLine) ++
              chunkLines(dir, es.filterNot(priorSet).sorted)
          else rechunk // removal / rewrite: re-chunk, heals accretion
        }
      }
    Seq(HeaderV4, fullLines(1), fullLines(2)) ++ markers ++ shardLines
  }

  /** Total entry count without forcing a sharded manifest's lazy
    * entry list. */
  private def entryCountOf(m: SnapManifest): Int =
    if (m.shardRefs.nonEmpty) m.shardRefs.map(_.count).sum
    else m.entries.size

  /** The prune-candidate entries for a per-entry predicate `keep`:
    * sharded manifests test each shard's pseudo-entry first and load
    * only the shards the predicate cannot disprove — the whole-shard
    * skip that keeps point-lookup planning O(shards). Sound because
    * every pseudo-stat is a merged bound (member-true ⇒ pseudo-true)
    * and every pseudo dir value is group-exact; callers still apply
    * `keep` per entry afterwards.
    */
  private def pruneCandidates(f: FileSystem, base: String,
                              m: SnapManifest)
                             (keep: String => Boolean): Seq[String] =
    if (m.shardRefs.isEmpty) m.entries
    else m.shardRefs.flatMap { sr =>
      if (keep(sr.pseudo)) {
        shardsLoaded.incrementAndGet()
        loadShard(f, base, sr.file)
      } else {
        shardsSkipped.incrementAndGet()
        Nil
      }
    }

  /** Shard refs of a committed version (empty for v3 manifests) —
    * for the DSv2 scan builder's shard-aware planning. */
  private[graft] def shardRefsAt(spark: SparkSession, path: String,
                                 v: Long): Seq[ShardRef] =
    manifest(fs(spark, path), path, v).shardRefs

  /** Load exactly the shards a ref-level predicate keeps — the scan
    * builder's counted descend/skip primitive. */
  private[graft] def loadWhere(spark: SparkSession, path: String,
                               refs: Seq[ShardRef],
                               keepRef: ShardRef => Boolean)
      : Seq[String] = {
    val f = fs(spark, path)
    refs.flatMap { sr =>
      if (keepRef(sr)) {
        shardsLoaded.incrementAndGet()
        loadShard(f, path, sr.file)
      } else {
        shardsSkipped.incrementAndGet()
        Nil
      }
    }
  }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** A session CLONE pinned to UTC for the 1-row derive plans and the
    * write's directory-value expressions, so prune-time directory
    * bounds are computed under the SAME zone the write-time layout
    * used — a reader or writer session in any tz agrees with the
    * layout. Clones share the parent's SparkContext.
    *
    * MIGRATION NOTE: tables whose time-transform / identity-
    * timestamp directories were written by a pre-UTC-pinning embed
    * under a non-UTC session tz have directory names derived under
    * that zone; the UTC reader could mis-prune them. New commits
    * stamp `graft.layout.timezone=UTC` as a table property; readers
    * DISABLE directory-derivation pruning when the property is
    * present and names a different zone (correct, just unpruned) —
    * re-layout (compact) such tables to restore pruning.
    */
  // derive plans are HOT (per prune) so the clone is cached — but
  // weak-keyed, so short-lived parent sessions are not leaked. Only
  // the pinned timeZone matters to a 1-row local plan, so the
  // first-use conf snapshot is harmless here.
  private val utcDeriveSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  private[graft] def utcDeriveSession(spark: SparkSession): SparkSession =
    if (spark.conf.get("spark.sql.session.timeZone", "") == "UTC") spark
    else utcDeriveSessions.synchronized {
      utcDeriveSessions.computeIfAbsent(spark, s =>
        org.apache.spark.sql.graft.Bridge.cloneWithConf(s,
          "spark.sql.session.timeZone" -> "UTC"))
    }

  /** Table property recording the session zone directory layouts
    * were derived under. Commits stamp "UTC" (the pinned write
    * zone) when absent; absent on read means a legacy table,
    * ASSUMED UTC (this repo's writers always pinned UTC — external
    * embedders migrating a non-UTC-derived layout must set the
    * property, which turns OFF tz-sensitive directory pruning:
    * correct results, just unpruned, until a re-layout). */
  private[graft] val LayoutTzProp = "graft.layout.timezone"

  /** Is a derived directory value trustworthy for pruning under the
    * UTC derive session? False only when the table declares a
    * NON-UTC layout zone AND the field's derivation is tz-sensitive
    * (time transforms; identity/truncate over session-tz
    * timestamps — their dir strings depend on the writer zone;
    * buckets hash internal micros and integer/string identities
    * cast zone-free). */
  private def dirDeriveTrusted(props: Map[String, String],
                               fld: PartField, dt: DataType): Boolean =
    props.getOrElse(LayoutTzProp, "UTC") == "UTC" || {
      val tzSensitive = fld.isInstanceOf[PTime] ||
        (dt == org.apache.spark.sql.types.TimestampType &&
          !fld.isInstanceOf[PBucket])
      !tzSensitive
    }

  private def manifestPath(base: String, v: Long) =
    new Path(f"$base/_manifests/v$v%09d.manifest")

  /** Per-store in-JVM commit monitor: serializes the exists-check +
    * exclusive create on filesystems whose `create(overwrite=false)`
    * is not atomic (the local FS); on HDFS the create itself is the
    * atomic claim and the monitor is merely belt-and-braces for
    * same-JVM writers.
    */
  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // keyed by the QUALIFIED URI, not the raw string: '/tbl', '/tbl/'
  // and 'file:///tbl' must share one monitor or the in-JVM
  // serialization the local-FS claim relies on silently splits
  private def monitorFor(f: FileSystem, base: String): Object =
    commitMonitors.computeIfAbsent(
      f.makeQualified(new Path(base)).toUri.toString.stripSuffix("/"),
      _ => new Object)

  /** Test seam: invoked after a mutation's data files are written but
    * before its first manifest-publish attempt — the window where a
    * concurrent commit can land. Specs use it to interleave a second
    * committer deterministically; production never touches it.
    */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** Test seam: invoked inside [[publishStaged]]'s monitor-held
    * commit window (after the staged-manifest existence check, before
    * the claim). Specs use it to prove a racing [[dropStaged]] blocks
    * on the monitor instead of deleting files mid-publish. */
  private[graft] var onBeforeStagedClaim: () => Unit = () => ()

  /** Test seam: invoked inside [[fastForward]]'s monitor-held window
    * after the branch's commit dirs moved but before the version
    * claim — the cross-process race the compensation path undoes. */
  private[graft] var onBeforePromoteClaim: () => Unit = () => ()

  private def writeTextAtomic(f: FileSystem, target: Path,
                              lines: Seq[String]): Unit = {
    val tmp = new Path(target.getParent, s"_tmp_${target.getName}")
    val os = f.create(tmp, true)
    try os.write((lines :+ "").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    // FileSystem.rename refuses an existing destination; the hint
    // swap must REPLACE _latest atomically, which is exactly
    // FileContext's Rename.OVERWRITE
    try org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, f.getConf).rename(tmp, target,
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch { case e: java.io.IOException =>
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"snapshot: cannot activate ${target.getName}", e)
    }
  }

  /** The atomic claim-a-version primitive, extracted as a seam so
    * deployments can substitute a coordination service where the
    * filesystem has none (the Delta LogStore posture: HDFS renames,
    * S3 needs DynamoDB/conditional-PUT coordination). An
    * implementation MUST be all-or-nothing: after `tryClaim` returns,
    * `target` either holds the complete manifest bytes (true) or was
    * already claimed by another writer and is untouched (false) — a
    * reader may never observe a partial manifest at `target`.
    */
  trait CommitCoordinator {
    def tryClaim(f: FileSystem, target: Path, lines: Seq[String]): Boolean
  }

  /** Default coordinator: write the manifest to a uniquely-named
    * `_tmp_` sibling, then claim the version with a rename WITHOUT
    * overwrite (the Delta HDFSLogStore pattern). The manifest appears
    * fully-written or not at all — a writer crash leaves only a
    * `_tmp_` file ([[vacuum]] sweeps aged ones), never a corrupt
    * manifest wedging readers at the newest version. The rename is
    * atomic on HDFS/ABFS; on the local FS the no-overwrite check is
    * check-then-act (covered in-JVM by the commit monitor), and on
    * S3-family schemes it is NOT safe at all — those refuse below.
    */
  object RenameCommitCoordinator extends CommitCoordinator {
    def tryClaim(f: FileSystem, target: Path, lines: Seq[String]): Boolean = {
      val tmp = new Path(target.getParent,
        s"_tmp_${java.util.UUID.randomUUID()}_${target.getName}")
      val os = f.create(tmp, false)
      try os.write((lines :+ "").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(target.toUri, f.getConf).rename(tmp, target)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
        case e: java.io.IOException =>
          // some AbstractFileSystems wrap the lost-claim failure —
          // resolve by re-checking the target before propagating
          val lost = f.exists(target)
          f.delete(tmp, false)
          if (lost) false else throw e
      }
    }
  }

  /** Schemes whose `FileSystem` is KNOWN to give an atomic
    * rename-without-overwrite (HDFS; ADLS gen2 through abfs; the
    * local FS, whose narrow check-then-act window the in-JVM commit
    * monitor covers for same-process writers). This is an ALLOWLIST
    * on purpose: object stores (s3/s3a/gs/oss/...) implement rename
    * as copy+delete with no conditional semantics — two cross-process
    * writers could both claim one version and silently lose a commit
    * — and an unknown scheme must be presumed unsafe, not safe.
    * Anything off the list REFUSES unless a [[CommitCoordinator]] is
    * registered for the scheme or the deployment explicitly accepts
    * single-writer operation
    * (`graft.snapshot.unsafeSingleWriter=true` in the Hadoop conf,
    * i.e. `spark.hadoop.` prefixed in Spark conf).
    */
  private[graft] val SafeCommitSchemes =
    Set("hdfs", "file", "viewfs", "abfs", "abfss")

  private[graft] def requireSafeCommitScheme(
      scheme: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    require(
      SafeCommitSchemes.contains(scheme.toLowerCase) ||
        conf.getBoolean("graft.snapshot.unsafeSingleWriter", false),
      s"snapshot: scheme '$scheme' is not known to provide an atomic " +
        "rename-without-overwrite - concurrent writers could both " +
        "claim a version and silently lose a commit; register a " +
        "CommitCoordinator for the scheme " +
        "(Snapshots.registerCommitCoordinator) or, for a guaranteed " +
        "single writer, set graft.snapshot.unsafeSingleWriter=true " +
        "in the Hadoop conf")

  @volatile private var coordinators = Map.empty[String, CommitCoordinator]

  /** Plug a commit coordinator for a filesystem scheme (e.g. an
    * external-lock or conditional-PUT implementation for `s3a`).
    * Registering one lifts the unsafe-scheme refusal for that scheme.
    */
  def registerCommitCoordinator(scheme: String,
                                c: CommitCoordinator): Unit =
    coordinators = coordinators.updated(scheme.toLowerCase, c)

  /** Remove a registered coordinator (tests). */
  def unregisterCommitCoordinator(scheme: String): Unit =
    coordinators = coordinators - scheme.toLowerCase

  /** Claim version `v` of the store at `base` — the commit point.
    * Returns false when another writer already holds the version (the
    * optimistic-concurrency conflict signal). Delegates to the
    * scheme's registered [[CommitCoordinator]], or the default
    * tmp+rename claim after the unsafe-scheme check.
    */
  private def tryPublishManifest(f: FileSystem, base: String, v: Long,
                                 lines: Seq[String]): Boolean =
    monitorFor(f, base).synchronized {
      val target = manifestPath(base, v)
      f.mkdirs(target.getParent)
      if (f.exists(target)) false
      else {
        val out = renderForPublish(f, base, v, lines)
        val scheme = Option(f.getUri.getScheme).getOrElse("file")
        coordinators.get(scheme.toLowerCase) match {
          case Some(c) => c.tryClaim(f, target, out)
          case None =>
            requireSafeCommitScheme(scheme, f.getConf)
            RenameCommitCoordinator.tryClaim(f, target, out)
        }
      }
    }

  /** Choose the on-disk encoding for version `v`: the inline v3
    * manifest, or the SHARDED v4 one past the shard threshold, where
    * both the commit (only changed directory groups rewrite their
    * shards) and the read (shard-level pruning) stay O(shards); a
    * huge CTAS shards its very first manifest. Lines that are not v3
    * (rollback's verbatim republish of a v4 manifest) pass through
    * untouched.
    */
  private def renderForPublish(f: FileSystem, base: String, v: Long,
                               lines: Seq[String]): Seq[String] = {
    val sSize = shardSize(f)
    if (!lines.headOption.contains(Header) ||
        lines.drop(3).count(l => l.nonEmpty && !l.startsWith("#")) <
          sSize * 2) lines
    else {
      // prior version's shard refs feed the append-reuse fast path
      // (refs parse eagerly; entries stay lazy — only groups that
      // CHANGED load their prior shards, from the LRU if warm)
      val prevRefs =
        if (v <= 1L) Nil
        else
          try manifest(f, base, v - 1L).shardRefs
          catch { case _: IllegalArgumentException => Nil }
      renderV4(f, base, lines, sSize, prevRefs)
    }
  }

  /** Advance the `_latest` hint monotonically — per JVM (the
    * monitor); two winners in DIFFERENT processes can interleave and
    * leave the hint lagging one commit until the next bump. The hint
    * is advisory by contract: the manifest listing is authoritative,
    * and the hint may lag, never lead.
    */
  private def bumpLatestHint(f: FileSystem, base: String, v: Long): Unit =
    monitorFor(f, base).synchronized {
      val p = new Path(s"$base/_latest")
      val cur =
        if (!f.exists(p)) 0L
        else scala.util.Try(
          readLines(f, p).head.trim.toLong).getOrElse(0L)
      if (v > cur) writeTextAtomic(f, p, Seq(v.toString))
    }

  private def readLines(f: FileSystem, p: Path): Seq[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** A manifest FILE ENTRY is `relpath` optionally followed by a TAB
    * and the file's column statistics
    * (`col:T:min:max;...`, T ∈ {L,D}) — collected from the parquet
    * footer once at commit time and carried VERBATIM whenever the
    * file itself is carried, so stats are written once per file ever.
    */
  private def relOf(entry: String): String = entry.takeWhile(_ != '\t')

  /** Entry → relative path, for [[SnapshotBatchScan]]. */
  private[graft] def relOfEntry(entry: String): String = relOf(entry)

  /** A manifest entry path that points OUTSIDE this store — a
    * [[cloneTable shallow clone]]'s reference into its source table,
    * stored as a fully-qualified URI. Everything metadata-shaped
    * (stats, partition dirs, byte lengths) rides in the entry string
    * itself, so foreign entries plan exactly like local ones; only
    * row-identity operations (positional deletes, rewrite discovery)
    * need store-relative paths and refuse until [[compact]]
    * localizes the files.
    */
  private[graft] def isForeignRel(rel: String): Boolean =
    // ":/" not "://" - Hadoop renders local-FS URIs as `file:/tmp/x`.
    // Store-relative paths can never contain it: partition-dir values
    // are Hive-escaped ('%3A' for ':'), and commit dirs are uuids
    rel.contains(":/")

  /** Resolve an entry's file under the store base — foreign
    * (shallow-clone) entries resolve to themselves. */
  private[graft] def entryFilePath(base: String, rel: String): Path =
    if (isForeignRel(rel)) new Path(rel) else new Path(s"$base/$rel")

  private def requireLocalEntries(entries: Seq[String], path: String,
                                  op: String): Unit = {
    val foreign = entries.map(relOf).filter(isForeignRel)
    require(foreign.isEmpty,
      s"snapshot: cannot $op $path while it holds ${foreign.size} " +
        "shallow-clone file reference(s) - row-level mutation " +
        "identity is store-relative; run compact() to localize the " +
        "clone first")
  }

  /** Parsed numeric column ranges of a manifest entry: name →
    * (min, max) as doubles (longs widened — exact below 2^53, the
    * documented pruning domain). Absent column ⇒ no stats ⇒ the file
    * can never be pruned on it.
    */
  private[graft] def statsOf(entry: String): Map[String, (Double, Double)] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "L", mn, mx) =>
            Some(name -> (mn.toLong.toDouble, mx.toLong.toDouble))
          case Array(name, "D", mn, mx) =>
            Some(name -> (mn.toDouble, mx.toDouble))
          case _ => None
        }
      }.toMap
  }

  /** TIMESTAMP(MICROS) bounds of an entry ('U' kind): name →
    * (min, max) micros since epoch — the timestamp range-pruning
    * domain ([[boundKeepFn]] coerces literals to the same
    * unit). Kept apart from 'L': the unit belongs to the write-time
    * parquet annotation, and only MICROS files commit it. */
  private[graft] def tsStatsOf(entry: String): Map[String, (Long, Long)] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "U", mn, mx) =>
            Some(name -> (mn.toLong, mx.toLong))
          case _ => None
        }
      }.toMap
  }

  /** Exact integral (kind 'L') stats of an entry: name → (min, max)
    * as LONGS — the aggregate-pushdown domain, where [[statsOf]]'s
    * double widening would lose exactness past 2^53. */
  private[graft] def longStatsOf(entry: String): Map[String, (Long, Long)] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "L", mn, mx) =>
            Some(name -> (mn.toLong, mx.toLong))
          case _ => None
        }
      }.toMap
  }

  /** Hive-style partition values encoded in an entry's relative path
    * (`data/c-<uuid>/ym=202403/part-0.parquet` → `ym -> 202403`).
    * Values are unescaped with Spark's own partition-path escaping.
    */
  /** A partition-spec field — identity (the classic Hive column) or
    * a HIDDEN transform (Iceberg's headline feature): `years(ts)` /
    * `months(ts)` / `days(ts)` / `hours(ts)`, `bucket(n, col)`,
    * `truncate(w, col)`. Transform fields derive a directory value
    * from a SOURCE column at write time; the source column itself
    * stays in the data files (unlike identity partitioning, which
    * moves the column into the directory name), so reads need no
    * path reconstruction and footer stats on the source keep
    * working — the directories buy physical clustering plus
    * manifest-level pruning ([[readEquals]] for bucket point
    * lookups) without the user ever materializing a derived column.
    *
    * Stored form is comma-free (`bucket16(col)`, `truncate4(col)`)
    * because the manifest's partition line joins fields with ',';
    * [[parsePartField]] also accepts the friendly `bucket(16, col)`
    * spelling and normalizes. `source` is a PHYSICAL column name,
    * like every manifest-stored name.
    */
  private[graft] sealed trait PartField {
    def spec: String
    def source: String
    /** Directory key (and the transient write column). */
    def dirName: String
    /** Derived dir value from the source column; identity passes
      * through. `dt` = the source's type (truncate is type-directed).
      */
    def derive(c: Column, dt: DataType): Column
  }
  private[graft] final case class PIdentity(source: String)
      extends PartField {
    def spec: String = source
    def dirName: String = source
    def derive(c: Column, dt: DataType): Column = c
  }
  private[graft] final case class PTime(kind: String, source: String)
      extends PartField {
    def spec: String = s"$kind($source)"
    def dirName: String = s"${source}_${kind.dropRight(1)}"
    def derive(c: Column, dt: DataType): Column = {
      import org.apache.spark.sql.functions.{dayofmonth, hour, month, year}
      kind match {
        case "years" => year(c)
        case "months" => year(c) * 100 + month(c)
        case "days" =>
          year(c) * 10000 + month(c) * 100 + dayofmonth(c)
        case "hours" =>
          (year(c).cast("long") * 1000000L + month(c) * 10000L +
            dayofmonth(c) * 100L + hour(c))
      }
    }
  }
  private[graft] final case class PBucket(n: Int, source: String)
      extends PartField {
    def spec: String = s"bucket$n($source)"
    def dirName: String = s"${source}_bucket"
    def derive(c: Column, dt: DataType): Column =
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(c), lit(n)).cast("int")
  }
  private[graft] final case class PTruncate(w: Int, source: String)
      extends PartField {
    def spec: String = s"truncate$w($source)"
    def dirName: String = s"${source}_trunc"
    def derive(c: Column, dt: DataType): Column = dt match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.functions.substring(c, 1, w)
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        // Iceberg's rule: v - (((v % W) + W) % W) — floors toward
        // negative infinity, so ranges stay monotonic
        c - org.apache.spark.sql.functions.pmod(c, lit(w))
      case other => throw new IllegalArgumentException(
        s"snapshot: truncate($w) partitioning needs a string or " +
          s"integral column; $source is ${other.catalogString}")
    }
  }

  private val TimeSpecRe = "^(years|months|days|hours)\\((\\w+)\\)$".r
  private val BucketSpecRe = "^bucket(\\d+)\\((\\w+)\\)$".r
  private val BucketFriendlyRe = "^bucket\\((\\d+)\\s*,\\s*(\\w+)\\)$".r
  private val TruncSpecRe = "^truncate(\\d+)\\((\\w+)\\)$".r
  private val TruncFriendlyRe = "^truncate\\((\\d+)\\s*,\\s*(\\w+)\\)$".r

  private[graft] def parsePartField(s: String): PartField = s match {
    case TimeSpecRe(kind, src) => PTime(kind, src)
    case BucketSpecRe(n, src) => PBucket(n.toInt, src)
    case BucketFriendlyRe(n, src) => PBucket(n.toInt, src)
    case TruncSpecRe(w, src) => PTruncate(w.toInt, src)
    case TruncFriendlyRe(w, src) => PTruncate(w.toInt, src)
    case other =>
      require(!other.contains('(') && !other.contains(')'),
        s"snapshot: unrecognized partition transform '$other' - " +
          "supported: col, years(col), months(col), days(col), " +
          "hours(col), bucket(n, col), truncate(w, col)")
      PIdentity(other)
  }

  private[graft] def normalizePartSpecs(specs: Seq[String])
      : Seq[String] = {
    val fields = specs.map(parsePartField)
    (fields.collect { case PBucket(n, _) => n } ++
      fields.collect { case PTruncate(w, _) => w }).foreach(n =>
        require(n > 0, s"snapshot: transform width/bucket count " +
          s"must be positive, got $n"))
    val dup = fields.map(_.dirName).diff(fields.map(_.dirName).distinct)
    require(dup.isEmpty, "snapshot: partition fields collide on " +
      s"directory name(s) ${dup.distinct.mkString(", ")}")
    fields.map(_.spec)
  }

  /** Manifest partition specs with each field's PHYSICAL source name
    * replaced by its logical name under `colMap` — what a SQL-facing
    * surface reports or re-submits against the logical table.
    */
  private[graft] def logicalPartSpecs(partCols: Seq[String],
                                      colMap: Map[String, String])
      : Seq[String] =
    partCols.map(parsePartField).map {
      case PIdentity(s) => PIdentity(colMap.getOrElse(s, s)).spec
      case PTime(k, s) => PTime(k, colMap.getOrElse(s, s)).spec
      case PBucket(n, s) => PBucket(n, colMap.getOrElse(s, s)).spec
      case PTruncate(w, s) => PTruncate(w, colMap.getOrElse(s, s)).spec
    }

  /** A derived directory value as the writer names its directory:
    * Spark names both NULL and empty-string partition values with
    * the default-partition sentinel. */
  private def dirValue(s: String): String =
    if (s == null || s.isEmpty) org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else s

  private[graft] def partValsOf(rel: String): Map[String, String] =
    rel.split('/').iterator
      .filter(s => s.contains('=') && !s.endsWith(".parquet"))
      .map { s =>
        val i = s.indexOf('=')
        s.substring(0, i) -> org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(s.substring(i + 1))
      }.toMap

  /** A parsed manifest: schema, partition columns, body markers and
    * file entries.
    */
  /** `partCols` and `dropped` are PHYSICAL names (what file paths
    * and parquet footers carry); `schema` is the LOGICAL schema users
    * see; `colMap` maps physical -> logical for the columns where the
    * two differ ([[renameColumn]] - Delta's name-mode column
    * mapping). Physical names are assigned at column birth and never
    * change; renames move only the logical name.
    */
  /** `entries` is eager for v3 manifests; for a SHARDED (v4)
    * manifest it is a memoizing LazyList over the shard files, so
    * mutation paths and full scans see the complete list unchanged
    * while prune paths ([[pruneCandidates]]) go through `shardRefs`
    * and never force it.
    */
  private[graft] final case class SnapManifest(
      schema: StructType, partCols: Seq[String],
      dropped: Set[String], op: String,
      txns: Map[String, Long], dvs: Seq[String],
      colMap: Map[String, String],
      entries: Seq[String],
      props: Map[String, String] = Map.empty,
      shardRefs: Seq[ShardRef] = Nil)

  /** Parsed-manifest cache. A published manifest file is IMMUTABLE
    * ([[tryPublishManifest]] is an atomic create-if-absent; no code
    * path rewrites a version file), so caching the parse is safe —
    * the key still carries (mtime, length) so anything that DID
    * replace the file out-of-band (a test fixture, manual surgery)
    * reads fresh. Bounded LRU: at 100 TB a manifest is most of the
    * driver's per-query planning input; re-reading and re-parsing it
    * for every query on a hot table is pure waste, while 64 parsed
    * manifests are bounded memory (the entries Seq the parse yields
    * is the same data the caller would hold anyway).
    */
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, Long), SnapManifest](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), SnapManifest])
          : Boolean = size() > 64
    }

  private def manifest(f: FileSystem, base: String, v: Long): SnapManifest = {
    val p = manifestPath(base, v)
    val st =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"snapshot: version $v does not exist under $base " +
            s"(have: ${allManifestVersions(f, base).mkString(", ")})")
      }
    val key = (f.makeQualified(p).toString, st.getModificationTime,
      st.getLen)
    manifestCache.synchronized {
      val hit = manifestCache.get(key)
      if (hit != null) return hit
    }
    val m = manifestUncached(f, base, p)
    manifestCache.synchronized { manifestCache.put(key, m) }
    m
  }

  private def manifestUncached(f: FileSystem, base: String,
                               p: Path): SnapManifest = {
    val lines = readLines(f, p)
    val header = lines.headOption
    require(header.contains(Header) || header.contains(HeaderV4),
      s"snapshot: ${p.getName} is not a graft-snapshot manifest " +
        s"(accepted headers: $Header, $HeaderV4)")
    require(lines.size >= 3,
      s"snapshot: ${p.getName} is missing its schema or partition line")
    val schema = DataType.fromJson(lines(1)).asInstanceOf[StructType]
    val body = lines.drop(3).filter(_.nonEmpty)
    if (header.contains(Header)) parseV3Body(schema, lines(2), body)
    else {
      val refs = body.filter(_.startsWith("#shard=")).map { l =>
        val s = l.stripPrefix("#shard=")
        val i = s.indexOf('|')
        val j = if (i < 0) -1 else s.indexOf('|', i + 1)
        require(i > 0 && j > i,
          s"snapshot: ${p.getName} has a corrupt #shard line '$l'")
        val cnt = s.substring(i + 1, j)
        require(cnt.nonEmpty && cnt.forall(_.isDigit),
          s"snapshot: ${p.getName} has a corrupt #shard count in '$l'")
        ShardRef(s.substring(0, i), cnt.toInt, s.substring(j + 1))
      }
      // marker lines parse exactly like v3 (unknown '#' lines are
      // ignored there); the entry list resolves LAZILY from the
      // shard files, memoized — only full-table consumers pay it
      val m0 = parseV3Body(schema, lines(2),
        body.filterNot(_.startsWith("#shard=")))
      val ents: Seq[String] =
        refs.to(LazyList).flatMap(r => loadShard(f, base, r.file))
      m0.copy(entries = ents, shardRefs = refs)
    }
  }

  /** Parse a v3 manifest BODY (marker lines + file entries) — shared
    * by v3 manifests and the marker lines of v4 ones.
    */
  private def parseV3Body(schema: StructType, partsLine: String,
                          body: Seq[String]): SnapManifest = {
        val parts =
          if (partsLine == "-") Nil else partsLine.split(',').toSeq
        // '#'-prefixed marker lines extend v3 without a format break
        // (entries are rel paths, never '#'-prefixed): currently
        // `#dropped=` — names tombstoned by dropColumns, which an
        // append may never re-introduce (old files still hold their
        // physical values; re-adding the name would RESURRECT them)
        val dropped = body.collectFirst {
          case l if l.startsWith("#dropped=") =>
            l.stripPrefix("#dropped=").split(',').filter(_.nonEmpty).toSet
        }.getOrElse(Set.empty[String])
        val op = body.collectFirst {
          case l if l.startsWith("#op=") => l.stripPrefix("#op=")
        }.getOrElse("unknown")
        // `#txn=appId:batchId` — the newest streaming batch each
        // writer app has committed (Delta's SetTransaction): one line
        // per appId, carried forward by every commit so a replayed
        // micro-batch can prove it already landed (appIds may not
        // contain ':'; the split below is on the LAST colon anyway)
        val txns = body.iterator.filter(_.startsWith("#txn="))
          .map(_.stripPrefix("#txn=")).map { s =>
            val i = s.lastIndexOf(':')
            require(i > 0, s"snapshot: malformed #txn marker '$s'")
            s.substring(0, i) -> s.substring(i + 1).toLong
          }.toMap
        // `#dv=relpath` — merge-on-read DELETE FILES: parquet files
        // of (__file, __pos) row positions every live read anti-joins
        // out ([[deleteWhere]]/[[deleteKeys]] `mode="mor"`); applied
        // physically and dropped at [[compact]]
        val dvs = body.iterator.filter(_.startsWith("#dv="))
          .map(_.stripPrefix("#dv=")).toSeq
        // `#map=phys:logical;...` — column mapping for renamed
        // columns (name characters are restricted at rename time)
        val colMap = body.collectFirst {
          case l if l.startsWith("#map=") =>
            l.stripPrefix("#map=").split(';').iterator
              .filter(_.nonEmpty).map { pair =>
                val i = pair.indexOf(':')
                require(i > 0, s"snapshot: malformed #map pair '$pair'")
                pair.substring(0, i) -> pair.substring(i + 1)
              }.toMap
        }.getOrElse(Map.empty[String, String])
        // `#props=k=v;...` — TABLE PROPERTIES (Delta/Iceberg
        // TBLPROPERTIES): carried forward by every commit; writers
        // consult them (e.g. `write.bloom.columns`)
        val props = body.collectFirst {
          case l if l.startsWith("#props=") =>
            l.stripPrefix("#props=").split(';').iterator
              .filter(_.nonEmpty).map { pair =>
                val i = pair.indexOf('=')
                require(i > 0,
                  s"snapshot: malformed #props pair '$pair'")
                pair.substring(0, i) -> pair.substring(i + 1)
              }.toMap
        }.getOrElse(Map.empty[String, String])
        SnapManifest(schema, parts, dropped, op, txns, dvs,
          colMap, body.filterNot(_.startsWith("#")), props = props)
  }

  private def manifestLines(schema: StructType, partCols: Seq[String],
                            dropped: Set[String], op: String,
                            entries: Seq[String],
                            txns: Map[String, Long] = Map.empty,
                            dvs: Seq[String] = Nil,
                            colMap: Map[String, String] = Map.empty,
                            props: Map[String, String] = Map.empty)
      : Seq[String] =
    Header +: schema.json +:
      (if (partCols.isEmpty) "-" else partCols.mkString(",")) +:
      (Seq(s"#op=$op") ++
        (if (dropped.isEmpty) Nil
         else Seq(s"#dropped=${dropped.toSeq.sorted.mkString(",")}")) ++
        txns.toSeq.sortBy(_._1).map { case (a, b) => s"#txn=$a:$b" } ++
        dvs.map(d => s"#dv=$d") ++
        (if (colMap.isEmpty) Nil
         else Seq(s"#map=" + colMap.toSeq.sorted.map {
           case (p, l) => s"$p:$l" }.mkString(";"))) ++
        (if (props.isEmpty) Nil
         else Seq(s"#props=" + props.toSeq.sorted.map {
           case (k, v) => s"$k=$v" }.mkString(";"))) ++
        entries)

  /** Names that may appear in a `#map=` entry: the marker's own
    * separators (and the marker prefix / line structure) must not —
    * a mapped name containing ':' or ';' would re-parse into a
    * corrupt mapping, which is strictly worse than refusing.
    */
  private def requireMappableName(n: String): Unit =
    require(n.nonEmpty && !"#:;,/\t\n".exists(n.contains(_)),
      s"snapshot: column name '$n' cannot participate in column " +
        "mapping - it contains a manifest separator character " +
        "('#', ':', ';', ',', '/', tab or newline); rename the " +
        "source column first")

  /** logical -> physical resolution for the stored column mapping
    * (identity where unmapped).
    */
  private def l2p(colMap: Map[String, String]): Map[String, String] =
    colMap.map(_.swap)

  private def toPhysicalName(colMap: Map[String, String],
                             logical: String): String =
    l2p(colMap).getOrElse(logical, logical)

  /** The stored logical schema with every field under its PHYSICAL
    * name — what the parquet files (and the scan relation) carry.
    */
  private def toPhysicalSchema(logical: StructType,
                               colMap: Map[String, String]): StructType = {
    val lp = l2p(colMap)
    StructType(logical.fields.map(f =>
      f.copy(name = lp.getOrElse(f.name, f.name))))
  }

  /** Every committed version on disk — with exclusive-create commits,
    * a manifest's existence IS its commit (a crash can only leave
    * `_tmp_` files, which this listing excludes).
    */
  private def allManifestVersions(f: FileSystem, base: String): Seq[Long] = {
    val dir = new Path(s"$base/_manifests")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted
  }

  /** The newest committed version, if any commit ever completed. The
    * manifest listing is authoritative; the `_latest` file is only a
    * monotonic hint (under concurrent writers the hint may lag, never
    * lead).
    */
  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    allManifestVersions(fs(spark, path), path).lastOption

  /** Committed versions, oldest first. */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    allManifestVersions(fs(spark, path), path)

  /** The manifest entry of a file just written under `base`, with
    * its byte length: the store-relative path, the length as a
    * pseudo-stat (so planning — split sizing, compaction budgets,
    * relation sizeInBytes — never stats files) and its footer stats.
    * Built by the writing task ([[SnapshotDataWriter]]), so a commit
    * lists no directory and reads no footer on the driver.
    */
  private[graft] def writtenEntry(conf: org.apache.hadoop.conf.Configuration,
                                  base: String, rel: String)
      : (String, Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(s"$base/$rel"), conf)
    val len = s"$LenStat:L:${in.getLength}:${in.getLength}"
    val stats = footerStats(in)
    (s"$rel\t" + (if (stats.isEmpty) len else s"$len;$stats"),
      in.getLength)
  }

  /** Per-file numeric column stats from the parquet FOOTER, as the
    * manifest entry suffix: top-level INT64/DOUBLE columns whose
    * every row group carries valid statistics (a single stats-less
    * row group drops the column — conservative: a file without stats
    * is simply never pruned). Column names containing the entry
    * separators are skipped. One footer read per file, in the task
    * that wrote it ([[writtenEntry]]).
    */
  private def footerStats(in: org.apache.parquet.io.InputFile): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      if (blocks.isEmpty) return ""
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Char, Double, Double)]
      // integral bounds accumulate as LONGS end to end: folding an
      // INT64 bound through Double would round |values| >= 2^53
      // (snowflake-style IDs), and aggregate pushdown serves these
      // bounds as EXACT answers ([[longStatsOf]])
      val lacc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Long)]
      val sacc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Array[Byte], Array[Byte])]
      // TIMESTAMP(MICROS) bounds ('U' kind): micros since epoch
      val uacc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Long)]
      // per-column NULL counts ('N' kind): `COUNT(col)` answers from
      // the manifest as rows - nulls ([[nullCountOf]]); any chunk
      // with unknown null count kills the column's entry
      val nacc = scala.collection.mutable.LinkedHashMap
        .empty[String, Long]
      val nDead = scala.collection.mutable.Set.empty[String]
      val dead = scala.collection.mutable.Set.empty[String]
      blocks.foreach(_.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        val tpe = c.getPrimitiveType.getPrimitiveTypeName
        // 'I' = INT32 pages; serialized as 'L' below (int bounds are
        // exact longs), so an int32 file and its widened int64
        // successor fold into one exact range
        val tag = tpe match {
          case PrimitiveTypeName.INT64 => 'L'
          case PrimitiveTypeName.INT32 => 'I'
          case PrimitiveTypeName.DOUBLE => 'D'
          case _ => ' '
        }
        val logical = c.getPrimitiveType.getLogicalTypeAnnotation
        // DATE rides the INT32 path: its stats are epoch DAYS, exact
        // longs — the unit range pruning coerces date literals to
        // ([[boundKeepFn]]). Catalyst-typed consumers
        // (aggregate pushdown, CBO min/max) key on integral CATALYST
        // types, so a DateType column never mis-serves as a long.
        val plainNumeric = logical == null ||
          logical.isInstanceOf[org.apache.parquet.schema
            .LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
          (tpe == PrimitiveTypeName.INT32 &&
            logical.isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.DateLogicalTypeAnnotation])
        // TIMESTAMP(MICROS) INT64 (what [[graft.GraftSession]]'s
        // outputTimestampType writes): bounds commit as 'U'-kind
        // micros — a DISTINCT kind because the unit is the
        // annotation's, not the column's; a MILLIS/NANOS-annotated
        // import must never serve micros pruning, so only MICROS
        // qualifies (others stay stat-less: kept, never skipped)
        val isMicrosTs = tpe == PrimitiveTypeName.INT64 &&
          (logical match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation =>
              t.getUnit == org.apache.parquet.schema
                .LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          })
        val isString = tpe == PrimitiveTypeName.BINARY &&
          logical.isInstanceOf[org.apache.parquet.schema
            .LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        // a data column named like the reserved length pseudo-stat
        // would collide with it in the per-entry stats map (whichever
        // wins, pruning or sizing goes silently wrong) — skip it
        val nameOk = name != LenStat && name != RowsStat &&
          !name.contains(':') &&
          !name.contains(';') && !name.contains('\t') &&
          !name.contains('.')
        if (nameOk) {
          val st0 = c.getStatistics
          if (st0 == null || !st0.isNumNullsSet || st0.getNumNulls < 0)
            nDead += name
          else nacc(name) = nacc.getOrElse(name, 0L) + st0.getNumNulls
        }
        if (tag != ' ' && plainNumeric && nameOk) {
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) dead += name
          else if (tag == 'L' || tag == 'I') {
            val (mn, mx) =
              if (tag == 'L')
                (st.genericGetMin.asInstanceOf[java.lang.Long]
                  .longValue(), st.genericGetMax
                  .asInstanceOf[java.lang.Long].longValue())
              else
                (st.genericGetMin.asInstanceOf[java.lang.Integer]
                  .longValue(), st.genericGetMax
                  .asInstanceOf[java.lang.Integer].longValue())
            lacc.get(name) match {
              case Some((lo, hi)) =>
                lacc(name) = (math.min(lo, mn), math.max(hi, mx))
              case None => lacc(name) = (mn, mx)
            }
          } else {
            val mn = st.genericGetMin.asInstanceOf[java.lang.Double]
              .toDouble
            val mx = st.genericGetMax.asInstanceOf[java.lang.Double]
              .toDouble
            // a NaN min/max (doubles; some writers emit them) would
            // compare false against ANY range and wrongly PRUNE the
            // file — drop the column's stats instead (kept, not
            // skipped, is the safe direction)
            if (mn.isNaN || mx.isNaN) dead += name
            else acc.get(name) match {
              case Some((t, lo, hi)) =>
                acc(name) = (t, math.min(lo, mn), math.max(hi, mx))
              case None => acc(name) = (tag, mn, mx)
            }
          }
        } else if (isMicrosTs && nameOk) {
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) dead += name
          else {
            val mn = st.genericGetMin.asInstanceOf[java.lang.Long]
              .longValue()
            val mx = st.genericGetMax.asInstanceOf[java.lang.Long]
              .longValue()
            uacc.get(name) match {
              case Some((lo, hi)) =>
                uacc(name) = (math.min(lo, mn), math.max(hi, mx))
              case None => uacc(name) = (mn, mx)
            }
          }
        } else if (isString && nameOk) {
          // string columns: UTF-8 byte-wise min/max (the order Spark's
          // UTF8String comparisons use), truncated to bounds at
          // serialization below
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) dead += name
          else {
            val mn = st.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            val mx = st.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            sacc.get(name) match {
              case Some((lo, hi)) => sacc(name) = (
                if (bytesCompare(mn, lo) < 0) mn else lo,
                if (bytesCompare(mx, hi) > 0) mx else hi)
              case None => sacc(name) = (mn, mx)
            }
          }
        } else dead += name
      })
      val numeric =
        (lacc -- dead).map { case (n, (mn, mx)) => s"$n:L:$mn:$mx" } ++
        (acc -- dead).map { case (n, (t, mn, mx)) => s"$n:$t:$mn:$mx" } ++
        (uacc -- dead).map { case (n, (mn, mx)) => s"$n:U:$mn:$mx" }
      // truncated-prefix bounds, Parquet's own rule: the min bound is
      // the first 16 bytes verbatim (truncation only lowers); the max
      // bound increments the last non-0xFF byte of the 16-byte prefix
      // (an all-0xFF prefix has no finite upper bound → '*', pruning
      // keeps the file on the upper side). Kind 'T' tracks EXACTNESS:
      // a bound that fit untruncated serializes bare (it IS the
      // file's true min/max — parquet-mr stores full values below
      // its 4 KB stats cap, past which stats are omitted entirely);
      // a truncated/incremented bound carries a '~' suffix. Exact
      // bounds let MIN/MAX(string) answer from the manifest
      // ([[stringExactStatsOf]]); pruning reads both alike.
      val strings = (sacc -- dead).map { case (n, (mn, mx)) =>
        val lo =
          if (mn.length <= StrStatBytes) hexBytes(mn)
          else hexBytes(mn.take(StrStatBytes)) + "~"
        val hi =
          if (mx.length <= StrStatBytes) hexBytes(mx)
          else incrementBound(mx.take(StrStatBytes))
            .map(hexBytes(_) + "~").getOrElse("*")
        s"$n:T:$lo:$hi"
      }
      val nulls = (nacc -- nDead).map { case (n, c) => s"$n:N:$c:$c" }
      // the file's ROW COUNT rides as a pseudo-stat like its byte
      // length: `SELECT count(*)`-class questions ([[rowCount]]),
      // compaction diagnostics and the files() metadata table answer
      // from the manifest alone - zero footer reads after commit
      val rows = blocks.map(_.getRowCount).sum
      (Seq(s"$RowsStat:L:$rows:$rows") ++ numeric ++ strings ++ nulls)
        .mkString(";")
    } finally reader.close()
  }

  /** Bytes a string column's manifest stats keep per bound. */
  private val StrStatBytes = 16

  private def bytesCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def hexBytes(b: Array[Byte]): String =
    b.map(x => f"${x & 0xFF}%02x").mkString

  private def unhexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** The least byte string strictly greater than every string with
    * prefix `b`: increment the rightmost non-0xFF byte, drop the
    * rest; None when every byte is 0xFF (no finite bound exists).
    */
  private def incrementBound(b: Array[Byte]): Option[Array[Byte]] = {
    val i = b.lastIndexWhere(x => (x & 0xFF) != 0xFF)
    if (i < 0) None
    else Some(b.take(i + 1).updated(i, ((b(i) & 0xFF) + 1).toByte))
  }

  /** Parsed STRING bounds of a manifest entry: name → (lower bound
    * bytes, upper bound bytes or None = unbounded). Conservative by
    * construction: lower is a truncation (≤ true min), upper a
    * truncated increment (≥ true max).
    */
  private[graft] def stringStatsOf(entry: String)
      : Map[String, (Array[Byte], Option[Array[Byte]])] = {
    def hex(s: String): Array[Byte] =
      unhexBytes(s.stripSuffix("~"))
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "T", lo, hi) =>
            Some(name -> (hex(lo),
              if (hi == "*") None else Some(hex(hi))))
          case Array(name, "T", lo) => // empty upper bound hex
            Some(name -> (hex(lo), Some(Array.empty[Byte])))
          case _ => None
        }
      }.toMap
  }

  /** PROVABLY-EXACT string bounds of an entry: name → (exact min,
    * exact max), each present only for a 'T'-kind bound serialized
    * WITHOUT the truncation marker — i.e. the bound is the file's
    * true MIN/MAX value, the aggregate-pushdown domain. Truncated
    * bounds yield None (pruning still uses them via
    * [[stringStatsOf]]; aggregates refuse).
    */
  private[graft] def stringExactStatsOf(entry: String)
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        def exact(s: String): Option[Array[Byte]] =
          if (s == "*" || s.endsWith("~")) None
          else Some(unhexBytes(s))
        part.split(':') match {
          case Array(name, "T", lo, hi) =>
            Some(name -> (exact(lo), exact(hi)))
          case Array(name, "T", lo) =>
            Some(name -> (exact(lo), Some(Array.empty[Byte])))
          case _ => None
        }
      }.toMap
  }

  /** Byte-wise unsigned compare — UTF8String's binary order, shared
    * with the scan's string aggregate pushdown. */
  private[graft] def bytesCompareKey(a: Array[Byte],
                                     b: Array[Byte]): Int =
    bytesCompare(a, b)

  /** An entry's per-column NULL count ('N' kind), when the footer
    * recorded one for every chunk — the `COUNT(col)` pushdown domain
    * (rows − nulls). Absent for pre-r13 manifests and for chunks
    * with unknown null counts. */
  private[graft] def nullCountOf(entry: String): Map[String, Long] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "N", n, _) => Some(name -> n.toLong)
          case _ => None
        }
      }.toMap
  }

  /** How a publish-loser proceeds (the OCC split): appends rebase
    * onto the interloper's commit and retry; rewrites rebase over
    * APPEND-ONLY interlopers (WriteSerializable — see
    * [[RebaseRewrite]]) and refuse anything else; overwrites always
    * refuse (they define the whole table/partition contents, so any
    * interleaved commit contradicts the caller's intent).
    */
  private sealed trait OnConflict
  private case object RebaseAppend extends OnConflict
  private final case class RefuseConflict(what: String) extends OnConflict

  /** Rewrite-commit conflict policy (Delta's WriteSerializable
    * isolation): an interleaved commit that only ADDED files commutes
    * with this rewrite — the result equals the serial order [rewrite,
    * then append], because the rewrite's discovery read every file it
    * touches and the appended rows were never examined. On a lost
    * claim the rewrite re-carries the winner's entries minus its own
    * affected files and retries; anything non-append-only (a file
    * removed or rewritten, a schema/partition/mapping change, or a
    * new merge-on-read delete whose rows this rewrite would
    * resurrect — `baseDvs` is the DV set the rewrite's discovery ran
    * against, which may differ from the DVs it commits: compact
    * applies them physically and commits none) refuses like before.
    * This is what lets an hours-long 100 TB compaction land under
    * continuous streaming ingestion instead of losing every race.
    * (Concurrent mor deletes compose by DV union and rebase through
    * their own publish loop, not this one.)
    */
  private final case class RebaseRewrite(what: String,
                                         affectedRels: Set[String],
                                         baseDvs: Seq[String])
      extends OnConflict

  /** The data-write half of a commit: write `df` under a fresh
    * `data/c-<uuid>` dir (physical column names; Hive-style dirs for
    * identity and hidden-transform partition fields) and return the
    * commit dir plus the stats-bearing manifest entry lines, sorted by
    * path. Shared by the publishing commits ([[writeCommit]]), the
    * delete-file writes and the write-audit-publish staging path
    * ([[stageAppend]]), which publishes later.
    *
    * The batch runs as a DSv2 append on the caller's session through
    * the SAME [[SnapshotWrite]] SQL `INSERT` plans, over the commit's
    * own state: `partCols` (physical sources), `colMap`, and `props`
    * (`write.rebalance`, `write.sort.columns`, `write.bloom.columns`).
    * Its schema is the batch's own — a column narrower than the
    * table's widened type is written as-is, per
    * [[evolvedSchemaAndMap]]. An empty batch writes no file.
    */
  private def writeBatchFiles(spark: SparkSession, df: DataFrame,
                              path: String, partCols: Seq[String],
                              colMap: Map[String, String],
                              props: Map[String, String] = Map.empty)
      : (String, Seq[String]) = {
    partCols.foreach(c => require(!c.contains(',') && !c.contains('/'),
      s"snapshot: illegal partition column name '$c'"))
    val phys = df.columns.map(c => toPhysicalName(colMap, c))
    val fields = partCols.map(parsePartField)
    fields.foreach(fld => require(phys.contains(fld.source),
      s"snapshot: partition source column ${fld.source} is missing " +
        s"from the batch (${phys.mkString(", ")})"))
    // a hidden field's directory key must not shadow a data column:
    // directory values are read back by name
    fields.filterNot(_.isInstanceOf[PIdentity]).foreach(fld =>
      require(!phys.contains(fld.dirName),
        s"snapshot: hidden partition field ${fld.spec} derives " +
          s"directory column ${fld.dirName}, which collides with a " +
          "data column - rename one of them"))
    var written: (String, Seq[String]) = null
    org.apache.spark.sql.graft.WriteBridge.append(spark,
      new SnapshotWriteTable(path, df.schema,
        V2WriteState(0L, df.schema, partCols, colMap, props),
        (dir, es) => written = (dir, es.sortBy(relOf))),
      df, TransformFunctions)
    written
  }

  /** Write `df`'s files, then claim the next version by exclusive
    * manifest create. On a lost claim: [[RebaseAppend]] re-carries
    * the winner's files (re-running the drift check against its
    * schema) and retries; [[RefuseConflict]] deletes this commit's
    * fresh files and throws `ConcurrentModificationException` — the
    * caller's rewrite was computed against a base that no longer
    * exists, and publishing it would silently drop the winner's
    * changes.
    */
  private def writeCommit(spark: SparkSession, df: DataFrame,
                          path: String, carried: Seq[String],
                          schema: StructType, partCols: Seq[String],
                          dropped: Set[String],
                          txns: Map[String, Long],
                          dvs: Seq[String],
                          colMap: Map[String, String],
                          base: Option[Long],
                          onConflict: OnConflict,
                          op: String,
                          baseProps: Map[String, String],
                          ownTxn: Option[(String, Long)] = None,
                          writeOpts: Map[String, String] = Map.empty)
      : Long = {
    // table PROPERTIES ride along like txn markers: the writer
    // consults them (bloom filters) and every commit carries them
    // forward (callers pass the base version's - no extra manifest
    // read); a rebase adopts the winner's (last-writer-wins)
    // `writeOpts` steer THIS write only (e.g. compact's rebalance
    // opt-out) — they are never folded into the committed properties
    val (commitDir, fresh) =
      writeBatchFiles(spark, df, path, partCols, colMap,
        baseProps ++ writeOpts)
    // an empty write leaves no files at all (a writer opens its file
    // on the first row) — that is LEGAL here: v3 manifests carry the
    // schema, so a carried-only commit (a delete emptying every
    // affected file's rows) or even a fully empty snapshot reads back
    // correctly as zero rows; the fresh list is simply empty
    publishLoop(spark, path, Seq(commitDir), fresh, carried, schema,
      partCols, dropped, txns, dvs, colMap, base, onConflict, op,
      baseProps, ownTxn, df.schema, df.columns.toSeq)
  }

  /** The OCC publish half of a commit, over ALREADY-WRITTEN files:
    * claim base+1; on a lost claim rebase (appends / append-only
    * rewrites) or delete every commit dir and refuse. `batchSchema` /
    * `batchColumns` describe the written batch for the rebase-time
    * schema re-evolution and physical-name drift check (the files are
    * on disk — a concurrent rename that re-maps a batch column makes
    * them WRONG, not stale). Shared by [[writeCommit]] (programmatic
    * commits) and [[commitWrittenV2]] (SQL writes).
    */
  private def publishLoop(spark: SparkSession, path: String,
                          commitDirs: Seq[String],
                          fresh: Seq[String], carried: Seq[String],
                          schema: StructType, partCols: Seq[String],
                          dropped: Set[String],
                          txns: Map[String, Long],
                          dvs: Seq[String],
                          colMap: Map[String, String],
                          base: Option[Long],
                          onConflict: OnConflict,
                          op: String,
                          baseProps: Map[String, String],
                          ownTxn: Option[(String, Long)],
                          batchSchema: StructType,
                          batchColumns: Seq[String]): Long = {
    val f = fs(spark, path)
    def dropFresh(): Unit = commitDirs.foreach(d =>
      f.delete(new Path(s"$path/$d"), true))
    // AUTO-ANALYZE at commit (`stats.ndv.auto` table property): the
    // just-written files get their per-file NDV registers computed
    // NOW — one distributed pass over the DELTA only, O(commit) not
    // O(table) — so `distinctCount` keeps serving under CBO across
    // appends, CTAS, compaction and DML rewrites without a manual
    // `CALL system.analyze_ndv` (whose absence after any append
    // makes the scan REFUSE the stat — absent beats stale, but a
    // live-ingest table would refuse forever). Opt-in: the default
    // commit pays nothing. Amended before the OCC loop — sketches
    // describe immutable file content, so a rebase carries them
    // unchanged.
    val freshStats = {
      val cols = autoNdvColumns(baseProps, schema, partCols, colMap)
      if (cols.isEmpty || fresh.isEmpty) fresh
      else {
        val sk = ndvSketchPass(spark, path, base.getOrElse(0L), schema,
          partCols, colMap, fresh, cols)
        val bloomPhys = bloomColumnsOf(baseProps, colMap, cols)
        val bl =
          if (bloomPhys.isEmpty)
            Map.empty[String, Map[String, (Int, Int, Array[Long])]]
          else bloomSketchPass(spark, path, base.getOrElse(0L), schema,
            partCols, colMap, fresh, bloomPhys, sk)
        fresh.map(e => amendBloomEntry(amendNdvEntry(e, sk), bl,
          toPhysicalSchema(schema, colMap)))
      }
    }
    onBeforePublish()
    var curCarried = carried
    var curSchema = schema
    var curDropped = dropped
    var curTxns = txns
    var curDvs = dvs
    var curColMap = colMap
    // stamp the zone directory layouts are derived under (the write
    // path pins UTC) so readers can detect foreign-zone legacy
    // layouts; an explicitly-set value is never overridden
    var curProps =
      if (baseProps.contains(LayoutTzProp)) baseProps
      else baseProps + (LayoutTzProp -> "UTC")
    var curBase = base
    var committed = -1L
    while (committed < 0L) {
      val v = curBase.getOrElse(0L) + 1L
      if (tryPublishManifest(f, path, v,
          manifestLines(curSchema, partCols, curDropped, op,
            curCarried ++ freshStats, curTxns ++ ownTxn, curDvs,
            curColMap, curProps))) {
        bumpLatestHint(f, path, v)
        committed = v
      } else onConflict match {
        case RefuseConflict(what) =>
          dropFresh()
          throw new java.util.ConcurrentModificationException(
            s"snapshot: concurrent commit detected while $what $path " +
              s"(version $v was claimed by another writer after this " +
              "operation read its base) - re-read the table and retry")
        case RebaseRewrite(what, affected, baseDvs) =>
          val newBase = allManifestVersions(f, path).last
          val m = manifest(f, path, newBase)
          def refuse(reason: String): Nothing = {
            dropFresh()
            throw new java.util.ConcurrentModificationException(
              s"snapshot: concurrent commit detected while $what $path " +
                s"and it cannot be rebased over ($reason) - re-read " +
                "the table and retry")
          }
          val wSchema = m.schema
          if (m.partCols != partCols) refuse("a partition-spec change")
          if (!wSchema.fieldNames.sameElements(curSchema.fieldNames) ||
              !wSchema.fields.map(_.dataType.catalogString)
                .sameElements(curSchema.fields
                  .map(_.dataType.catalogString)))
            refuse("a schema change")
          if (m.colMap != curColMap) refuse("a column-mapping change")
          if (m.dropped != curDropped) refuse("a dropped-column change")
          val baseRels = curCarried.map(relOf).toSet ++ affected
          val winnerRels = m.entries.map(relOf).toSet
          if (!baseRels.subsetOf(winnerRels))
            refuse("a non-append commit (files this rewrite read were " +
              "rewritten or removed)")
          if (m.dvs.toSet != baseDvs.toSet)
            refuse("a merge-on-read delete (this rewrite would " +
              "resurrect its deleted rows)")
          // serial order [this rewrite, then the winner's appends]:
          // the winner's extra files ride along untouched, its txn
          // markers carry forward, our affected files still drop, and
          // the op's own DV outcome (pass-through, or none for
          // compact) stands — the winner added no DVs (checked above)
          curCarried = m.entries.filterNot(e => affected(relOf(e)))
          curTxns = m.txns
          curProps = m.props
          curBase = Some(newBase)
        case RebaseAppend =>
          val newBase = allManifestVersions(f, path).last
          val m = manifest(f, path, newBase)
          // a replayed transactional batch racing its OWN earlier
          // commit (two at-least-once deliveries interleaving): the
          // winner already carries this txn — committing again would
          // double-append; drop the fresh files and no-op instead
          if (ownTxn.exists { case (a, b) => m.txns.get(a).exists(_ >= b) }) {
            dropFresh()
            committed = newBase
          } else {
            require(m.partCols == partCols,
              s"snapshot: concurrent commit changed the partition spec " +
                s"of $path (${m.partCols.mkString(",")} vs " +
                s"${partCols.mkString(",")}) - cannot rebase the append")
            // drift check re-runs against the WINNER's schema; a
            // genuine type conflict still refuses loudly mid-rebase
            val (s2, map2) = evolvedSchemaAndMap(
              m.schema, nullableAll(batchSchema),
              path, m.dropped, m.colMap, reuse = colMap,
              partCols = m.partCols)
            // the data files are ALREADY written under this commit's
            // physical names; if rebasing against the winner resolves
            // any batch column to a different physical (a concurrent
            // rename/drop touched it), the written bytes are stale -
            // refuse rather than publish files under the wrong names
            val oldP = l2p(colMap); val newP = l2p(map2)
            if (batchColumns.exists(c =>
                oldP.getOrElse(c, c) != newP.getOrElse(c, c))) {
              dropFresh()
              throw new java.util.ConcurrentModificationException(
                s"snapshot: a concurrent schema change (rename/drop) " +
                  s"on $path invalidated this append's column mapping " +
                  "- re-read the table and retry")
            }
            curSchema = s2
            curColMap = map2
            curDropped = m.dropped
            curTxns = m.txns
            curDvs = m.dvs
            curProps = m.props
            curCarried = m.entries
            curBase = Some(newBase)
          }
      }
    }
    committed
  }

  // --- DSv2 write commit surface ([[SnapshotBatchWrite]]) ------------

  /** What a DSv2 write commits as, decided at ANALYSIS
    * ([[SnapshotWriteBuilder]]) and executed on the driver after the
    * tasks wrote their files. */
  private[graft] sealed trait V2CommitMode
  private[graft] case object V2Append extends V2CommitMode
  private[graft] case object V2Truncate extends V2CommitMode
  private[graft] final case class V2OverwriteFilter(cond: Column)
      extends V2CommitMode
  private[graft] case object V2DynamicOverwrite extends V2CommitMode

  /** Write-planning state for [[SnapshotWrite]]: the version, evolved
    * logical schema, partition spec, column mapping and properties the
    * task files are written under. */
  private[graft] final case class V2WriteState(
      version: Long, schema: StructType, partCols: Seq[String],
      colMap: Map[String, String], props: Map[String, String])

  private[graft] def v2WriteState(spark: SparkSession, path: String,
                                  batchSchema: StructType,
                                  at: Option[Long] = None)
      : V2WriteState = {
    val st = stateCur(spark, path, "plan a DSv2 write into", at)
    val (s2, map2) = evolvedSchemaAndMap(st.schema,
      nullableAll(batchSchema), path, st.dropped, st.colMap,
      partCols = st.partCols)
    V2WriteState(st.v, s2, st.partCols, map2, st.props)
  }

  /** Run `body`; on ANY failure delete the commit dir(s) FIRST (task
    * files must never outlive a refused commit as invisible orphans
    * waiting for vacuum), then rethrow. The publish loops' own
    * conflict cleanup composes (re-deleting a gone dir is a no-op).
    */
  private def orDropCommit[A](f: FileSystem, path: String,
                              dirs: Seq[String])(body: => A): A =
    try body
    catch { case e: Throwable =>
      dirs.foreach(d => f.delete(new Path(s"$path/$d"), true))
      throw e
    }

  /** ATOMIC CTAS/RTAS publish ([[GraftCatalog]]'s
    * `StagingTableCatalog`): the staged write landed its data files
    * under the (not-yet- or already-) existing table path with NO
    * manifest — invisible to every reader — and this claim makes the
    * whole statement appear at once: version 1 for CREATE ... AS
    * SELECT, or the next version listing ONLY the new entries (new
    * schema, new layout, txns/deletes/column-map reset — but history
    * preserved: time travel and rollback still reach the pre-REPLACE
    * versions) for REPLACE. `allowCreate`/`allowReplace` re-check the
    * table's existence AT COMMIT: a table that appeared under a
    * staged CREATE (or vanished under a staged REPLACE) refuses and
    * the staged files are deleted — never half a statement.
    */
  private[graft] def publishStagedTable(spark: SparkSession,
                                        path: String,
                                        schema: StructType,
                                        partCols: Seq[String],
                                        props: Map[String, String],
                                        commitDirs: Seq[String],
                                        entries0: Seq[String],
                                        allowCreate: Boolean,
                                        allowReplace: Boolean): Long = {
    props.foreach { case (k, v) => requirePropPair(k, v) }
    val specs = normalizePartSpecs(partCols)
    specs.map(parsePartField).foreach(fld =>
      require(schema.fieldNames.contains(fld.source),
        s"snapshot: partition source column ${fld.source} is not in " +
          s"the schema (${schema.fieldNames.mkString(", ")})"))
    specs.foreach(c => require(!c.contains(',') && !c.contains('/'),
      s"snapshot: illegal partition column name '$c'"))
    val f = fs(spark, path)
    onBeforePublish()
    orDropCommit(f, path, commitDirs) {
      // `stats.ndv.auto` at CTAS: the staged table is born analyzed
      // (same delta-only sketch pass the append path runs in
      // publishLoop — a CTAS's delta IS the whole table, once)
      val entries = {
        val cols = autoNdvColumns(props, nullableAll(schema), specs,
          Map.empty)
        if (cols.isEmpty || entries0.isEmpty) entries0
        else {
          val sk = ndvSketchPass(spark, path, 0L, nullableAll(schema),
            specs, Map.empty, entries0, cols)
          entries0.map(e => amendNdvEntry(e, sk))
        }
      }
      var committed = -1L
      while (committed < 0L) {
        val cur = latestVersion(spark, path)
        if (cur.isDefined && !allowReplace)
          throw new java.util.ConcurrentModificationException(
            s"snapshot: $path gained committed versions while a " +
              "staged CREATE TABLE AS SELECT was writing - refusing " +
              "to replace it (use CREATE OR REPLACE)")
        if (cur.isEmpty && !allowCreate)
          throw new java.util.ConcurrentModificationException(
            s"snapshot: $path was dropped while a staged REPLACE " +
              "TABLE AS SELECT was writing - refusing to recreate it")
        val next = cur.getOrElse(0L) + 1L
        if (tryPublishManifest(f, path, next,
            manifestLines(nullableAll(schema), specs, Set.empty,
              if (cur.isDefined) "replaceTable" else "ctas",
              entries, props = props))) {
          bumpLatestHint(f, path, next)
          committed = next
        }
      }
      committed
    }
  }

  /** Fold a DSv2 write's task-written files into ONE atomic manifest
    * claim. Re-reads the table at commit time and refuses loudly when
    * anything that would make the written bytes WRONG changed since
    * planning (partition-spec evolution; a rename/drop that re-maps a
    * batch column's physical name); mere interleaved appends rebase
    * (append mode) or refuse (overwrite modes) exactly like the
    * programmatic commits.
    */
  private[graft] def commitWrittenV2(spark: SparkSession, path: String,
                                     commitDir: String,
                                     entries: Seq[String],
                                     mode: V2CommitMode,
                                     batchSchema: StructType,
                                     buildColMap: Map[String, String],
                                     buildPartCols: Seq[String])
      : Long = {
    val f = fs(spark, path)
    orDropCommit(f, path, Seq(commitDir)) {
    def refuse(reason: String): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while writing into " +
          s"$path and the written files cannot be published ($reason) " +
          "- re-read the table and retry")
    val st = currentState(spark, path, "commit a DSv2 write into")
    if (st.partCols != buildPartCols)
      refuse("a partition-spec change since write planning")
    val (s2, map2) =
      evolvedSchemaAndMap(st.schema, nullableAll(batchSchema),
        path, st.dropped, st.colMap, reuse = buildColMap,
        partCols = st.partCols)
    val oldP = l2p(buildColMap); val newP = l2p(map2)
    if (batchSchema.fieldNames.exists(c =>
        oldP.getOrElse(c, c) != newP.getOrElse(c, c)))
      refuse("a schema change re-mapped a batch column's physical " +
        "name since write planning")
    val fresh = entries.sortBy(relOf)
    val batchCols = batchSchema.fieldNames.toSeq
    mode match {
      case V2Append =>
        publishLoop(spark, path, Seq(commitDir), fresh, st.entries,
          s2, st.partCols, st.dropped, st.txns, st.dvs, map2,
          Some(st.v), RebaseAppend, "append", st.props, None,
          batchSchema, batchCols)
      case V2Truncate =>
        // whole-table replace: txn markers and properties survive
        // (the streaming-dedup contract), delete files die with the
        // files they referenced
        publishLoop(spark, path, Seq(commitDir), fresh, Nil, s2,
          st.partCols, st.dropped, st.txns, Nil, map2, Some(st.v),
          RefuseConflict("overwriting"), "overwrite", st.props, None,
          batchSchema, batchCols)
      case V2DynamicOverwrite if st.partCols.isEmpty =>
        // dynamic overwrite of an unpartitioned table IS a truncate
        publishLoop(spark, path, Seq(commitDir), fresh, Nil, s2,
          st.partCols, st.dropped, st.txns, Nil, map2, Some(st.v),
          RefuseConflict("overwriting"), "overwrite", st.props, None,
          batchSchema, batchCols)
      case V2DynamicOverwrite =>
        val fields = st.partCols.map(parsePartField)
        // pre-spec-evolution files carry no directory values for the
        // current layout: "replace this partition" cannot bound the
        // replacement - same refusal as replacePartitions
        val stale = st.entries.filterNot(e => fields.forall(fld =>
          partValsOf(relOf(e)).contains(fld.dirName)))
        if (stale.nonEmpty)
          throw new IllegalArgumentException(
            s"snapshot: ${stale.size} file(s) of $path predate the " +
              s"current partition spec (${st.partCols.mkString(", ")}) " +
              "and carry no directory values for it - dynamic " +
              "overwrite cannot bound the replacement; compact to " +
              "migrate the layout first")
        // the replaced partition tuples are EXACTLY the directory
        // strings the tasks wrote - no re-derivation can disagree
        val default = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        def tupleOf(rel: String): Seq[String] = {
          val vals = partValsOf(rel)
          fields.map(fld => vals.getOrElse(fld.dirName, default))
        }
        val doomed: Set[Seq[String]] =
          entries.map(e => tupleOf(relOf(e))).toSet
        val carried =
          st.entries.filterNot(e => doomed.contains(tupleOf(relOf(e))))
        publishLoop(spark, path, Seq(commitDir), fresh, carried, s2,
          st.partCols, st.dropped, st.txns, st.dvs, map2, Some(st.v),
          RefuseConflict("replacing partitions of"),
          "replacePartitions", st.props, None, batchSchema, batchCols)
      case V2OverwriteFilter(cond) =>
        requireLocalEntries(st.entries, path, "overwrite into")
        val affected =
          if (st.entries.isEmpty) Set.empty[String]
          else liveWithId(spark, path, st.v, s2, st.partCols, st.entries,
              st.dvs, map2)
            .filter(coalesce(cond, lit(false)))
            .select(DvFileCol).distinct()
            .collect().map(_.getString(0)).toSet
        val carried = st.entries.filterNot(e => affected(relOf(e)))
        // affected files rewritten minus their matching rows - a
        // second (driver-launched) data write into its own commit dir
        val (dirs2, fresh2) =
          if (affected.isEmpty) (Nil, Nil)
          else {
            val survivors = openLive(spark, path, st.v, s2, st.partCols,
              st.entries.filter(e => affected(relOf(e))), st.dvs, map2)
              .filter(not(coalesce(cond, lit(false))))
            val (d2, f2) = writeBatchFiles(spark, survivors, path,
              st.partCols, map2, st.props)
            (Seq(d2), f2)
          }
        publishLoop(spark, path, commitDir +: dirs2, fresh ++ fresh2,
          carried, s2, st.partCols, st.dropped, st.txns, st.dvs, map2,
          Some(st.v),
          RebaseRewrite("overwriting into", affected, st.dvs),
          "overwriteWhere", st.props, None, batchSchema, batchCols)
    }
    }
  }

  /** Publish a ROW-LEVEL DML delta ([[GraftDeltaBatchWrite]]): the
    * tasks' new data files plus their positional-delete files fold
    * into ONE manifest claim against `expectedBase` — the version the
    * operation's scan READ. Strictly pinned OCC: the delete rows name
    * physical (file, pos) identities of that version's files, so ANY
    * concurrent commit (even a plain append, whose rebase would be
    * safe for the deletes but not for the statement's read-your-
    * writes semantics) refuses loudly rather than publish against a
    * moved table. No matches and no inserts = no commit (idempotent).
    */
  private[graft] def commitDeltaV2(spark: SparkSession, path: String,
                                   commitDir: String,
                                   dataEntries: Seq[String],
                                   deleteRels: Seq[String],
                                   expectedBase: Long,
                                   batchSchema: StructType,
                                   op: String): Long = {
    val f = fs(spark, path)
    if (dataEntries.isEmpty && deleteRels.isEmpty) {
      f.delete(new Path(s"$path/$commitDir"), true)
      return expectedBase
    }
    orDropCommit(f, path, Seq(commitDir)) {
    val st = stateCur(spark, path, "commit a row-level delta into",
      Some(expectedBase))
    if (deleteRels.nonEmpty)
      requireLocalEntries(st.entries, path, "row-level delete from")
    // the data files were written under the PINNED version's schema
    // and mapping (the write state was built at expectedBase), so no
    // drift re-check is needed beyond the strict claim below
    val (s2, map2) =
      if (batchSchema.fields.isEmpty) (st.schema, st.colMap)
      else evolvedSchemaAndMap(st.schema, nullableAll(batchSchema),
        path, st.dropped, st.colMap, partCols = st.partCols)
    publishLoop(spark, path, Seq(commitDir), dataEntries.sortBy(relOf),
      st.entries, s2,
      st.partCols, st.dropped, st.txns, st.dvs ++ deleteRels, map2,
      Some(st.v), RefuseConflict(op), op, st.props, None,
      batchSchema, batchSchema.fieldNames.toSeq)
    }
  }

  /** Publish a COPY-ON-WRITE row-level rewrite
    * ([[GraftReplaceBatchWrite]]): the scanned groups' files are
    * REPLACED by the tasks' rewritten files (surviving + updated
    * rows), everything else carried, one manifest claim strictly
    * pinned to the version the operation's scan read — the group-
    * based twin of [[commitDeltaV2]], same refusal posture. Delete
    * markers carry unchanged: replaced files simply stop being
    * referenced, so their delete entries go dead (vacuum reclaims
    * both together).
    */
  private[graft] def commitReplaceV2(spark: SparkSession, path: String,
                                     commitDir: String,
                                     dataEntries: Seq[String],
                                     replacedRels: Seq[String],
                                     expectedBase: Long,
                                     batchSchema: StructType,
                                     op: String): Long = {
    val f = fs(spark, path)
    if (dataEntries.isEmpty && replacedRels.isEmpty) {
      f.delete(new Path(s"$path/$commitDir"), true)
      return expectedBase
    }
    orDropCommit(f, path, Seq(commitDir)) {
    val st = stateCur(spark, path,
      "commit a row-level rewrite into", Some(expectedBase))
    requireLocalEntries(st.entries, path, "row-level rewrite of")
    val (s2, map2) =
      if (batchSchema.fields.isEmpty) (st.schema, st.colMap)
      else evolvedSchemaAndMap(st.schema, nullableAll(batchSchema),
        path, st.dropped, st.colMap, partCols = st.partCols)
    val replaced = replacedRels.toSet
    val carried = st.entries.filterNot(e => replaced(relOf(e)))
    publishLoop(spark, path, Seq(commitDir), dataEntries.sortBy(relOf),
      carried, s2,
      st.partCols, st.dropped, st.txns, st.dvs, map2, Some(st.v),
      RefuseConflict(op), op, st.props, None, batchSchema,
      batchSchema.fieldNames.toSeq)
    }
  }

  /** The stored form of a snapshot schema: every field nullable, so a
    * file written before a column existed (or after a writer stopped
    * supplying one) legally null-fills on read.
    */
  private def nullableAll(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** The evolved (logical schema, column mapping) an append commit
    * stores: previous fields in order, new fields appended — ADDING
    * columns is evolution, a CHANGED type on a shared name is drift
    * and refuses loudly (the two files genuinely disagree; a cast
    * policy belongs to the caller, cf. [[graft.schema.Conform]]). A
    * column the append batch lacks stays in the schema and null-fills
    * for the new files — dropping a column is not something an APPEND
    * can mean.
    *
    * New columns are assigned a PHYSICAL name: the logical name when
    * free, else a fresh `name__pN` — so re-using a previously DROPPED
    * (or renamed-away) name is SAFE: old files' physical values stay
    * under their old physical name, which no live logical column maps
    * to, and can never resurrect (the column-mapping relaxation of
    * the former tombstone refusal). `reuse` pins already-assigned
    * physicals when an append rebases (its files are written).
    */
  /** `from`-typed parquet pages are EXACTLY readable under a `to`
    * read schema (Spark 4's parquet type promotion, probed and
    * spec-pinned): the safe widening lattice for schema evolution —
    * integral up-chain, float→double, and sub-long integrals→double
    * (exact below 2^53 by construction). long→double is NOT here
    * (silent precision loss above 2^53), nor any narrowing.
    */
  private[graft] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }

  /** Physical names of hidden-transform partition SOURCES — columns
    * whose write-time derivation is type-sensitive (`bucket` hashes
    * an int and a long differently), so widening them would silently
    * break transform-directory pruning. Identity partition columns
    * are fine: directory strings and their casts are type-stable.
    */
  private def transformSources(partCols: Seq[String]): Set[String] =
    partCols.map(parsePartField)
      .filterNot(_.isInstanceOf[PIdentity]).map(_.source).toSet

  private def evolvedSchemaAndMap(prev: StructType, next: StructType,
                                  path: String,
                                  droppedPhys: Set[String],
                                  prevMap: Map[String, String],
                                  reuse: Map[String, String] = Map.empty,
                                  partCols: Seq[String] = Nil)
      : (StructType, Map[String, String]) = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    val noWiden = transformSources(partCols)
    // shared columns: equal stays; a WIDER batch type widens the
    // table schema (metadata-only - old files read exactly under the
    // promoted type); a NARROWER batch type is accepted as-is (its
    // files read under the table's wider type); anything else is
    // silent type drift and refuses
    val widened = prev.fields.map { pf =>
      next.fields.find(_.name == pf.name) match {
        case Some(nf) if pf.dataType == nf.dataType => pf
        case Some(nf) if widens(nf.dataType, pf.dataType) => pf
        case Some(nf) if widens(pf.dataType, nf.dataType) =>
          val phys = l2p(prevMap).getOrElse(pf.name, pf.name)
          require(!noWiden(phys),
            s"snapshot: column ${pf.name} sources a hidden partition " +
              s"transform of $path - widening it would change the " +
              "write-time bucket/transform derivation and break " +
              "pruning; re-layout the table instead")
          pf.copy(dataType = nf.dataType)
        case Some(nf) =>
          throw new IllegalArgumentException(
            s"snapshot: append column ${nf.name} arrives as " +
              s"${nf.dataType} but $path stores ${pf.dataType} - " +
              "refusing the silent type drift; cast before appending")
        case None => pf
      }
    }
    val newFields = next.fields.filterNot(f => prevByName.contains(f.name))
    val reuseL2p = l2p(reuse)
    var used = prev.fieldNames
      .map(n => l2p(prevMap).getOrElse(n, n)).toSet ++
      droppedPhys ++ prevMap.keySet
    var map = prevMap
    newFields.foreach { f =>
      val phys = reuseL2p.get(f.name) match {
        case Some(p) => p
        case None if !used(f.name) => f.name
        case None =>
          Iterator.from(1).map(i => s"${f.name}__p$i")
            .find(c => !used(c)).get
      }
      used += phys
      if (phys != f.name) {
        // the mapping line's separators must never appear inside a
        // mapped name — a '#map=' entry for "a:b" would re-parse
        // into a corrupt mapping; refuse at assignment, loudly
        requireMappableName(f.name)
        requireMappableName(phys)
        map += (phys -> f.name)
      }
    }
    (StructType(widened ++ newFields), map)
  }

  /** The manifest-entry name under which a file's byte length is
    * stored (written at commit, carried verbatim forever after).
    */
  private val LenStat = "__len"

  /** The manifest-entry pseudo-stat carrying a file's row count
    * (absent on entries committed before it existed — consumers fall
    * back, never guess). */
  private val RowsStat = "__rows"

  private def entryRows(e: String): Option[Long] =
    statsOf(e).get(RowsStat).map(_._1.toLong)

  /** Stat-only entry meta: (relative path, row count) with ZERO
    * filesystem access — the aggregate-pushdown pseudo tier folds
    * over shard pseudo-entries (`<dir>/_`, no backing file), where
    * [[entryMeta]]'s `__len` fallback to `getFileStatus` would throw
    * FileNotFoundException instead of letting `evalOver` fall back
    * to the entry tier. Absent stats answer None, never guess. */
  private[graft] def entryMetaStat(e: String): (String, Option[Long]) =
    (relOf(e), entryRows(e))

  // `f` by name: a `__len`-bearing entry opens no filesystem, so a
  // per-entry caller builds no Hadoop configuration copy
  private def entryLen(f: => FileSystem, path: String, e: String): Long =
    statsOf(e).get(LenStat).map(_._1.toLong)
      .getOrElse(f.getFileStatus(entryFilePath(path, relOf(e))).getLen)

  /** (relative path, byte length, row count) of a manifest entry —
    * the [[SnapshotBatchScan]] (DSv2 key-grouped read) plans input
    * partitions and reports statistics from these pseudo-stats,
    * zero file status calls on `__len`-bearing stores. */
  private[graft] def entryMeta(spark: SparkSession, path: String,
                               e: String): (String, Long, Option[Long]) =
    (relOf(e), entryLen(fs(spark, path), path, e), entryRows(e))

  /** The zone a table's directory names were derived under — its
    * [[LayoutTzProp]] at version `at` (latest when absent), UTC when
    * unset. Identity-timestamp directory strings cast back to
    * instants under it, never under the reader's session zone. Only
    * a timestamp value depends on the zone, so a layout whose
    * identity columns (`idTypes`) hold none reads no manifest.
    */
  private[graft] def layoutZone(spark: SparkSession, path: String,
                                at: Option[Long],
                                idTypes: Seq[DataType]): String =
    if (!idTypes.contains(TimestampType)) "UTC"
    // version 0 (files no version lists yet) lays out in UTC, the
    // zone every new table is stamped with
    else at.orElse(latestVersion(spark, path)).filter(_ > 0L)
      .flatMap(v =>
        manifest(fs(spark, path), path, v).props.get(LayoutTzProp))
      .getOrElse("UTC")

  /** An entry's IDENTITY partition values as a catalyst row in the
    * given fields' order (internal values, the same string→type
    * cast Spark's partition discovery applies, under the layout
    * zone `tz`) — [[SnapshotBatchScan]] attaches them per input
    * partition so the parquet reader reconstructs directory-borne
    * columns. `idFields` are PHYSICAL names; `dts` their logical
    * types.
    */
  private[graft] def identityValuesRow(rel: String,
                                       idFields: Seq[String],
                                       dts: Seq[DataType],
                                       tz: String): InternalRow = {
    val vals = partValsOf(rel)
    InternalRow.fromSeq(idFields.zip(dts).map { case (c, dt) =>
      castPartVal(vals.get(c), dt, tz) })
  }

  /** A Hive-partition directory value cast to the partition column's
    * declared type (the same string→type cast Spark's own partition
    * discovery applies; `__HIVE_DEFAULT_PARTITION__` is NULL).
    */
  private def castPartVal(raw: Option[String],
                          dt: DataType, tz: String): Any =
    raw match {
      case None => null
      case Some(s) if s == org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME => null
      case Some(s) =>
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(s),
          dt, Option(tz)).eval(null)
    }

  /** The one relation that turns snapshot data files into rows: the
    * DSv2 relation over a [[GraftTable]] whose explicit state holds
    * exactly `entries`, no delete files, and version `v`'s schema,
    * partition columns and column map. Every read of data files
    * outside the catalog scan — mutation internals, change feeds,
    * sketch passes, streaming batches — opens them here, so the scan
    * alone decides how a file becomes rows; row identity is its
    * [[DvFileCol]]/[[DvPosCol]] metadata columns. `v` pins the
    * manifest the scan's pruning and layout zone consult (0 for
    * files no version lists yet).
    */
  private def openFiles(spark: SparkSession, path: String, v: Long,
                        schema: StructType, partCols: Seq[String],
                        entries: Seq[String],
                        colMap: Map[String, String]): DataFrame =
    readWhere(spark, path, v,
      state = Some((schema, partCols, entries, Nil, colMap)))

  /** Merge-on-read delete files: (file, position) pairs a live read
    * anti-joins out. The Iceberg-v2 positional-delete shape — a
    * delete commits O(deleted rows) of delete-file bytes instead of
    * rewriting whole data files, and [[compact]] applies them
    * physically later.
    */
  private val DvFileCol = SnapshotBatchScan.MetaFileCol
  private val DvPosCol = SnapshotBatchScan.MetaPosCol
  private val DvSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("__file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("__pos",
      org.apache.spark.sql.types.LongType)))

  /** The positional-delete file schema, for writers outside this
    * object ([[GraftDeltaWriter]]). */
  private[graft] def dvWriteSchema: StructType = DvSchema

  private def dvRows(spark: SparkSession, path: String,
                     dvs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(dvs.map(d => s"$path/$d"): _*)
      .select(col("__file").as(DvFileCol), col("__pos").as(DvPosCol))

  /** An EQUALITY DELETE (Iceberg v2's other delete-file kind): a
    * parquet file of KEY VALUES that kills every matching row in
    * files present at its `base` version — committed WITHOUT reading
    * the table at all (the point: a CDC delete batch costs O(batch),
    * not O(table), where the positional `#dv=` path must first scan
    * for row positions). Files appended AFTER the delete's base are
    * untouched, so delete-then-reinsert streams keep their meaning.
    * Stored inside the `#dv=` marker list as
    * `eq:<rel>|<physCols csv>|<baseVersion>` so every commit path
    * carries, compares and retains it exactly like a positional
    * delete file; only the read side tells them apart.
    */
  private[graft] final case class EqDelete(rel: String,
                                           cols: Seq[String], base: Long)

  private[graft] def eqOf(d: String): Option[EqDelete] =
    if (!d.startsWith("eq:")) None
    else d.stripPrefix("eq:").split('|') match {
      case Array(rel, cols, base) if cols.nonEmpty &&
          base.forall(_.isDigit) && base.nonEmpty =>
        Some(EqDelete(rel, cols.split(',').toSeq, base.toLong))
      case _ => throw new IllegalArgumentException(
        s"snapshot: corrupt equality-delete marker '$d' - refusing " +
          "to read the table rather than silently resurrecting " +
          "deleted rows")
    }

  /** The delete-file REL PATH a `#dv=` marker references — the
    * positional form is the path itself; the equality form wraps it.
    */
  private[graft] def dvRelOf(d: String): String =
    eqOf(d).map(_.rel).getOrElse(d)

  /** Live rows of `entries` at version `v` — deletes applied by
    * distributed anti-joins — WITH the row-identity columns
    * ([[DvFileCol]], [[DvPosCol]]) still attached, for mutation
    * discovery and mor-delete writes. Identity is selected from
    * [[openFiles]]' metadata columns BEFORE any join, where the name
    * still resolves against one relation; a consumer that drops
    * [[DvPosCol]] keeps the scan's columnar, split read.
    */
  private def liveWithId(spark: SparkSession, path: String, v: Long,
                         schema: StructType, partCols: Seq[String],
                         entries: Seq[String], dvs: Seq[String],
                         colMap: Map[String, String] = Map.empty)
      : DataFrame = {
    def withIdOf(es: Seq[String]): DataFrame =
      openFiles(spark, path, v, schema, partCols, es, colMap)
        .select(schema.fieldNames.map(col).toSeq ++
          Seq(col(DvFileCol), col(DvPosCol)): _*)
    val pos = dvs.filterNot(_.startsWith("eq:"))
    val eqs = dvs.flatMap(eqOf).sortBy(_.base)
    def afterPos(es: Seq[String]): DataFrame = {
      val w = withIdOf(es)
      if (pos.isEmpty) w
      else w.join(dvRows(spark, path, pos),
        Seq(DvFileCol, DvPosCol), "left_anti")
    }
    if (eqs.isEmpty || entries.isEmpty) afterPos(entries)
    else {
      // an equality delete applies ONLY to files present at its base
      // version. Presence intervals are contiguous (a rel path is
      // never re-added once gone), so the base manifests' entry sets
      // are NESTED over the current entries: group each entry by the
      // FIRST base that contains it, and group i is subject to
      // exactly the deletes i..k — at most k+1 subplans for k
      // equality deletes, unioned back together.
      val f = fs(spark, path)
      val baseRels: Seq[Set[String]] =
        eqs.map(e => manifest(f, path, e.base).entries.map(relOf).toSet)
      entries.groupBy { en =>
        val i = baseRels.indexWhere(_.contains(relOf(en)))
        if (i < 0) eqs.size else i
      }.toSeq.sortBy(_._1).map { case (i, es) =>
        eqs.drop(i).foldLeft(afterPos(es)) { (d, e) =>
          val logicalCols = e.cols.map(c => colMap.getOrElse(c, c))
          val keys = spark.read.parquet(s"$path/${e.rel}")
            .select(e.cols.map(col): _*).toDF(logicalCols: _*)
          d.join(keys, logicalCols, "left_anti")
        }
      }.reduce(_ unionByName _)
    }
  }

  /** One equality delete prepared for the DSv2 in-scan apply: key
    * columns (PHYSICAL names), the collected key tuples (catalyst
    * values, floats normalized, null-bearing tuples dropped — SQL
    * anti-join semantics), and the base version's entry set that
    * scopes which files it kills.
    */
  private[graft] final case class V2EqDelete(physCols: Seq[String],
                                             keys: Array[Array[Any]],
                                             baseRels: Set[String])

  /** Total bytes of a manifest's delete files — the DSv2 routing
    * guard: the in-scan apply ships the delete sliver to every task,
    * so a table whose deletes outgrew sliver size
    * ([[overDeleteBudget]]) reads through the anti-join plan,
    * which applies them distributedly.
    */
  private[graft] def v2DeleteBytes(spark: SparkSession, path: String,
                                   dvs: Seq[String]): Long = {
    val f = fs(spark, path)
    dvs.map(d => f.getFileStatus(new Path(s"$path/${dvRelOf(d)}"))
      .getLen).sum
  }

  /** Positional delete positions grouped per data file (store-rel
    * path → SORTED ascending positions) — the DSv2 reader walks them
    * with a cursor while counting row indices. Driver-side collect,
    * bounded by [[v2DeleteBytes]] before this is called.
    */
  private[graft] def v2PosDeletes(spark: SparkSession, path: String,
                                  dvs: Seq[String])
      : Map[String, Array[Long]] = {
    val pos = dvs.filterNot(_.startsWith("eq:"))
    if (pos.isEmpty) Map.empty
    else dvRows(spark, path, pos)
      .collect()
      .groupBy(_.getString(0))
      .map { case (rel, rows) =>
        rel -> rows.map(_.getLong(1)).distinct.sorted
      }
  }

  /** Spark join-key float semantics for the in-scan eq-delete set
    * probe: -0.0 folds to +0.0 (boxed equals would split them); NaN
    * needs no folding (boxed equals already unifies NaNs, matching
    * SQL's NaN-equals-NaN join rule).
    */
  private[graft] def v2NormKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 =>
      java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case x => x
  }

  /** Equality deletes prepared for the DSv2 scan, base-ascending
    * (the order [[liveWithId]] applies them in). Key values are
    * collected as CATALYST values (UTF8String etc.) so the reader
    * compares them directly against parquet-materialized rows.
    */
  private[graft] def v2EqDeletes(spark: SparkSession, path: String,
                                 dvs: Seq[String])
      : Seq[V2EqDelete] = {
    val eqs = dvs.flatMap(eqOf).sortBy(_.base)
    if (eqs.isEmpty) return Nil
    val f = fs(spark, path)
    eqs.map { e =>
      val keysDf = spark.read.parquet(s"$path/${e.rel}")
        .select(e.cols.map(col): _*)
      val dts = keysDf.schema.fields.map(_.dataType)
      val keys = keysDf.queryExecution.toRdd
        .map(_.copy()).collect()
        .flatMap { r =>
          // a null in any key column matches nothing (anti-join)
          if (dts.indices.exists(r.isNullAt)) None
          else Some(dts.indices
            .map(i => v2NormKey(r.get(i, dts(i)))).toArray)
        }
      V2EqDelete(e.cols, keys,
        manifest(f, path, e.base).entries.map(relOf).toSet)
    }
  }

  /** Live rows of `entries` at version `v`, merge-on-read deletes
    * APPLIED — the read every consumer of current table state goes
    * through: [[liveWithId]] with the identity columns dropped, so
    * without delete files the plan is [[openFiles]]' scan alone.
    */
  private def openLive(spark: SparkSession, path: String, v: Long,
                       schema: StructType, partCols: Seq[String],
                       entries: Seq[String], dvs: Seq[String],
                       colMap: Map[String, String] = Map.empty)
      : DataFrame =
    liveWithId(spark, path, v, schema, partCols, entries, dvs, colMap)
      .select(schema.fieldNames.map(col).toSeq: _*)

  /** Affected-file discovery, DV-aware: the store-relative paths of
    * files holding at least one LIVE row matching an update key —
    * [[affectedFilesPlan]] over [[liveWithId]].
    */
  private def discoverAffected(spark: SparkSession, path: String,
                               v: Long, schema: StructType,
                               partCols: Seq[String],
                               entries: Seq[String], dvs: Seq[String],
                               updates: DataFrame, keyCols: Seq[String],
                               colMap: Map[String, String] = Map.empty)
      : Set[String] =
    affectedFilesPlan(
      liveWithId(spark, path, v, schema, partCols, entries, dvs, colMap),
      updates, keyCols)
      .collect().map(_.getString(0)).toSet

  /** A committed version's (schema, partition columns, entries) —
    * the state a reader or streaming source plans against.
    */
  private[graft] def stateAt(spark: SparkSession, path: String, v: Long)
      : TableState = {
    val m = manifest(fs(spark, path), path, v)
    (m.schema, m.partCols, m.entries, m.dvs, m.colMap)
  }

  /** The physical-name rendering of a logical schema under a column
    * mapping. */
  private[graft] def physicalSchemaOf(schema: StructType,
                                      colMap: Map[String, String])
      : StructType = toPhysicalSchema(schema, colMap)

  /** The entries ADDED between two committed versions, with the
    * destination's schema and partition spec — refusing loudly when
    * the range is not append-only (an overwrite, rollback or
    * retention pass dropped files: "added rows" would be a wrong
    * answer, not an approximation).
    */
  private[graft] def appendDelta(spark: SparkSession, path: String,
                                 fromVersion: Long, toVersion: Long)
      : (StructType, Seq[String], Seq[String], Map[String, String]) = {
    val f = fs(spark, path)
    val mFrom = manifest(f, path, fromVersion)
    val mTo = manifest(f, path, toVersion)
    require(mFrom.dvs.toSet == mTo.dvs.toSet,
      s"snapshot: versions $fromVersion..$toVersion are not append-only " +
        "(a merge-on-read delete landed in the range - rows were " +
        "removed); read the versions directly and diff rows instead")
    // SHARD-LEVEL set difference when both sides are v4: shard files
    // are content-addressed, so a shard named in BOTH manifests holds
    // byte-identical entries and contributes nothing to the delta —
    // only the CHANGED shards load, O(delta) not O(files). A
    // streaming consumer ([[graft.streaming.SnapshotSource]]) runs
    // this diff every trigger; forcing both versions' full lazy
    // entry lists would be the same per-trigger driver tax the v4
    // format removed from batch planning. (Unpartitioned tables
    // re-chunk their single directory group on every append, so the
    // win is dir-partitioned tables — the streaming-fact shape.)
    val delta: Seq[String] =
      if (mFrom.shardRefs.nonEmpty && mTo.shardRefs.nonEmpty) {
        val fromNames = mFrom.shardRefs.map(_.file).toSet
        val toNames = mTo.shardRefs.map(_.file).toSet
        // shared shards are whole-shard SKIPS (observable through
        // the same counters the prune paths report)
        shardsSkipped.addAndGet(
          mTo.shardRefs.count(r => fromNames(r.file)).toLong)
        val oldRels = mFrom.shardRefs.filterNot(r => toNames(r.file))
          .flatMap { r => shardsLoaded.incrementAndGet()
            loadShard(f, path, r.file) }.map(relOf).toSet
        val newEntries = mTo.shardRefs.filterNot(r => fromNames(r.file))
          .flatMap { r => shardsLoaded.incrementAndGet()
            loadShard(f, path, r.file) }
        val newRels = newEntries.map(relOf).toSet
        val dropped = oldRels -- newRels
        require(dropped.isEmpty,
          s"snapshot: versions $fromVersion..$toVersion are not " +
            s"append-only (${dropped.size} files dropped out - an " +
            "overwrite, rollback or retention pass in the range); " +
            "read the versions directly and diff rows instead")
        newEntries.filterNot(e => oldRels(relOf(e)))
      } else {
        val beforeSet = mFrom.entries.map(relOf).toSet
        val dropped = beforeSet -- mTo.entries.map(relOf).toSet
        require(dropped.isEmpty,
          s"snapshot: versions $fromVersion..$toVersion are not " +
            s"append-only (${dropped.size} files dropped out - an " +
            "overwrite, rollback or retention pass in the range); " +
            "read the versions directly and diff rows instead")
        mTo.entries.filterNot(e => beforeSet(relOf(e)))
      }
    (mTo.schema, mTo.partCols, delta, mTo.colMap)
  }

  /** CREATE an EMPTY table: version 1 is a zero-entry manifest
    * carrying the schema and partition spec — no data files at all
    * (v3 manifests store the schema, so an entry-less snapshot is
    * fully readable as zero rows). The SQL catalog's CREATE TABLE,
    * including partitioned layouts, which an empty parquet write
    * cannot bootstrap (a partitioned empty write emits no files).
    * The first append inherits schema and layout like any other.
    */
  def createEmpty(spark: SparkSession, path: String,
                  schema: StructType,
                  partitionBy: Seq[String] = Nil,
                  props: Map[String, String] = Map.empty): Long = {
    props.foreach { case (k, v) => requirePropPair(k, v) }
    require(latestVersion(spark, path).isEmpty,
      s"snapshot: $path already has committed versions")
    val specs = normalizePartSpecs(partitionBy)
    specs.map(parsePartField).foreach(fld =>
      require(schema.fieldNames.contains(fld.source),
        s"snapshot: partition source column ${fld.source} is not in " +
          s"the schema (${schema.fieldNames.mkString(", ")})"))
    specs.foreach(c => require(!c.contains(',') && !c.contains('/'),
      s"snapshot: illegal partition column name '$c'"))
    val f = fs(spark, path)
    if (!tryPublishManifest(f, path, 1L,
        manifestLines(nullableAll(schema), specs, Set.empty,
          "create", Nil, props = props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while creating $path")
    bumpLatestHint(f, path, 1L)
    1L
  }

  /** Commit `df` as the new FULL contents of the table (overwrite
    * semantics — the new snapshot lists only this commit's files),
    * optionally laid out Hive-style under `partitionBy` columns.
    * Returns the new version. Refuses when a concurrent commit lands
    * between this call's start and its publish (an overwrite racing
    * another writer has no commutative order).
    */
  def commit(df: DataFrame, path: String,
             partitionBy: Seq[String] = Nil,
             writeOpts: Map[String, String] = Map.empty): Long = {
    val spark = df.sparkSession
    val base = latestVersion(spark, path)
    // txn markers survive an overwrite (Delta keeps SetTransactions
    // the same way): the STREAM's dedup state must not reset just
    // because a batch job rewrote the table contents
    val bm = base.map(v => manifest(fs(spark, path), path, v))
    writeCommit(spark, df, path, Nil, nullableAll(df.schema),
      normalizePartSpecs(partitionBy), Set.empty,
      bm.map(_.txns).getOrElse(Map.empty), Nil,
      Map.empty, base, RefuseConflict("overwriting"), "overwrite",
      bm.map(_.props).getOrElse(Map.empty), writeOpts = writeOpts)
  }

  /** Commit `df` as an APPEND: the new snapshot = previous snapshot's
    * files + this commit's files. Only the delta is written — the
    * 100 TB append costs the append. Schema evolution: columns new in
    * `df` join the snapshot schema (old files null-fill them); columns
    * `df` lacks stay (the new files null-fill); a type change on a
    * shared name refuses loudly. Partitioning is inherited from the
    * table. Under a concurrent commit the append REBASES (re-carries
    * the winner's files) and retries — appends commute, so both
    * writers' rows always survive.
    *
    * `txn = (appId, batchId)` makes the append EXACTLY-ONCE under
    * at-least-once replay (the Delta txnAppId/txnVersion contract):
    * the manifest records the newest batchId committed per appId,
    * carried forward by every commit, and an append whose txn is
    * already covered NO-OPS — so a streaming query that crashed
    * between its commit and its checkpoint write replays the batch
    * harmlessly. Requires batchIds monotonically increasing per
    * appId (what a single streaming query delivers); appIds may not
    * contain ':' or newlines.
    */
  def commitAppend(df: DataFrame, path: String,
                   txn: Option[(String, Long)] = None,
                   writeOpts: Map[String, String] = Map.empty): Long = {
    txn.foreach { case (a, _) =>
      require(a.nonEmpty && !a.contains(':') && !a.contains('\n'),
        s"snapshot: txn appId '$a' must be non-empty without ':'/newline")
    }
    val spark = df.sparkSession
    val f = fs(spark, path)
    val base = latestVersion(spark, path)
    val (carried, schema, partCols, dropped, txns, dvs, colMap, props) =
      base match {
        case Some(v) =>
          val m = manifest(f, path, v)
          // replay guard: this (appId, batchId) already committed —
          // the whole append, INCLUDING the data write, is skipped
          txn.foreach { case (a, b) =>
            if (m.txns.get(a).exists(_ >= b)) return v
          }
          val (s2, map2) = evolvedSchemaAndMap(
            m.schema, nullableAll(df.schema),
            path, m.dropped, m.colMap, partCols = m.partCols)
          (m.entries, s2, m.partCols, m.dropped, m.txns, m.dvs, map2,
            m.props)
        case None => (Nil, nullableAll(df.schema), Nil,
          Set.empty[String], Map.empty[String, Long], Nil,
          Map.empty[String, String], Map.empty[String, String])
      }
    writeCommit(spark, df, path, carried, schema, partCols, dropped,
      txns, dvs, colMap, base, RebaseAppend, "append", props,
      ownTxn = txn, writeOpts = writeOpts)
  }

  /** OVERWRITE-BY-FILTER in ONE atomic commit (the DSv2
    * `SupportsOverwrite` contract; `INSERT OVERWRITE t PARTITION
    * (k=v)` and `df.writeTo(t).overwrite(cond)` lower here): rows
    * matching `predicate` are replaced by `batch` — affected files
    * rewritten minus their matching rows, every other file carried
    * untouched, the new batch appended, all in a single manifest
    * claim (no delete-then-append window where a reader sees
    * neither). Cost ∝ affected files + batch, never the table.
    */
  def overwriteWhere(spark: SparkSession, path: String,
                     predicate: Column, batch: DataFrame,
                     writeOpts: Map[String, String] = Map.empty)
      : Long = {
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "overwrite into")
    requireLocalEntries(all, path, "overwrite into")
    val unknown = batch.columns.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"snapshot: batch column(s) ${unknown.mkString(", ")} are not " +
        s"in the table schema (${schema.fieldNames.mkString(", ")}) - " +
        "overwriteWhere does not evolve schemas")
    requireSameTypes(schema, batch.schema, "overwriteWhere batch")
    val affected =
      if (all.isEmpty) Set.empty[String]
      else liveWithId(spark, path, v, schema, partCols, all,
          dvs, colMap)
        .filter(coalesce(predicate, lit(false)))
        .select(DvFileCol).distinct()
        .collect().map(_.getString(0)).toSet
    val carried = all.filterNot(e => affected(relOf(e)))
    val aligned = batch.select(schema.fieldNames.map(col).toSeq: _*)
    // nothing matched: the overwrite degenerates to a pure append of
    // the batch (no empty-entry read plan to build)
    val out =
      if (affected.isEmpty) aligned
      else openLive(spark, path, v, schema, partCols,
          all.filter(e => affected(relOf(e))), dvs, colMap)
        .filter(not(coalesce(predicate, lit(false))))
        // carried files still need the old delete markers; markers
        // naming rewritten files go stale-but-harmless (the
        // anti-join matches nothing)
        .unionByName(aligned)
    writeCommit(spark, out, path, carried, schema, partCols, dropped,
      txns, dvs, colMap, Some(v),
      RebaseRewrite("overwriting into", affected, dvs),
      "overwriteWhere", st.props, writeOpts = writeOpts)
  }

  // --- write-audit-publish (Iceberg's WAP staging) -------------------

  private val HeaderStaged = "graft-snapshot-staged-1"
  private def stagedManifestPath(base: String, id: String): Path = {
    require(id.nonEmpty && id.forall(c => c.isLetterOrDigit ||
        c == '.' || c == '_' || c == '-') && !id.startsWith("."),
      s"snapshot: illegal wap id '$id' (letters, digits, '.', '_', " +
        "'-' only, no leading dot)")
    new Path(s"$base/_staged/$id.manifest")
  }

  /** base version, batch schema, partCols, stage-time colMap, fresh
    * entries of a staged append. */
  private def parseStaged(f: FileSystem, path: String, id: String)
      : (Long, StructType, Seq[String], Map[String, String],
         Seq[String]) = {
    val p = stagedManifestPath(path, id)
    require(f.exists(p),
      s"snapshot: no staged append '$id' under $path")
    val lines = readLines(f, p)
    require(lines.headOption.contains(HeaderStaged) &&
        lines.size >= 4 && lines(3).startsWith("#base="),
      s"snapshot: ${p.getName} is not a staged-append manifest")
    val batchSchema =
      DataType.fromJson(lines(1)).asInstanceOf[StructType]
    val parts = if (lines(2) == "-") Nil else lines(2).split(',').toSeq
    val baseV = lines(3).stripPrefix("#base=").toLong
    val body = lines.drop(4).filter(_.nonEmpty)
    val colMap = body.collectFirst {
      case l if l.startsWith("#map=") =>
        l.stripPrefix("#map=").split(';').iterator.filter(_.nonEmpty)
          .map { pair =>
            val i = pair.indexOf(':')
            require(i > 0, s"snapshot: malformed #map pair '$pair'")
            pair.substring(0, i) -> pair.substring(i + 1)
          }.toMap
    }.getOrElse(Map.empty[String, String])
    (baseV, batchSchema, parts, colMap,
      body.filterNot(_.startsWith("#")))
  }

  /** WRITE-AUDIT-PUBLISH, stage 1 (Iceberg's WAP pattern): write the
    * batch's data files and stats-bearing entries under the table,
    * but publish NO version — readers see nothing until
    * [[publishStaged]]. The audit step reads the would-be table via
    * [[readStaged]] (base snapshot + staged files), runs its quality
    * checks, then either publishes (one atomic OCC commit, rebasing
    * over whatever landed since staging — append semantics) or
    * [[dropStaged]] discards the bytes. The expensive half (writing
    * 100 TB-scale files) happens before the gate; the gate itself is
    * a metadata operation.
    */
  def stageAppend(df: DataFrame, path: String, wapId: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val target = stagedManifestPath(path, wapId)
    require(!f.exists(target),
      s"snapshot: staged append '$wapId' already exists under $path " +
        "- publish or drop it first")
    val st @ CurState(v, schema, partCols, dropped, _, _, colMap, _) =
      currentState(spark, path, "stage an append onto")
    // validate evolution NOW - a doomed batch should fail before
    // writing terabytes, not at publish
    evolvedSchemaAndMap(schema, nullableAll(df.schema), path,
      dropped, colMap, partCols = partCols)
    val (commitDir, fresh) =
      writeBatchFiles(spark, df, path, partCols, colMap, st.props)
    if (fresh.isEmpty) { // zero-row batch: nothing to audit
      f.delete(new Path(s"$path/$commitDir"), true)
      return
    }
    writeTextAtomic(f, target,
      HeaderStaged +: nullableAll(df.schema).json +:
        (if (partCols.isEmpty) "-" else partCols.mkString(",")) +:
        (Seq(s"#base=$v") ++
          (if (colMap.isEmpty) Nil
           else Seq(s"#map=" + colMap.toSeq.sorted.map {
             case (p, l) => s"$p:$l" }.mkString(";"))) ++
          fresh))
  }

  /** The staged table as the AUDIT step sees it: the staging-time
    * base snapshot plus the staged files — merge-on-read deletes
    * applied, column mapping respected. Plain [[read]] keeps serving
    * the published table untouched.
    */
  def readStaged(spark: SparkSession, path: String,
                 wapId: String): DataFrame = {
    val f = fs(spark, path)
    val (baseV, batchSchema, _, stagedMap, entries) =
      parseStaged(f, path, wapId)
    val m = manifest(f, path, baseV)
    val (s2, map2) = evolvedSchemaAndMap(m.schema,
      batchSchema, path, m.dropped, m.colMap, reuse = stagedMap,
      partCols = m.partCols)
    readWhere(spark, path, baseV,
      state = Some((s2, m.partCols, m.entries ++ entries, m.dvs, map2)))
  }

  /** WRITE-AUDIT-PUBLISH, stage 2: atomically publish a staged
    * append as the next version — pure metadata (the files are
    * already in place). Rebases over anything that committed since
    * staging exactly like a live append (appended rows ride along;
    * the staged files attach to the CURRENT entry list), and refuses
    * loudly when a concurrent schema change moved one of the batch's
    * columns to a different physical name or the partition spec
    * evolved — the staged bytes would be wrong, not just stale.
    */
  def publishStaged(spark: SparkSession, path: String,
                    wapId: String): Long = {
    val f = fs(spark, path)
    val (_, batchSchema, stagedParts, stagedMap, fresh) =
      parseStaged(f, path, wapId)
    val freshRels = fresh.map(relOf).toSet
    var committed = -1L
    while (committed < 0L) {
      val base = allManifestVersions(f, path).last
      val m = manifest(f, path, base)
      // a RETRIED gate racing its own earlier publish: the winner
      // already attached these files - publishing again would
      // double-append them. No-op like a replayed txn batch.
      if (freshRels.subsetOf(m.entries.map(relOf).toSet)) {
        f.delete(stagedManifestPath(path, wapId), false)
        return base
      }
      require(m.partCols == stagedParts,
        s"snapshot: the partition spec of $path changed since '$wapId' " +
          s"was staged (${m.partCols.mkString(",")} vs " +
          s"${stagedParts.mkString(",")}) - the staged layout is " +
          "wrong; drop the staged append and re-stage")
      val (s2, map2) = evolvedSchemaAndMap(
        m.schema, batchSchema, path, m.dropped,
        m.colMap, reuse = stagedMap, partCols = m.partCols)
      val oldP = l2p(stagedMap); val newP = l2p(map2)
      batchSchema.fieldNames.foreach(c => require(
        oldP.getOrElse(c, c) == newP.getOrElse(c, c),
        s"snapshot: a schema change (rename/drop) on $path since " +
          s"'$wapId' was staged moved column '$c' to a different " +
          "physical name - the staged bytes are wrong; drop the " +
          "staged append and re-stage"))
      // The staged-manifest existence check and the claim must be ONE
      // atomic step with respect to [[dropStaged]] (which holds the
      // same monitor): a drop landing between a bare exists() and the
      // claim would delete the staged data files AFTER this publish
      // attached them — committing a version whose entries (carried
      // forward by every later commit) reference deleted files. Inside
      // the monitor, a racing drop either ran first (the manifest is
      // gone → loud refusal, nothing committed) or waits until the
      // claim AND the manifest removal below are done (the manifest is
      // gone → its own refusal; the files are published data now).
      val won = monitorFor(f, path).synchronized {
        require(f.exists(stagedManifestPath(path, wapId)),
          s"snapshot: staged append '$wapId' was dropped while " +
            "publishing - nothing committed")
        onBeforeStagedClaim()
        if (tryPublishManifest(f, path, base + 1L,
            manifestLines(s2, m.partCols, m.dropped,
              s"publish-staged(wap=$wapId)", m.entries ++ fresh,
              m.txns, m.dvs, map2, m.props))) {
          f.delete(stagedManifestPath(path, wapId), false)
          true
        } else false
      }
      if (won) {
        bumpLatestHint(f, path, base + 1L)
        committed = base + 1L
      }
    }
    committed
  }

  /** Abandon a staged append: delete its data files and staging
    * manifest. The published table never knew it existed.
    */
  def dropStaged(spark: SparkSession, path: String,
                 wapId: String): Unit = {
    val f = fs(spark, path)
    // Parse + manifest removal under the commit monitor — the same
    // monitor [[publishStaged]] holds across its existence check and
    // claim — so this drop cannot interleave inside a publish's
    // commit window. Once the manifest is deleted here no publish can
    // attach the files; if a publish already won, the manifest is
    // gone and the require below refuses before touching any file
    // (the bytes are published table data now, not staged garbage).
    val entries = monitorFor(f, path).synchronized {
      val (_, _, _, _, es) = parseStaged(f, path, wapId)
      f.delete(stagedManifestPath(path, wapId), false)
      es
    }
    entries.map(relOf).map(_.split('/').take(2).mkString("/"))
      .distinct.foreach(d => f.delete(new Path(s"$path/$d"), true))
    ()
  }

  /** Pending staged appends (wap ids). */
  def listStaged(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_staged")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.endsWith(".manifest") =>
        n.stripSuffix(".manifest") }.sorted
  }

  /** DYNAMIC PARTITION OVERWRITE: atomically replace exactly the
    * partitions present in `df` — the table-format form of the
    * reference's idempotent monthly rerun (`conte-etl-step-2-manager
    * .py`: recompute one month, overwrite that month's directory,
    * touch nothing else). The new manifest carries every file whose
    * partition tuple does NOT appear in `df` and adds `df`'s files;
    * an untouched month costs zero IO, a replayed rerun converges to
    * the same table (idempotent), and the swap is one commit —
    * readers see the old month or the new month, never a mix.
    * Requires a partitioned table; refuses on concurrent commits
    * like every other rewrite.
    */
  def replacePartitions(df: DataFrame, path: String): Long = {
    val spark = df.sparkSession
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "replace partitions of")
    require(partCols.nonEmpty,
      s"snapshot: $path is not partitioned - replacePartitions " +
        "needs partition columns (commit with partitionBy first); " +
        "use commit for whole-table overwrite")
    val lp = st.lPartCols
    lp.foreach(c => require(df.columns.contains(c),
      s"snapshot: partition column $c is missing from the batch " +
        s"(${df.columns.mkString(", ")})"))
    // an unknown batch column would be WRITTEN into the new files but
    // hidden by the committed schema — a silently lost write (typo'd
    // backfills); refuse like merge does
    val unknown = df.columns.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"snapshot: batch column(s) ${unknown.mkString(", ")} are not " +
        s"in the table schema (${schema.fieldNames.mkString(", ")}) - " +
        "replacePartitions does not evolve schemas; commitAppend or " +
        "addColumns first")
    requireSameTypes(schema, df.schema, "replacePartitions batch")
    // the replaced partition tuples, as the directory-name strings
    // the manifest entries carry (unescaped by partValsOf) —
    // collected once, bounded by the batch's distinct partition
    // count. The strings MUST come from an in-plan cast-to-string:
    // that is the exact cast Spark's dynamic-partition write uses to
    // name the directories, where a JVM-side Row.get(i).toString
    // diverges for timestamps (java.sql.Timestamp appends '.0',
    // Instant.toString differs wholesale under the java8 datetime
    // API) and the mismatch would silently CARRY the replaced
    // partition's old files alongside the new ones
    // hidden-transform fields replace at DERIVED-directory grain
    // (`days(ts)` ⇒ the day partitions the batch touches are
    // replaced whole — the idempotent-backfill semantics, with the
    // user never materializing the derived column)
    val fields = partCols.map(parsePartField)
    // files written before a partition-spec evolution lack the
    // current spec's directory keys: "replace this day" could not
    // see day rows hiding in old-layout files, silently duplicating
    // the backfill - refuse until a compact migrates the layout
    val stale = all.filterNot(e => fields.forall(fld =>
      partValsOf(relOf(e)).contains(fld.dirName)))
    require(stale.isEmpty,
      s"snapshot: ${stale.size} file(s) of $path predate the current " +
        s"partition spec (${partCols.mkString(", ")}) and carry no " +
        "directory values for it - replacePartitions cannot bound " +
        "the replacement; compact (scoped or full) to migrate the " +
        "layout first")
    val doomed: Set[Seq[String]] = df
      .select(fields.zip(lp).map { case (fld, lsrc) =>
        fld.derive(col(lsrc), df.schema(lsrc).dataType)
          .cast("string").as(fld.dirName)
      }: _*)
      .distinct()
      .collect().map(r =>
        lp.indices.map(i => dirValue(r.getString(i))): Seq[String]).toSet
    val carried = all.filterNot { e =>
      val vals = partValsOf(relOf(e))
      doomed.contains(fields.map(fld => vals.getOrElse(fld.dirName,
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME)))
    }
    writeCommit(spark, df, path, carried, schema, partCols, dropped,
      txns, dvs, colMap, Some(v),
      RefuseConflict("replacing partitions of"), "replacePartitions", st.props)
  }

  /** Read a snapshot: the latest, or any committed `version` (time
    * travel). The file list comes from the immutable manifest, so the
    * read is consistent whatever commits land meanwhile — and so does
    * the SCHEMA: each version reads with the schema its manifest
    * stores (a file from before a column was added null-fills it),
    * never whichever random file footer Spark happens to sample,
    * which after an evolution would silently drop or surface columns
    * depending on sampling luck. The result is the same DSv2 relation
    * catalog SQL plans ([[readWhere]]), so filters applied to it
    * prune files through the scan's pushdown.
    */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame =
    readWhere(spark, path, resolveVersion(spark, path, version))

  /** `SELECT count(*)`: the scan's aggregate pushdown answers from
    * the manifest when its pseudo-stats prove the count (positional
    * deletes subtracted per file) and scans otherwise, never
    * guessing. At 100 TB the difference is one manifest read vs
    * opening a million footers.
    */
  def rowCount(spark: SparkSession, path: String,
               version: Option[Long] = None): Long =
    read(spark, path, version).count()

  private def resolveVersion(spark: SparkSession, path: String,
                             version: Option[Long]): Long =
    version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no committed version under $path"))

  /** A version's (schema, partition columns, entries, delete files,
    * column map) — what a [[GraftTable]] reads. */
  private[graft] type TableState = (StructType, Seq[String], Seq[String],
    Seq[String], Map[String, String])

  /** The conf key bounding the delete-file bytes the DSv2 scan ships
    * to every task. */
  private[graft] val MaxDeleteBytesConf =
    "spark.graft.snapshot.v2.maxDeleteBytes"

  /** True when a version's delete files outgrow what the DSv2 scan
    * ships to every task (a pathological merge-on-read backlog;
    * compaction is overdue anyway): such a version reads through the
    * distributed anti-join plan instead. */
  private[graft] def overDeleteBudget(spark: SparkSession, path: String,
                                      dvs: Seq[String]): Boolean =
    dvs.nonEmpty && v2DeleteBytes(spark, path, dvs) >
      spark.conf.get(MaxDeleteBytesConf, (64L << 20).toString).toLong

  /** The one batch read route behind every snapshot front door:
    * version `v` (or the explicit `state`) as the DSv2 relation over
    * a pinned [[GraftTable]], filtered by `where`. Spark pushes
    * `where` into the scan, which skips files and shards through the
    * manifest keep-predicates ([[filterKeepFn]]) and applies deletes
    * in-scan. Past the delete-shipping budget ([[overDeleteBudget]])
    * the same keep-predicates select the entries [[openLive]] reads:
    * the same DSv2 scan with no deletes, which the distributed
    * anti-joins then apply, so point and range reads keep their
    * skipping there too. `where` stays in-plan as the residual
    * (lenient translation: a filter that does not translate is
    * dropped, never narrowed), so skipping is IO-only.
    */
  private[graft] def readWhere(spark: SparkSession, path: String, v: Long,
                               where: Seq[sources.Filter] = Nil,
                               state: Option[TableState] = None)
      : DataFrame = {
    val table = new GraftTable(spark, path, s"$path@v$v", Some(v),
      mutable = false, state)
    val base =
      if (!table.overDeleteBudget)
        org.apache.spark.sql.graft.Bridge.ofRows(spark,
          org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation.create(table, Some(TransformFunctions),
              None))
      else {
        val (schema, partCols, entries, dvs, colMap) = table.pinnedState
        openLive(spark, path, v, schema, partCols,
          keptByFilters(spark, path, v, schema, where, entries,
            walk = state.isEmpty), dvs, colMap)
      }
    where.flatMap(FilterTranslate.lenient).reduceOption(_ && _)
      .fold(base)(base.filter)
  }

  /** The one V1 relation over [[readWhere]], for the V1 consumers:
    * the catalog scan past the delete-shipping budget,
    * `format("graft-snapshot")` loads and streaming micro-batches.
    * Spark's pushed filters become `readWhere`'s skipping
    * predicates (it re-applies every filter above), exactly the
    * required columns are selected, and rows leave as the frame's
    * own `InternalRow`s — no external-`Row` round trip.
    */
  private[graft] def readWhereRelation(spark: SparkSession, path: String,
                                       v: Long,
                                       state: Option[TableState] = None)
      : sources.BaseRelation with sources.TableScan
        with sources.PrunedFilteredScan =
    new sources.BaseRelation with sources.TableScan
        with sources.PrunedFilteredScan {
      override val sqlContext: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      override lazy val schema: StructType =
        state.getOrElse(stateAt(spark, path, v))._1
      override def needConversion: Boolean = false
      override def buildScan()
          : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        buildScan(schema.fieldNames, Array.empty)
      override def buildScan(requiredColumns: Array[String],
                             filters: Array[sources.Filter])
          : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
        val df = readWhere(spark, path, v, filters.toSeq, state)
        df.select(requiredColumns.toSeq.map(c =>
            df.col("`" + c.replace("`", "``") + "`")): _*)
          .queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
      }
    }

  /** Time travel BY TIMESTAMP — Delta's `timestampAsOf` posture: the
    * newest version whose manifest file's modification time is at or
    * before `tsMillis` (commit time IS the manifest's filesystem
    * mtime — no extra metadata write, and rename/create preserve it
    * the same way Delta's commit-log files carry theirs). Refuses
    * when the table has no version that old. "Which corpus was live
    * when the incident started" without knowing a version number.
    */
  def versionAsOf(spark: SparkSession, path: String,
                  tsMillis: Long): Long = {
    val f = fs(spark, path)
    val at = allManifestVersions(f, path)
      .map(v => v -> f.getFileStatus(manifestPath(path, v))
        .getModificationTime)
      .filter(_._2 <= tsMillis)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"snapshot: no version of $path existed at or before " +
        s"${java.time.Instant.ofEpochMilli(tsMillis)} (earliest " +
        "manifest is newer); use an explicit version instead")
    at.maxBy(v => (v._2, v._1))._1
  }

  /** [[read]] at the version live at `tsMillis` — see
    * [[versionAsOf]].
    */
  def readAsOf(spark: SparkSession, path: String,
               tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAsOf(spark, path, tsMillis)))

  /** Range scan with MANIFEST-LEVEL file skipping: files whose
    * committed min/max stats — or whose partition-directory value —
    * prove no row can satisfy `column BETWEEN lo AND hi` are never
    * opened, not even their footers. Parquet row-group pruning needs
    * a footer read per file; at 100 TB with millions of files the
    * open/footer pass IS the scan bottleneck for selective queries,
    * and manifest stats cut it to the overlapping sliver (after a
    * [[compact]] with `sortBy` on the column, that sliver is ~1
    * file; on a partition column it is exactly the overlapping
    * partitions). The bounds reach the scan as pushed filters
    * ([[boundKeepFn]]); files without stats for the column are read,
    * never wrongly skipped, and the residual in-plan BETWEEN keeps
    * the result exact regardless of how coarse the pruning was.
    */
  def readBetween(spark: SparkSession, path: String, column: String,
                  lo: Double, hi: Double,
                  version: Option[Long] = None): DataFrame = {
    val v = resolveVersion(spark, path, version)
    val schema = stateAt(spark, path, v)._1
    require(schema.fieldNames.contains(column),
      s"snapshot: readBetween column $column is not in the table " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    // integral column → long bounds (ceil the lower, floor the
    // upper: the same rows for integral values), so the predicate
    // reaches the scan as a pushed filter instead of hiding behind a
    // cast-to-double; bounds outside the long range stay doubles
    val integral = schema(column).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    def bound(d: Double, round: Double => Double): Any =
      if (integral && d >= Long.MinValue.toDouble &&
          d < Long.MaxValue.toDouble) round(d).toLong
      else d
    readWhere(spark, path, v, Seq(
      sources.GreaterThanOrEqual(column, bound(lo, math.ceil)),
      sources.LessThanOrEqual(column, bound(hi, math.floor))))
  }

  /** [[readBetween]] for STRING columns: manifest-level file skipping
    * from 16-byte truncated-prefix bounds (Parquet's own truncation
    * rule) or string partition-directory values — the `source` /
    * `lang` / `url` range scans a text corpus lives by. Bounds
    * compare in UTF-8 byte order, the order Spark's own string
    * comparison uses, and are conservative by construction, so a
    * boundary-straddling file is read, never skipped; the residual
    * in-plan BETWEEN keeps the result exact.
    */
  def readBetweenStrings(spark: SparkSession, path: String,
                         column: String, lo: String, hi: String,
                         version: Option[Long] = None): DataFrame = {
    // order check in UTF-8 BYTE order — the order the pruning, the
    // residual filter (UTF8String) and the stats all use; Java's
    // UTF-16 compare disagrees for supplementary-plane characters
    require(bytesCompare(
      lo.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0,
      s"snapshot: string range is backwards ('$lo' > '$hi')")
    val v = resolveVersion(spark, path, version)
    val schema = stateAt(spark, path, v)._1
    require(schema.fieldNames.contains(column),
      s"snapshot: readBetweenStrings column $column is not in the " +
        s"table schema (${schema.fieldNames.mkString(", ")})")
    require(schema(column).dataType ==
      org.apache.spark.sql.types.StringType,
      s"snapshot: $column is ${schema(column).dataType.simpleString}, " +
        "not string - use readBetween for numeric ranges")
    readWhere(spark, path, v, Seq(
      sources.GreaterThanOrEqual(column, lo),
      sources.LessThanOrEqual(column, hi)))
  }

  /** The manifest entries a `column = value` point lookup must read,
    * against the total entry count. Proof sources, strongest first:
    * a HIDDEN-transform partition directory on the column (bucket /
    * years / months / days / hours / truncate — the value's derived
    * directory string is computed with the EXACT write-time
    * expressions, so only the matching bucket or day survives), an
    * identity partition directory, then numeric / string file stats.
    * An entry none of them can disprove is kept — prune only on
    * proof.
    */
  /** `useFileStats = false` prefers partition-DIRECTORY proof
    * (hidden transforms + identity) over file stats — what scoped
    * compaction wants: `scope = ("ts" -> someTimestamp)` on a
    * days(ts) layout means "the partition sliver this value lands
    * in" (ALL of that day's fragments), and file min/max stats
    * would narrow it to the one file holding that exact value,
    * turning the bin-pack into a no-op. When the column derives NO
    * partition field, stats remain the only proof and stay on
    * (scoping a non-layout column to an absent value must still
    * select nothing). Reads always keep stats pruning on.
    */
  private[graft] def prunedEntriesEquals(spark: SparkSession,
                                         path: String, column: String,
                                         value: Any,
                                         version: Option[Long] = None,
                                         useFileStats: Boolean = true)
      : (Seq[String], Int) = {
    require(value != null,
      "snapshot: readEquals needs a non-null value (col = NULL " +
        "matches nothing in SQL; use isNull reads instead)")
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    val m = manifest(f, path, v)
    val schema = m.schema
    require(schema.fieldNames.contains(column),
      s"snapshot: readEquals column $column is not in the table " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    val keep = equalsKeepFn(spark, path, column, value, Some(v),
      useFileStats).get // non-null value + column checked above
    (pruneCandidates(f, path, m)(keep).filter(keep), entryCountOf(m))
  }

  /** The per-entry KEEP predicate for `column = value` — directory
    * derivation (hidden transforms included), file stats and typed
    * bloom blocks, identical to [[prunedEntriesEquals]]'s walk (it
    * delegates here). None only for a null value or unknown column.
    * Sound on shard pseudo-entries (blooms never ride pseudos), so
    * the DSv2 scan composes it into its one-walk tree predicate.
    */
  private[graft] def equalsKeepFn(spark: SparkSession,
                                  path: String, column: String,
                                  value: Any,
                                  version: Option[Long] = None,
                                  useFileStats: Boolean = true)
      : Option[String => Boolean] = {
    if (value == null) return None
    val v = resolveVersion(spark, path, version)
    val m = manifest(fs(spark, path), path, v)
    val schema = m.schema
    if (!schema.fieldNames.contains(column)) return None
    val dt = schema(column).dataType
    val phys = toPhysicalName(m.colMap, column)
    val allFields = m.partCols.map(parsePartField)
      .filter(_.source == phys)
    // tz-distrusted fields derive nothing (foreign-zone legacy
    // layout), but still count as "the column HAS partition fields"
    // for the stats-scoping decision below — a scoped compaction
    // (useFileStats=false) must not silently fall back to stats
    // narrowing just because the dirs are unprovable
    val fields = allFields
      .filter(fld => dirDeriveTrusted(m.props, fld, dt))
    // one LOCAL 1-row plan derives every relevant field's directory
    // string for `value` — same expressions, same cast-to-string the
    // dynamic-partition writer used to name the directories, so the
    // comparison can never skew from the layout. Derived under the
    // PINNED UTC session ([[utcDeriveSession]]) — the zone the write
    // path lays directories out in — so a reader session in any tz
    // derives the same dir values the writer did
    val expect: Map[String, String] =
      if (fields.isEmpty) Map.empty
      else {
        val row = utcDeriveSession(spark).range(1).select(fields.map(fld =>
          fld.derive(lit(value).cast(dt), dt).cast("string")
            .as(fld.dirName)): _*).head()
        fields.zipWithIndex.map { case (fld, i) =>
          fld.dirName -> dirValue(row.getString(i))
        }.toMap
      }
    val numVal: Option[Double] = (dt, value) match {
      case (_: org.apache.spark.sql.types.NumericType, n: Number) =>
        Some(n.doubleValue())
      // SQL surfaces (CALL compact scope) pass values as strings;
      // coerce so stats pruning still proves for numeric columns
      case (_: org.apache.spark.sql.types.NumericType, s: String) =>
        s.toDoubleOption
      // DATE stats commit as epoch days ([[footerStats]]); coerce the
      // literal to the same unit so point lookups on date columns
      // stat-prune too
      case (org.apache.spark.sql.types.DateType, d: java.sql.Date) =>
        Some(d.toLocalDate.toEpochDay.toDouble)
      case (org.apache.spark.sql.types.DateType,
            d: java.time.LocalDate) => Some(d.toEpochDay.toDouble)
      case _ => None
    }
    val strVal: Option[Array[Byte]] = (dt, value) match {
      case (org.apache.spark.sql.types.StringType, s: String) =>
        Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
    // timestamp point lookups prune through the 'U' micros bounds
    val tsVal: Option[Long] = (dt, value) match {
      case (org.apache.spark.sql.types.TimestampType,
            t: java.sql.Timestamp) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(t))
      case (org.apache.spark.sql.types.TimestampType,
            t: java.time.Instant) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .instantToMicros(t))
      case (org.apache.spark.sql.types.TimestampNTZType,
            t: java.time.LocalDateTime) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .localDateTimeToMicros(t))
      case _ => None
    }
    // lookup-literal hashes for the 'B' bloom blocks, derived
    // through a 1-row local plan with the SAME codegen'd hash
    // functions the sketch pass folded with (xxhash64 + murmur3) —
    // computed lazily, only when a kept entry actually carries a
    // bloom for this column
    lazy val bloomHashes: Option[(Long, Long)] = scala.util.Try {
      val r = spark.range(1).select(
        org.apache.spark.sql.functions.xxhash64(
          lit(value).cast(dt)).as("h1"),
        org.apache.spark.sql.functions.hash(
          lit(value).cast(dt)).cast("long").as("h2")).head()
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((r.getLong(0), r.getLong(1)))
    }.toOption.flatten
    def keep(e: String): Boolean = {
      val vals = partValsOf(relOf(e))
      val dirOk = expect.forall { case (k, exp) =>
        vals.get(k).forall(_ == exp) }
      val statsApply = useFileStats || allFields.isEmpty
      val statOk = !statsApply ||
        numVal.forall(d => statsOf(e).get(phys).forall {
          case (mn, mx) => mx >= d && mn <= d })
      val sOk = !statsApply ||
        strVal.forall(b => stringStatsOf(e).get(phys).forall {
          case (mn, mxOpt) => bytesCompare(mn, b) <= 0 &&
            mxOpt.forall(mx => bytesCompare(mx, b) >= 0) })
      val tsOk = !statsApply ||
        tsVal.forall(u => tsStatsOf(e).get(phys).forall {
          case (mn, mx) => mx >= u && mn <= u })
      // bloom proof: a committed 'B' block whose k positions are not
      // all set PROVES the file lacks the value (modulo nothing —
      // absence is exact; presence is the maybe side). Shard
      // pseudo-entries never carry 'B', so shards keep and the
      // per-file test runs after descend.
      val bloomOk = !statsApply ||
        (bloomStatsOf(e).get(phys) match {
          // only a block whose hashed-type tag MATCHES the current
          // column type is probative: after a schema widening
          // (int→long) the committed bits hash the old type while
          // the lookup literal hashes the new — a mismatched or
          // untagged block is skipped (file kept), never trusted
          case Some((mb, k, words, Some(tag)))
              if tag == dt.catalogString =>
            bloomHashes.forall { case (h1, h2) =>
              bloomMightContain(mb, k, words, h1, h2) }
          case _ => true
        })
      dirOk && statOk && sOk && tsOk && bloomOk
    }
    Some(keep)
  }

  /** Point lookup with MANIFEST-LEVEL file skipping: `column =
    * value` reads only the files whose partition directories —
    * including HIDDEN transform directories (`bucket(n, col)` cuts
    * the scan to 1/n of the table with the source column untouched
    * in the data files; `days(ts)` to one day) — and file stats
    * cannot disprove a match ([[equalsKeepFn]], through the scan's
    * pushdown). The residual in-plan equality keeps the result
    * exact however coarse the pruning was. This is the Iceberg
    * hidden-partitioning read path: the caller names the DATA
    * column; the layout's transforms are the store's concern.
    */
  def readEquals(spark: SparkSession, path: String, column: String,
                 value: Any, version: Option[Long] = None): DataFrame = {
    require(value != null,
      "snapshot: readEquals needs a non-null value (col = NULL " +
        "matches nothing in SQL; use isNull reads instead)")
    val v = resolveVersion(spark, path, version)
    val schema = stateAt(spark, path, v)._1
    require(schema.fieldNames.contains(column),
      s"snapshot: readEquals column $column is not in the table " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    // the value cast to the column's type, as an external value the
    // pushed filter carries
    val dt = schema(column).dataType
    val typed = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(value), dt,
        Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(),
        dt)
    readWhere(spark, path, v,
      Seq(sources.EqualTo(column, typed)))
  }

  /** ONE-SIDED range file-skipping decision for `column >[=] value`
    * (`lower = true`) / `column <[=] value` (`lower = false`) — the
    * DSv2 scan's manifest prune for SQL range predicates
    * ([[SnapshotScanBuilder]] `keptEntries`): an entry survives when
    * its committed stats — numeric/date 'L'/'D' bounds, string
    * truncated-prefix bounds, or an identity partition-directory
    * value — cannot disprove that some row satisfies the bound.
    * Strictness is deliberately IGNORED (a `>` prunes like `>=`):
    * the residual predicate stays in-plan, so keeping a boundary
    * file costs one extra footer read, while a strict compare
    * through double-widened bounds could wrongly skip at the 2^53
    * edge. Prune only on proof: unconvertible value types, stats-less
    * columns and stats-less files always keep. DATE values coerce to
    * epoch days — the unit their INT32 footer stats commit in.
    * Reference shape: conte-etl-step-2-manager.py:817-821 (month
    * windowing) generalized to arbitrary SQL ranges.
    */
  /** The per-entry KEEP predicate for this bound, or None when the
    * proof provably cannot drop any file (no comparable domain, or
    * every shard's merged pseudo-stats prove all members satisfy
    * the bound). The closure is sound on entry lines AND shard
    * pseudo-entries alike (merged bounds, group-exact dirs), so the
    * scan composes one predicate per filter TREE and makes a single
    * shard-aware walk ([[pruneWith]]) instead of materializing one
    * O(survivors) rel-set per leaf and intersecting — at 100k files
    * a `BETWEEN` mid-table was two ~50k-entry enumerations per
    * query for a 500-file scan.
    */
  private[graft] def boundKeepFn(spark: SparkSession,
                                 path: String, column: String,
                                 value: Any, lower: Boolean,
                                 version: Option[Long] = None)
      : Option[String => Boolean] = {
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    val m = manifest(f, path, v)
    val schema = m.schema
    if (!schema.fieldNames.contains(column)) return None
    val dt = schema(column).dataType
    val phys = toPhysicalName(m.colMap, column)
    import org.apache.spark.sql.types._
    val numVal: Option[Double] = (dt, value) match {
      case (ByteType | ShortType | IntegerType | LongType |
            FloatType | DoubleType, n: Number) => Some(n.doubleValue())
      case (DateType, d: java.sql.Date) =>
        Some(d.toLocalDate.toEpochDay.toDouble)
      case (DateType, d: java.time.LocalDate) =>
        Some(d.toEpochDay.toDouble)
      case _ => None
    }
    val strVal: Option[Array[Byte]] = (dt, value) match {
      case (StringType, s: String) =>
        Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
    // timestamp literals coerce to MICROS — the 'U' stat unit; both
    // external spellings (java.sql vs java.time) and both catalyst
    // timestamp types arrive here depending on session conf
    val tsVal: Option[Long] = (dt, value) match {
      case (TimestampType, t: java.sql.Timestamp) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(t))
      case (TimestampType, t: java.time.Instant) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .instantToMicros(t))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .localDateTimeToMicros(t))
      case _ => None
    }
    // HIDDEN-TRANSFORM directory range pruning: years/months/days/
    // hours derive a dir value that is MONOTONE in the source
    // (year*10000+month*100+day grows with the timestamp for any
    // fixed session tz), and truncate floors (integers) or prefixes
    // (strings) — also monotone. Every row of a file shares its dir
    // value, so a file can hold a row ≥ lo only when its dir value
    // ≥ derive(lo) (≤ for upper bounds). The bound's dir value is
    // computed with the EXACT write-time expression (1-row local
    // plan, the prunedEntriesEquals posture), so the comparison can
    // never skew from the layout. This is the only range proof a
    // legacy store (stat-less INT96 timestamps) has. Buckets hash —
    // never range-prunable. Compare domain is type-directed: time
    // and integral-truncate dirs compare as longs, string-truncate
    // prefixes as UTF-8 bytes ("123" < "99" lexically is CORRECT
    // for a string column).
    val dirChecks: Seq[(String, String => Boolean)] =
      m.partCols.map(parsePartField).filter(_.source == phys)
        .filter(fld => dirDeriveTrusted(m.props, fld, dt))
        .flatMap { fld =>
          def derived: Option[String] =
            scala.util.Try(utcDeriveSession(spark).range(1).select(
              fld.derive(lit(value).cast(dt), dt).cast("string")
                .as("d")).head()).toOption
              .flatMap(r => if (r.isNullAt(0)) None
                            else Some(r.getString(0)))
          fld match {
            case _: PTime =>
              derived.flatMap(_.toLongOption).map { b =>
                fld.dirName -> ((dv: String) =>
                  dv.toLongOption.forall(x =>
                    if (lower) x >= b else x <= b))
              }
            case PTruncate(_, _) if dt ==
                org.apache.spark.sql.types.StringType =>
              derived.map { s =>
                val b = s.getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)
                fld.dirName -> ((dv: String) => {
                  val dvb = dv.getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)
                  if (lower) bytesCompare(dvb, b) >= 0
                  else bytesCompare(dvb, b) <= 0
                })
              }
            case PTruncate(_, _) =>
              derived.flatMap(_.toLongOption).map { b =>
                fld.dirName -> ((dv: String) =>
                  dv.toLongOption.forall(x =>
                    if (lower) x >= b else x <= b))
              }
            case _ => None // bucket/identity: no monotone dir proof
          }
        }
    if (numVal.isEmpty && strVal.isEmpty && tsVal.isEmpty &&
        dirChecks.isEmpty)
      return None // no comparable domain: nothing can prune
    def keep(e: String): Boolean = {
      val dirRangeOk = dirChecks.forall { case (key, ok) =>
        partValsOf(relOf(e)).get(key).forall(ok) }
      val numOk = numVal.forall { d =>
        val range = statsOf(e).get(phys).orElse(
          partValsOf(relOf(e)).get(phys).flatMap { s =>
            if (dt == DateType)
              scala.util.Try(java.time.LocalDate.parse(s).toEpochDay
                .toDouble).toOption.map(x => (x, x))
            else s.toDoubleOption.map(x => (x, x))
          })
        range.forall { case (mn, mx) =>
          if (lower) mx >= d else mn <= d }
      }
      val strOk = strVal.forall { b =>
        val range: Option[(Array[Byte], Option[Array[Byte]])] =
          stringStatsOf(e).get(phys).orElse(
            partValsOf(relOf(e)).get(phys).map { s =>
              val sb =
                s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              (sb, Some(sb))
            })
        range.forall { case (mn, mxOpt) =>
          if (lower) mxOpt.forall(mx => bytesCompare(mx, b) >= 0)
          else bytesCompare(mn, b) <= 0 }
      }
      val tsOk = tsVal.forall { u =>
        tsStatsOf(e).get(phys).forall { case (mn, mx) =>
          if (lower) mx >= u else mn <= u }
      }
      dirRangeOk && numOk && strOk && tsOk
    }
    // SHARD FAST PATH — the whole proof is a NO-OP when every
    // shard's merged pseudo-stats prove the bound keeps all members:
    // member ranges nest inside merged ranges, so mergedMin >= v
    // (lower) / mergedMax <= v (upper) means no member's own range
    // can fall outside the bound; a pseudo's dir values are
    // group-exact, so a passing dir check covers every member. Sound
    // under conservative merged bounds (wider merged range only
    // makes the proof FAIL, falling through to the full walk). A
    // wide open-ended predicate (`doc_id >= 0`) would otherwise
    // enumerate the entire entry list just to prune nothing.
    if (m.shardRefs.nonEmpty && m.shardRefs.forall { sr =>
      val e = sr.pseudo
      val dirOk = dirChecks.forall { case (key, ok) =>
        partValsOf(relOf(e)).get(key).exists(ok) }
      val numOk = numVal.forall { d =>
        statsOf(e).get(phys).exists { case (mn, mx) =>
          if (lower) mn >= d else mx <= d } }
      val strOk = strVal.forall { b =>
        stringStatsOf(e).get(phys).exists { case (mn, mxOpt) =>
          if (lower) bytesCompare(mn, b) >= 0
          else mxOpt.exists(mx => bytesCompare(mx, b) <= 0) } }
      val tsOk = tsVal.forall { u =>
        tsStatsOf(e).get(phys).exists { case (mn, mx) =>
          if (lower) mn >= u else mx <= u } }
      dirOk && numOk && strOk && tsOk
    }) return None
    Some(keep)
  }

  /** NULL-count file-skipping decision for `column IS [NOT] NULL`,
    * from the exact per-file 'N' pseudo-stats: `IS NULL` keeps only
    * null-BEARING files (nullCount > 0, or unknown); `IS NOT NULL`
    * drops provably ALL-null files (nullCount == rows). The second
    * shape matters more than it looks: Catalyst conjoins
    * `IsNotNull(c)` onto nearly every predicate on `c`, so sparse
    * columns (an optional field populated in 1% of a corpus) get
    * their all-null files skipped on every query that touches them.
    * Prune only on proof: missing stats keep.
    */
  /** The per-entry KEEP predicate for IS [NOT] NULL pruning, or
    * None when it provably cannot drop any file (see
    * [[boundKeepFn]] — same contract). */
  private[graft] def nullKeepFn(spark: SparkSession,
                                path: String, column: String,
                                isNull: Boolean,
                                version: Option[Long] = None)
      : Option[String => Boolean] = {
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    val m = manifest(f, path, v)
    val schema = m.schema
    if (!schema.fieldNames.contains(column)) return None
    val phys = toPhysicalName(m.colMap, column)
    // SHARD FAST PATH for `IS NOT NULL` — Catalyst conjoins it onto
    // nearly every predicate, and on a table with no nulls in the
    // column it prunes NOTHING: a shard whose summed 'N' pseudo-stat
    // is exactly 0 has no null-bearing member, hence no all-null
    // member with rows > 0. (A 0-row member would still be "all
    // null" by the entry test; keeping such an empty file costs one
    // empty task, not correctness — the O(files) identity set it
    // avoids costs more than the whole scan at 100k+ files.)
    if (!isNull && m.shardRefs.nonEmpty && m.shardRefs.forall(sr =>
        nullCountOf(sr.pseudo).get(phys).contains(0L)))
      return None
    def keep(e: String): Boolean = {
      val nulls = nullCountOf(e).get(phys)
      if (isNull) nulls.forall(_ > 0L)
      else {
        // row count from the entry's own `__rows` pseudo-stat — never
        // a filesystem stat (shard pseudo-entries have no file; the
        // SUMMED rows/nulls keep the all-null-shard proof exact)
        val rows = entryRows(e)
        !(nulls.isDefined && rows.isDefined && nulls == rows)
      }
    }
    Some(keep)
  }

  /** PREFIX file-skipping decision for `column LIKE 'p%'`
    * (StringStartsWith): matching strings occupy exactly the byte
    * range [p, incrementBound(p)), so an entry is kept only when its
    * string bounds overlap it. Same prune-only-on-proof posture as
    * [[boundKeepFn]]. */
  private[graft] def prefixKeepFn(spark: SparkSession,
                                  path: String, column: String,
                                  prefix: String,
                                  version: Option[Long] = None)
      : Option[String => Boolean] = {
    val v = resolveVersion(spark, path, version)
    val m = manifest(fs(spark, path), path, v)
    val schema = m.schema
    if (!schema.fieldNames.contains(column) ||
        schema(column).dataType !=
          org.apache.spark.sql.types.StringType)
      return None
    val phys = toPhysicalName(m.colMap, column)
    val pB = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val upB = incrementBound(pB) // None: no finite upper bound
    def keep(e: String): Boolean = {
      val range: Option[(Array[Byte], Option[Array[Byte]])] =
        stringStatsOf(e).get(phys).orElse(
          partValsOf(relOf(e)).get(phys).map { s =>
            val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            (sb, Some(sb))
          })
      range.forall { case (mn, mxOpt) =>
        // overlap with [pB, upB): file max >= pB and file min < upB
        mxOpt.forall(mx => bytesCompare(mx, pB) >= 0) &&
          upB.forall(up => bytesCompare(mn, up) < 0)
      }
    }
    Some(keep)
  }

  /** The per-entry KEEP predicate of one pushed filter at version
    * `v` over a table with `schema`, composed structurally over
    * And/Or (And of an unknown side keeps the known side; Or with an
    * unknown side proves nothing). Leaves delegate to the manifest
    * prune predicates — equalities to [[equalsKeepFn]] (hidden-
    * transform directories AND committed column stats), `IN` to the
    * union of its point lookups, one-sided ranges to [[boundKeepFn]]
    * (a SQL `BETWEEN` arrives as the two leaves), `LIKE 'p%'` to
    * [[prefixKeepFn]], null tests to [[nullKeepFn]] — every one of
    * which is sound on shard pseudo-entries too, so a whole filter
    * tree becomes one predicate for one shard-aware walk
    * ([[pruneWith]]). NOT offers no proof: min/max can prove "no row
    * matches", never "every row matches". Every leaf is
    * prune-on-proof and STAYS in-plan — this narrows IO only.
    */
  private[graft] def filterKeepFn(spark: SparkSession, path: String,
                                  v: Long, schema: StructType,
                                  f: sources.Filter)
      : Option[String => Boolean] = {
    val inSchema = schema.fieldNames.toSet
    def keep(g: sources.Filter): Option[String => Boolean] =
      filterKeepFn(spark, path, v, schema, g)
    f match {
      case sources.And(l, r) =>
        (keep(l), keep(r)) match {
          case (Some(a), Some(b)) =>
            Some((e: String) => a(e) && b(e))
          case (a, None) => a
          case (None, b) => b
        }
      case sources.Or(l, r) =>
        for { a <- keep(l); b <- keep(r) }
          yield (e: String) => a(e) || b(e)
      case sources.EqualTo(c, x) if x != null && inSchema(c) =>
        equalsKeepFn(spark, path, c, x, Some(v))
      case sources.EqualNullSafe(c, x) if x != null && inSchema(c) =>
        equalsKeepFn(spark, path, c, x, Some(v))
      case sources.EqualNullSafe(c, null) if inSchema(c) =>
        // `c <=> NULL` IS `c IS NULL`: null-bearing files only
        nullKeepFn(spark, path, c, isNull = true, Some(v))
      case sources.In(c, vs)
          if inSchema(c) && vs.nonEmpty &&
            vs.length <= SnapshotBatchScan.MaxStaticInSet &&
            vs.exists(_ != null) =>
        // a NULL in the list matches nothing (three-valued IN):
        // the non-null values' union covers every matchable row
        val fns = vs.filter(_ != null).toSeq.map(x =>
          equalsKeepFn(spark, path, c, x, Some(v)))
        if (fns.exists(_.isEmpty)) None
        else fns.flatten.reduceOption((a, b) =>
          (e: String) => a(e) || b(e))
      case sources.GreaterThan(c, x) if x != null && inSchema(c) =>
        boundKeepFn(spark, path, c, x, lower = true, Some(v))
      case sources.GreaterThanOrEqual(c, x)
          if x != null && inSchema(c) =>
        boundKeepFn(spark, path, c, x, lower = true, Some(v))
      case sources.LessThan(c, x) if x != null && inSchema(c) =>
        boundKeepFn(spark, path, c, x, lower = false, Some(v))
      case sources.LessThanOrEqual(c, x)
          if x != null && inSchema(c) =>
        boundKeepFn(spark, path, c, x, lower = false, Some(v))
      case sources.StringStartsWith(c, p)
          if p != null && inSchema(c) =>
        prefixKeepFn(spark, path, c, p, Some(v))
      case sources.IsNull(c) if inSchema(c) =>
        nullKeepFn(spark, path, c, isNull = true, Some(v))
      case sources.IsNotNull(c) if inSchema(c) =>
        // Catalyst conjoins IsNotNull onto nearly every predicate:
        // this skips a sparse column's all-null files on every query
        // that touches it, and answers None straight from the shard
        // pseudos on the (common) no-nulls tables
        nullKeepFn(spark, path, c, isNull = false, Some(v))
      case _ => None // unknown shape: prune nothing
    }
  }

  /** The entries every filter's keep-predicate ([[filterKeepFn]])
    * keeps: one shard-aware walk of version `v`'s manifest when
    * `entries` is its full list (`walk`), else a filter of `entries`.
    * Version 0 (files no version lists yet) has no manifest to
    * consult and keeps every entry.
    */
  private[graft] def keptByFilters(spark: SparkSession, path: String,
                                   v: Long, schema: StructType,
                                   filters: Seq[sources.Filter],
                                   entries: Seq[String], walk: Boolean)
      : Seq[String] =
    if (v == 0L) entries
    else filters.flatMap(filterKeepFn(spark, path, v, schema, _))
      .reduceOption((a, b) => (e: String) => a(e) && b(e)) match {
      case None => entries
      case Some(k) if walk => pruneWith(spark, path, v, k)
      case Some(k) => entries.filter(k)
    }

  /** ONE shard-aware walk applying a composed keep predicate: test
    * each shard's pseudo-entry (skip whole shards the WHOLE filter
    * tree disproves), load survivors, filter members. The scan's
    * prune path — O(matching shards) driver work however many
    * conjuncts, where per-leaf rel-set intersection was O(each
    * leaf's survivors).
    */
  private[graft] def pruneWith(spark: SparkSession, path: String,
                               version: Long,
                               keep: String => Boolean)
      : Seq[String] = {
    val f = fs(spark, path)
    val m = manifest(f, path, version)
    pruneCandidates(f, path, m)(keep).filter(keep)
  }

  /** The rows ADDED between two committed versions: the files in
    * `toVersion`'s manifest that `fromVersion`'s lacks — an exact
    * incremental read for append-only history (each append commit
    * lists old files + new files, so the set difference IS the
    * delta). Cost is O(delta files), never a table scan or a row
    * diff: this is how a downstream consumer keeps up with a 100 TB
    * table by reading only what arrived since its last poll. An
    * overwrite or rollback in the range makes "added rows" ill-
    * defined (files dropped out) — refused loudly rather than
    * answered wrongly.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"snapshot: changes range is backwards ($fromVersion > $toVersion)")
    val (schema, partCols, fresh, colMap) =
      appendDelta(spark, path, fromVersion, toVersion)
    if (fresh.isEmpty)
      read(spark, path, Some(toVersion)).limit(0)
    else openFiles(spark, path, toVersion, schema, partCols, fresh, colMap)
  }

  /** CHANGE DATA FEED — row-level changes between two committed
    * versions, whatever the operations in the range (merge, delete —
    * mor or cow —, compact, append): columns are the destination
    * version's schema plus `_change_type` (`insert` | `delete`; an
    * update is its delete+insert pair) and `_commit_version`. The
    * Delta CDF / Iceberg changelog surface that [[changes]] (append
    * deltas only) refuses to fake.
    *
    * Cost shape: each version step diffs only its CHANGED files —
    * rows of removed entries vs rows of added entries, `exceptAll`
    * cancelling rewritten-but-untouched rows (a pure compact emits
    * ZERO changes), and fresh merge-on-read delete files semi-join
    * the prior live rows they kill. A merge touching 1 of 10,000
    * files diffs 1 file; nothing ever diffs the whole table unless
    * the commit itself rewrote the whole table. Refuses loudly when
    * the schema changed inside the range (a rename/drop makes one
    * row-change relation ill-typed).
    */
  def changeFeed(spark: SparkSession, path: String, fromVersion: Long,
                 toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"snapshot: changeFeed range is backwards ($fromVersion > $toVersion)")
    require(fromVersion >= 0,
      s"snapshot: changeFeed fromVersion must be >= 0: $fromVersion")
    val f = fs(spark, path)
    val mEnd = manifest(f, path, toVersion)
    val endSchema = mEnd.schema
    val cols = endSchema.fieldNames.toSeq
    // fromVersion 0 = "before the table existed": version 1's own
    // contents stream as inserts (the CDF startingVersion=1 case)
    val empty0 = SnapManifest(endSchema, Nil, Set.empty,
      "none", Map.empty, Nil, Map.empty, Nil)
    // each interior manifest is read ONCE: step v's B side carries
    // forward as step v+1's A side
    var mA = if (fromVersion == 0L) empty0
             else manifest(f, path, fromVersion)
    val steps = (fromVersion until toVersion).map { v =>
      val mB =
        if (v + 1 == toVersion) mEnd else manifest(f, path, v + 1)
      val sA = mA.schema
      val sB = mB.schema
      require(sA.fieldNames.sameElements(sB.fieldNames) &&
        sA.fields.map(_.dataType).sameElements(sB.fields.map(_.dataType)),
        s"snapshot: the schema changed between versions $v and ${v + 1} " +
          s"of $path (rename/drop/evolve) - changeFeed cannot type one " +
          "change relation across it; feed the sub-ranges separately")
      val aRels = mA.entries.map(relOf).toSet
      val bRels = mB.entries.map(relOf).toSet
      val removed = mA.entries.filterNot(e => bRels(relOf(e)))
      val added = mB.entries.filterNot(e => aRels(relOf(e)))
      val freshAll = mB.dvs.filterNot(mA.dvs.toSet)
      val freshDvs = freshAll.filterNot(_.startsWith("eq:"))
      val freshEqs = freshAll.flatMap(eqOf)
      val droppedAll = mA.dvs.filterNot(mB.dvs.toSet)
      val droppedDvs = droppedAll.filterNot(_.startsWith("eq:"))
      val droppedEqs = droppedAll.flatMap(eqOf)
      val sel = cols.map(col)
      val removedRows =
        if (removed.isEmpty) None
        else Some(openLive(spark, path, v, sA, mA.partCols, removed,
          mA.dvs, mA.colMap).select(sel: _*))
      val addedRows =
        if (added.isEmpty) None
        else Some(openLive(spark, path, v + 1, sB, mB.partCols, added,
          mB.dvs, mB.colMap).select(sel: _*))
      // rows a fresh delete file killed: prior live rows at their
      // (file, pos) identities — only files the delete file names
      val morKilled =
        if (freshDvs.isEmpty) None
        else Some(liveWithId(spark, path, v, sA, mA.partCols,
            mA.entries, mA.dvs, mA.colMap)
          .join(dvRows(spark, path, freshDvs),
            Seq(DvFileCol, DvPosCol), "left_semi")
          .select(sel: _*))
      // rows a fresh EQUALITY delete killed: prior LIVE rows of the
      // files in its applicability set (present at its base) that
      // match its keys — same-commit markers carry disjoint keys, so
      // no double count within a step
      def eqMatch(es: Seq[EqDelete], mv: Long, m: SnapManifest,
                  s: StructType): Option[DataFrame] =
        es.flatMap { e =>
          val baseRels = manifest(f, path, e.base).entries
            .map(relOf).toSet
          val applicable = m.entries.filter(en => baseRels(relOf(en)))
          if (applicable.isEmpty) None
          else {
            val logicalCols = e.cols.map(c => m.colMap.getOrElse(c, c))
            val keys = spark.read.parquet(s"$path/${e.rel}")
              .select(e.cols.map(col): _*).toDF(logicalCols: _*)
            Some(openLive(spark, path, mv, s, m.partCols, applicable,
                m.dvs, m.colMap)
              .join(keys, logicalCols, "left_semi").select(sel: _*))
          }
        }.reduceOption(_ unionByName _)
      val eqKilled = eqMatch(freshEqs, v, mA, sA)
      // rows a REMOVED delete file resurrects (a rollback undoing a
      // mor delete restores the same entries with fewer DVs): B-side
      // live rows the dropped delete file used to kill. When the
      // entries changed too (compact applying DVs), the dropped DV
      // rows reference files no longer in B and match nothing — no
      // double count.
      val morRevived =
        if (droppedDvs.isEmpty) None
        else Some(liveWithId(spark, path, v + 1, sB, mB.partCols,
            mB.entries, mB.dvs, mB.colMap)
          .join(dvRows(spark, path, droppedDvs),
            Seq(DvFileCol, DvPosCol), "left_semi")
          .select(sel: _*))
      // a rollback dropping an EQUALITY marker resurrects the B-side
      // rows it used to kill; a full compact drops the marker while
      // also rewriting the files OUT of its applicability set, so
      // nothing matches and nothing double-counts
      val eqRevived = eqMatch(droppedEqs, v + 1, mB, sB)
      mA = mB
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], endSchema)
      val rem = removedRows.getOrElse(empty)
      val add = addedRows.getOrElse(empty)
      val deletes0 = (removedRows, addedRows) match {
        case (None, _) => morKilled.getOrElse(empty)
        case (Some(_), _) =>
          morKilled.foldLeft(rem.exceptAll(add))(_ unionByName _)
      }
      val deletes = eqKilled.foldLeft(deletes0)(_ unionByName _)
      val inserts0 = (addedRows, removedRows) match {
        case (None, _) => empty
        case (Some(_), None) => add
        case (Some(_), Some(_)) => add.exceptAll(rem)
      }
      val inserts = (morRevived.toSeq ++ eqRevived.toSeq)
        .foldLeft(inserts0)(_ unionByName _)
      inserts.withColumn("_change_type", lit("insert"))
        .unionByName(deletes.withColumn("_change_type", lit("delete")))
        .withColumn("_commit_version", lit(v + 1L))
    }
    val none = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], endSchema)
      .withColumn("_change_type", lit(""))
      .withColumn("_commit_version", lit(0L))
      .limit(0)
    steps.foldLeft(none)(_ unionByName _)
  }

  /** Current snapshot's version, schema, partition columns, and file
    * entries, failing loudly when nothing was ever committed.
    */
  // the second (non-pattern) parameter list keeps the many
  // positional `CurState(...)` destructurings stable as table-level
  // state grows; bind `st @ CurState(...)` where props are needed
  private final case class CurState(v: Long, schema: StructType,
      partCols: Seq[String], dropped: Set[String],
      txns: Map[String, Long], dvs: Seq[String],
      colMap: Map[String, String], entries: Seq[String])(
      val props: Map[String, String]) {
    /** partition SOURCE columns under their LOGICAL names
      * (validation and clustering run against the logical table;
      * paths and the manifest keep the physical names/specs). A
      * hidden-transform field contributes its source column — the
      * right clustering key, the right drop/rename guard target. */
    def lPartCols: Seq[String] = partCols.map(parsePartField)
      .map(f => colMap.getOrElse(f.source, f.source))
  }

  private def currentState(spark: SparkSession, path: String,
                           what: String): CurState =
    stateCur(spark, path, what, None)

  /** [[currentState]] pinned at a version when given — the row-level
    * DML path plans and validates against the EXACT version its scan
    * read, then refuses at commit if anyone moved the table. */
  private def stateCur(spark: SparkSession, path: String,
                       what: String, at: Option[Long]): CurState = {
    val v = at.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no committed version under $path to $what"))
    val m = manifest(fs(spark, path), path, v)
    CurState(v, m.schema, m.partCols, m.dropped,
      m.txns, m.dvs, m.colMap, m.entries)(m.props)
  }

  /** Mutation key sets must not contain NULLs: a NULL key never
    * equi-joins, so a NULL-keyed update row would INSERT a fresh row
    * on every application — a replayed at-least-once micro-batch
    * would duplicate it, breaking the documented merge-replay
    * idempotence — and a NULL-keyed delete row would silently delete
    * nothing. Both refuse loudly.
    */
  private def requireNoNullKeys(df: DataFrame, keyCols: Seq[String],
                                what: String): Unit =
    require(df.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty,
      nullKeyMessage(keyCols, what))

  private def nullKeyMessage(keyCols: Seq[String], what: String): String =
    s"snapshot: $what carries a NULL in a key column " +
      s"(${keyCols.mkString(", ")}) - a NULL key never joins, so it " +
      "cannot address a row; filter or repair NULL keys first"

  /** Copy-on-write MERGE (upsert) keyed on `keyCols`: an update row
    * whose key exists in the table REPLACES that row (whole-row
    * semantics); a row whose key is absent is INSERTED. Returns the
    * new committed version; every prior version stays readable. For
    * updating a NAMED SUBSET of columns, see [[mergeUpdate]].
    *
    * It is [[mergeInto]] on `keyCols` with `WHEN MATCHED THEN UPDATE
    * SET c = src(c)` for every column and `WHEN NOT MATCHED THEN
    * INSERT` of every column. Refused loudly beyond mergeInto's
    * refusals: duplicate keys within `updates` (the upsert would be
    * non-deterministic), NULL keys (one would insert a duplicate on
    * every replayed batch), a column set differing from the table's,
    * and a table holding several rows for a merged key (they would
    * collapse silently into one; checked in the affected files).
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String]): Long =
    mergeDeleting(spark, path, updates, None, keyCols)

  /** [[merge]], deleting the rows keyed by `deletes` in the same
    * commit: `WHEN MATCHED AND <delete row> THEN DELETE` goes first,
    * and merge's clauses apply to the update rows only. The
    * copy-on-write CDC sink lands a micro-batch this way. A key listed
    * twice in `deletes` deletes once.
    */
  private[graft] def mergeDeleting(spark: SparkSession, path: String,
                                   updates: DataFrame,
                                   deletes: Option[DataFrame],
                                   keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "snapshot: merge needs at least one key column")
    val st = currentState(spark, path, "merge into")
    requireLocalEntries(st.entries, path, "merge into")
    val cols = st.schema.fieldNames.toSeq
    require(cols.sorted == updates.columns.toSeq.sorted,
      s"snapshot: merge updates columns ${updates.columns.sorted.mkString(",")} " +
        s"differ from the table's ${cols.sorted.mkString(",")}")
    require(keyCols.forall(updates.columns.contains),
      s"snapshot: key columns ${keyCols.filterNot(updates.columns.contains)} " +
        "missing from updates")
    requireSameTypes(st.schema, updates.schema, "merge updates")
    val upd = deletes.map(_ => !src(DeleteCol))
    // a delete key's type drift meets mergeInto's ON type refusal
    val source = deletes.fold(updates)(d =>
      updates.withColumn(DeleteCol, lit(false)).unionByName(
        d.select(keyCols.map(col): _*).distinct()
          .withColumn(DeleteCol, lit(true)), allowMissingColumns = true))
    val whole = cols.map(c => c -> src(c))
    mergeEngine(spark, path, st, source, keyCols.map(k => k -> k),
      deletes.map(_ => WhenMatchedDelete(Some(src(DeleteCol)))).toSeq :+
        WhenMatchedUpdate(upd, whole),
      Seq(WhenNotMatchedInsert(upd, whole)), Nil, evolve = false,
      "merge", "merging into", Some(KeyRules("merge updates",
        "snapshot: updates carry duplicate keys - the upsert would be " +
          "non-deterministic; deduplicate (e.g. keep-latest) before merging",
        wholeRow = Some(upd.getOrElse(lit(true))))))
  }

  /** Conditional, PARTIAL-COLUMN copy-on-write MERGE — the SQL
    * `MERGE ... WHEN MATCHED [AND cond] THEN UPDATE SET c = u.c, ...`
    * shape a column-sparse CDC feed needs: `updates` carries ONLY
    * `keyCols ++ setCols`, matched rows take the update's values for
    * the named `setCols` and keep every other column, and rows whose
    * key matches but fail `condition` (evaluated against the TARGET
    * row's columns; NULL ⇒ no update, SQL semantics) stay untouched.
    * With `insertUnmatched`, update rows matching no table key INSERT
    * as fresh rows — named columns from the update, the rest NULL;
    * without it they are ignored.
    *
    * It is [[mergeInto]] on `keyCols` with `WHEN MATCHED [AND
    * condition] THEN UPDATE SET s = src(s)` for each set column and,
    * with `insertUnmatched`, `WHEN NOT MATCHED THEN INSERT` of
    * `keyCols ++ setCols`. Refused loudly beyond mergeInto's
    * refusals: empty key or set lists, a column named as both,
    * duplicate or NULL update keys, type drift, and unknown columns
    * (an update column that is neither key nor set is a typo'd lost
    * write).
    */
  def mergeUpdate(spark: SparkSession, path: String, updates: DataFrame,
                  keyCols: Seq[String], setCols: Seq[String],
                  condition: Option[Column] = None,
                  insertUnmatched: Boolean = false): Long = {
    require(keyCols.nonEmpty,
      "snapshot: mergeUpdate needs at least one key column")
    require(setCols.nonEmpty,
      "snapshot: mergeUpdate needs at least one set column")
    require(keyCols.intersect(setCols).isEmpty,
      s"snapshot: columns ${keyCols.intersect(setCols).mkString(",")} " +
        "appear as both key and set - a merge key cannot be updated")
    val st = currentState(spark, path, "mergeUpdate into")
    requireLocalEntries(st.entries, path, "mergeUpdate into")
    val tableCols = st.schema.fieldNames.toSeq
    val missing = (keyCols ++ setCols).filterNot(tableCols.contains)
    require(missing.isEmpty,
      s"snapshot: columns ${missing.mkString(",")} are not in the " +
        s"table schema (${tableCols.mkString(", ")})")
    val expected = (keyCols ++ setCols).toSet
    val extra = updates.columns.filterNot(expected)
    require(extra.isEmpty,
      s"snapshot: update columns ${extra.mkString(",")} are neither " +
        "key nor set columns - dropping them silently would lose a " +
        "write; select exactly keyCols ++ setCols")
    require(expected.forall(updates.columns.contains),
      s"snapshot: columns ${expected.filterNot(updates.columns.contains)
        .mkString(",")} missing from updates")
    requireSameTypes(st.schema, updates.schema, "mergeUpdate updates")
    def fromSrc(cs: Seq[String]) = cs.map(c => c -> src(c))
    mergeEngine(spark, path, st, updates, keyCols.map(k => k -> k),
      Seq(WhenMatchedUpdate(condition, fromSrc(setCols))),
      if (insertUnmatched)
        Seq(WhenNotMatchedInsert(None, fromSrc(keyCols ++ setCols)))
      else Nil,
      Nil, evolve = false, "mergeUpdate", "mergeUpdate into",
      Some(KeyRules("mergeUpdate updates",
        "snapshot: updates carry duplicate keys - the update would be " +
          "non-deterministic; deduplicate (e.g. keep-latest) first",
        wholeRow = None)))
  }

  /** Copy-on-write SQL UPDATE: rows where `predicate` evaluates TRUE
    * take the `sets` assignments (each value expression evaluated
    * against the row's OLD values — `SET a = b, b = a` swaps, SQL
    * semantics); FALSE and NULL rows keep their values. Values are
    * cast to the column's stored type. Only files containing at least
    * one matching row are rewritten — same discovery/rewrite
    * economics as [[deleteWhere]] — and a predicate matching nothing
    * commits nothing (idempotent). `predicate = None` updates every
    * row (still a whole-table rewrite, as SQL demands). Partition
    * columns may be updated: rewritten rows land in their new
    * partition directories like any other write.
    */
  def updateWhere(spark: SparkSession, path: String,
                  sets: Seq[(String, Column)],
                  predicate: Option[Column]): Long = {
    require(sets.nonEmpty, "snapshot: updateWhere needs at least one " +
      "SET assignment")
    val dupSet = sets.map(_._1).diff(sets.map(_._1).distinct).distinct
    require(dupSet.isEmpty,
      s"snapshot: updateWhere sets column(s) ${dupSet.mkString(",")} " +
        "more than once - the result would be order-dependent")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "update")
    requireLocalEntries(all, path, "update")
    val unknown = sets.map(_._1).filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"snapshot: updateWhere SET column(s) ${unknown.mkString(",")} " +
        s"are not in the table schema (${schema.fieldNames.mkString(", ")})")
    val pred = predicate.map(p => coalesce(p, lit(false)))
    val affected = pred match {
      case Some(p) =>
        liveWithId(spark, path, v, schema, partCols, all, dvs, colMap)
          .filter(p)
          .select(DvFileCol).distinct()
          .collect().map(_.getString(0)).toSet
      case None => all.map(relOf).toSet // unconditional: every file
    }
    if (affected.isEmpty) return v
    val setMap = sets.toMap
    val carried = all.filterNot(e => affected(relOf(e)))
    val rewritten = openLive(spark, path, v, schema, partCols,
        all.filter(e => affected(relOf(e))), dvs, colMap)
      .select(schema.fields.toSeq.map { f =>
        setMap.get(f.name) match {
          case Some(value) =>
            val cast = value.cast(f.dataType)
            pred.map(p => when(p, cast).otherwise(col(f.name)))
              .getOrElse(cast).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    writeCommit(spark, rewritten, path, carried, schema, partCols,
      dropped, txns, dvs, colMap, Some(v),
      RebaseRewrite("updating", affected, dvs), "update", st.props)
  }

  /** Column reference to the MERGE source side inside [[mergeInto]]
    * clause conditions / SET values / INSERT values: target columns
    * are referenced by plain name, source columns via `src("name")`.
    */
  def src(name: String): Column = col(s"$SrcPrefix$name")
  private[graft] val SrcPrefix = "__graft_src_"

  /** `WHEN MATCHED [AND condition] THEN ...` clauses for
    * [[mergeInto]]. Conditions and values may reference both sides
    * (target by name, source via [[src]]); a NULL condition result
    * means the clause does not apply — SQL semantics. The first
    * matching clause, in declaration order, wins per row.
    */
  sealed trait WhenMatched { def condition: Option[Column] }
  final case class WhenMatchedUpdate(condition: Option[Column],
                                     sets: Seq[(String, Column)])
      extends WhenMatched
  final case class WhenMatchedDelete(condition: Option[Column])
      extends WhenMatched

  /** `WHEN NOT MATCHED [AND condition] THEN INSERT` clause: `values`
    * name target columns; expressions reference the source row via
    * [[src]]. Unnamed columns insert NULL. First matching clause, in
    * declaration order, wins per source row.
    */
  final case class WhenNotMatchedInsert(condition: Option[Column],
                                        values: Seq[(String, Column)])

  /** Full SQL `MERGE INTO`, copy-on-write: join the table against
    * `source` on the `on` key pairs (target column, source column)
    * and apply, per row, the FIRST matching clause in declaration
    * order — `matched` clauses to (target row, source row) matches,
    * `notMatched` insert clauses to unmatched SOURCE rows, and
    * `notMatchedBySource` clauses (update/delete whose conditions and
    * values see target columns only) to unmatched TARGET rows. This
    * is the Delta/Iceberg MERGE surface and the one merge engine:
    * [[merge]] and [[mergeUpdate]] are clause sets over it.
    *
    * Scale shape: with no `notMatchedBySource` clauses the target's
    * keys are read once, and only in the source's partitions. One
    * aggregate over the persisted source alone ([[mergeScope]])
    * finds the partition tuples the source touches and whether any
    * ON key tuple repeats in it (an empty source commits nothing).
    * The target is pruned to the entries whose own directory values
    * are one of those tuples, derived the
    * way the writer derives them, for identity and time partition
    * fields whose source column is an ON key; more than
    * [[SnapshotBatchScan.MaxStaticInSet]] tuples, or a non-UTC
    * layout's zone-sensitive fields, keep every entry. The
    * cardinality semi-join runs over the pruned target, and only
    * when some source key tuple repeats. Discovery scans only the
    * pruned target's key columns + file metadata, the rewrite
    * touches only files holding a matched key — the rest are carried
    * by reference — and the not-matched inserts
    * anti-join against the pruned (with matched clauses, the
    * affected) files' keys. They are written without an emptiness
    * probe: a merge that writes no file and rewrites none deletes
    * its staged directory and returns the current version.
    * `notMatchedBySource` clauses necessarily inspect EVERY target
    * row (their predicate is "no source row matches"), so their
    * presence makes the commit a whole-table rewrite, exactly as in
    * Delta.
    *
    * Refused loudly: duplicate source key tuples that match a target
    * row (the SQL cardinality violation — which clause output wins
    * would be non-deterministic), key type drift, unknown columns,
    * and concurrent commits. NULL source keys match nothing and fall
    * through to `notMatched` inserts (SQL join semantics — NULLs
    * never equal).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                on: Seq[(String, String)],
                matched: Seq[WhenMatched] = Nil,
                notMatched: Seq[WhenNotMatchedInsert] = Nil,
                notMatchedBySource: Seq[WhenMatched] = Nil,
                evolve: Boolean = false): Long = {
    require(on.nonEmpty, "snapshot: mergeInto needs at least one ON " +
      "key pair")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty,
      "snapshot: mergeInto needs at least one WHEN clause")
    val st = currentState(spark, path, "mergeInto")
    requireLocalEntries(st.entries, path, "MERGE INTO")
    mergeEngine(spark, path, st, source, on, matched, notMatched,
      notMatchedBySource, evolve, "mergeInto", "merging into", None)
  }

  /** [[merge]]'s and [[mergeUpdate]]'s refusals: no NULL (`what`)
    * or repeated (`duplicate`) source key, no `wholeRow` source row
    * matching several table rows. */
  private final case class KeyRules(what: String, duplicate: String,
                                    wholeRow: Option[Column])

  /** [[mergeInto]] over `st`: `op` names the commit in [[history]],
    * `verb` the operation a lost commit race reports. */
  private def mergeEngine(spark: SparkSession, path: String,
                          st: CurState, source: DataFrame,
                          on: Seq[(String, String)],
                          matched: Seq[WhenMatched],
                          notMatched: Seq[WhenNotMatchedInsert],
                          notMatchedBySource: Seq[WhenMatched],
                          evolve: Boolean, op: String, verb: String,
                          keys: Option[KeyRules]): Long = {
    val CurState(v, schema0, partCols, dropped, txns, dvs, colMap0, all) = st
    val tCols0 = schema0.fieldNames.toSeq
    val keyCols = on.map(_._1)
    val srcKeyCols = on.map(_._2)
    require(keyCols.forall(tCols0.contains),
      s"snapshot: ON target column(s) ${keyCols.filterNot(tCols0.contains)
        .mkString(",")} are not in the table schema")
    require(srcKeyCols.forall(source.columns.contains),
      s"snapshot: ON source column(s) ${srcKeyCols
        .filterNot(source.columns.contains).mkString(",")} are not in " +
        "the source")
    val srcDup = source.columns.diff(source.columns.distinct).distinct
    require(srcDup.isEmpty,
      s"snapshot: source carries duplicate column name(s) " +
        s"${srcDup.mkString(",")} - alias them apart first")
    on.foreach { case (t, sCol) =>
      val tt = schema0(t).dataType
      val stype = source.schema(sCol).dataType
      require(tt.catalogString == stype.catalogString,
        s"snapshot: ON pair $t = $sCol joins ${tt.catalogString} " +
          s"against ${stype.catalogString} - cast the source explicitly")
    }
    val assignments: Seq[(String, Column)] =
      (matched ++ notMatchedBySource).collect {
        case WhenMatchedUpdate(_, sets) => sets
      }.flatten ++ notMatched.flatMap(_.values)
    val unknown = assignments.map(_._1).filterNot(tCols0.contains)
      .distinct
    require(unknown.isEmpty || evolve,
      s"snapshot: clause column(s) ${unknown.mkString(",")} are not " +
        s"in the table schema (${tCols0.mkString(", ")}) - pass " +
        "evolve=true (SQL: MERGE WITH SCHEMA EVOLUTION) to add them")
    // MERGE SCHEMA EVOLUTION (Delta's withSchemaEvolution): clause
    // columns missing from the table become fresh NULLABLE columns in
    // this commit's manifest — metadata-only for every untouched
    // file (they read NULL, the same contract evolving appends use).
    // Each new column's type comes from its clause expressions,
    // resolved against a ZERO-ROW probe of the joined
    // (target ⟕ prefixed-source) shape; clauses disagreeing on a
    // type must widen or refuse, and an untyped NULL refuses (a
    // NullType column could never be read back).
    val (schema, colMap) =
      if (unknown.isEmpty) (schema0, colMap0)
      else {
        val probe = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema0)
          .crossJoin(source.limit(0).select(source.columns.toSeq.map(c =>
            col(c).as(s"$SrcPrefix$c")): _*))
        val newFields = unknown.map { n =>
          val dts = assignments.filter(_._1 == n)
            .map(a => probe.select(a._2).schema.head.dataType).distinct
          val dt = dts.reduceLeft { (a, b) =>
            if (a == b) a
            else if (widens(a, b)) b
            else if (widens(b, a)) a
            else throw new IllegalArgumentException(
              s"snapshot: MERGE schema evolution assigns new column " +
                s"$n as both ${a.catalogString} and ${b.catalogString}" +
                " - cast the clauses to one type")
          }
          require(dt != org.apache.spark.sql.types.NullType,
            s"snapshot: MERGE schema evolution cannot type new " +
              s"column $n from a bare NULL - cast it (e.g. " +
              "CAST(NULL AS STRING))")
          org.apache.spark.sql.types.StructField(n, dt, nullable = true)
        }
        evolvedSchemaAndMap(schema0,
          nullableAll(StructType(schema0.fields ++ newFields)), path,
          dropped, colMap0, partCols = partCols)
      }
    val srcR = source.select(source.columns.toSeq.map(c =>
        col(c).as(s"$SrcPrefix$c")) :+ lit(true).as(SrcHitCol): _*)
      .persist()
    try {
      val joinCond = on.map { case (t, sCol) =>
        col(t) === col(s"$SrcPrefix$sCol") }.reduce(_ && _)
      val asKeys = on.map { case (t, sCol) => col(s"$SrcPrefix$sCol").as(t) }
      val srcKeys = srcR.select(asKeys: _*)
      def keysOf(es: Seq[String]): DataFrame =
        openLive(spark, path, v, schema, partCols, es, dvs, colMap)
          .select(keyCols.map(col): _*)
      // an empty target matches nothing (the wrappers still need the
      // key verdicts); a whole-table rewrite reads every entry anyway
      val scope =
        if (all.isEmpty && keys.isEmpty) MergeScope(all, false, false, false)
        else mergeScope(spark, srcR, on, st, schema,
          prune = notMatchedBySource.isEmpty, nullsFirst = keys.nonEmpty)
      keys.foreach { k =>
        require(!scope.nullKey, nullKeyMessage(keyCols, k.what))
        require(!scope.repeats, k.duplicate)
      }
      if (scope.empty && notMatchedBySource.isEmpty) return v
      val targets = scope.targets
      // SQL cardinality rule: >1 source row matching one target row
      // is an error (which clause output survives would be arbitrary);
      // only a key tuple the source repeats can match one row twice
      if (scope.repeats) {
        require(srcKeys
            .join(keysOf(targets), keyCols, "left_semi")
            .groupBy(keyCols.map(col): _*)
            .count().filter(col("count") > 1).isEmpty,
          "snapshot: more than one source row matches a single target " +
            "row (the SQL MERGE cardinality violation) - deduplicate " +
            "the source on the ON keys first")
      }
      val wholeRow = keys.flatMap(_.wholeRow)
      val affected: Set[String] =
        if (notMatchedBySource.nonEmpty) all.map(relOf).toSet
        else if (matched.isEmpty) Set.empty
        else if (wholeRow.isEmpty)
          discoverAffected(spark, path, v, schema, partCols, targets, dvs,
            srcKeys, keyCols, colMap)
        else {
          // whole-row replacement collapses EVERY table row of a
          // matched key into one source row, and appends never enforce
          // key uniqueness: discovery also counts each key's live rows
          // (source keys are unique here, so the join adds no row)
          import org.apache.spark.sql.functions.{collect_set, count,
            explode, max}
          val perFile = liveWithId(spark, path, v, schema, partCols,
              targets, dvs, colMap)
            .select(keyCols.map(col) :+ col(DvFileCol): _*)
            .join(srcR.select(asKeys :+ wholeRow.get.as("w"): _*), keyCols)
            .groupBy(keyCols.map(col): _*)
            .agg((count(lit(1)) > 1 && max("w")).as("dup"),
              collect_set(DvFileCol).as("files"))
            .select(explode(col("files")).as(DvFileCol), col("dup"))
            .groupBy(DvFileCol).agg(max("dup"))
            .collect()
          require(!perFile.exists(_.getBoolean(1)),
            "snapshot: the table holds duplicate rows for a merged " +
              "key - whole-row merge would silently collapse them " +
              "into one update row; deduplicate the table first " +
              "(compact after a deleteKeys/re-append) or merge on a " +
              "unique key")
          perFile.map(_.getString(0)).toSet
        }
      val hitEntries = all.filter(e => affected(relOf(e)))
      def condOf(c: Option[Column], base: Column): Column =
        c.map(cc => base && coalesce(cc, lit(false))).getOrElse(base)
      val rewritten =
        if (affected.isEmpty) None
        else {
          val hit = col(SrcHitCol).isNotNull
          val miss = col(SrcHitCol).isNull
          // (guard, clause) in declaration order: matched clauses see
          // a source match, not-matched-by-source clauses the absence
          val guarded: Seq[(Column, WhenMatched)] =
            matched.map(cl => (condOf(cl.condition, hit), cl)) ++
            notMatchedBySource.map(cl => (condOf(cl.condition, miss), cl))
          val joined = openLive(spark, path, v, schema, partCols,
              hitEntries, dvs, colMap)
            .join(srcR, joinCond, "left")
          val killed = guarded.foldRight(lit(false)) { case ((g, cl), els) =>
            when(g, lit(cl.isInstanceOf[WhenMatchedDelete])).otherwise(els)
          }
          val out = schema.fields.toSeq.map { f =>
            guarded.foldRight(col(f.name)) { case ((g, cl), els) =>
              cl match {
                case WhenMatchedUpdate(_, sets)
                    if sets.exists(_._1 == f.name) =>
                  when(g, sets.find(_._1 == f.name).get._2
                    .cast(f.dataType)).otherwise(els)
                // a matching clause that leaves this column alone
                // still stops LATER clauses from touching it
                case _ => when(g, col(f.name)).otherwise(els)
              }
            }.as(f.name)
          }
          Some(joined.filter(not(killed)).select(out: _*))
        }
      val inserts =
        if (notMatched.isEmpty) None
        else {
          // every stored source key sits in a target entry; with
          // matched clauses, in an affected one (a file holding a
          // matched key is affected by definition)
          val stored = if (matched.isEmpty) targets else hitEntries
          val unmatchedSrc = srcR.join(keysOf(stored), joinCond,
            "left_anti")
          // first-match-wins across insert clauses: clause i fires only
          // where every earlier clause's condition failed
          val rows = notMatched.zipWithIndex.map { case (cl, i) =>
            val own = cl.condition.map(c => coalesce(c, lit(false)))
              .getOrElse(lit(true))
            val g = notMatched.take(i).foldLeft(own) { (acc, prior) =>
              acc && !prior.condition.map(c => coalesce(c, lit(false)))
                .getOrElse(lit(true))
            }
            val vals = cl.values.toMap
            unmatchedSrc.filter(g).select(schema.fields.toSeq.map { f =>
              vals.get(f.name).map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType)).as(f.name)
            }: _*)
          }
          Some(rows.reduce(_ unionByName _))
        }
      (rewritten.toSeq ++ inserts.toSeq).reduceOption(_ unionByName _) match {
        case None => v
        case Some(out) =>
          // the inserts are written without an emptiness probe: a
          // write that lands no file and rewrites none is no commit
          val (commitDir, fresh) = writeBatchFiles(spark, out, path,
            partCols, colMap, st.props)
          if (fresh.isEmpty && affected.isEmpty) {
            fs(spark, path).delete(new Path(s"$path/$commitDir"), true)
            v
          } else publishLoop(spark, path, Seq(commitDir), fresh,
            all.filterNot(e => affected(relOf(e))), schema, partCols,
            dropped, txns, dvs, colMap, Some(v),
            RebaseRewrite(verb, affected, dvs), op,
            st.props, None, out.schema, out.columns.toSeq)
      }
    } finally { srcR.unpersist(); () }
  }

  private[graft] val SrcHitCol = "__graft_src_hit"
  // marks [[mergeDeleting]]'s delete rows in its merge source
  private val DeleteCol = "__graft_delete"

  private final case class MergeScope(targets: Seq[String],
    repeats: Boolean, nullKey: Boolean, empty: Boolean)

  /** [[mergeInto]]'s one pass over the source alone, before any
    * target read: the entries a source row can match, and whether
    * some ON key tuple repeats in the source (only a repeated tuple
    * can match one target row twice, so without one the cardinality
    * check is skipped). The source's per-key-tuple counts group by
    * the source columns equated in ON to the sources of the table's
    * identity and time partition fields, keeping each group's
    * largest count and whether it holds a NULL key; at most
    * [[SnapshotBatchScan.MaxStaticInSet]] + 1 groups reach the
    * driver, largest first (with `nullsFirst`, NULL-holding groups
    * before all), so the first carries the verdicts. With `prune` and no more
    * groups than the bound, each group without a NULL derives its
    * directory tuple as the writer named directories (the UTC derive
    * session), and only entries in those directories, or lacking
    * one of them, stay. Fields a non-UTC layout derives
    * zone-sensitively are left out ([[dirDeriveTrusted]]), as are
    * bucket and truncate fields: their directory name is the same
    * for every width, so after a spec change an old entry's value
    * means another width. Identity fields cannot change on a
    * non-empty table and time kinds name their own directories.
    */
  private def mergeScope(spark: SparkSession, srcR: DataFrame,
                         on: Seq[(String, String)], st: CurState,
                         schema: StructType, prune: Boolean,
                         nullsFirst: Boolean): MergeScope = {
    // keys equal under the join name one identity directory: not so
    // for -0.0 and 0.0, nor under a string collation
    def oneDir(dt: DataType): Boolean = dt match {
      case FloatType | DoubleType => false
      case s: StringType => s.catalogString == "string"
      case _ => true
    }
    val fields: Seq[(PartField, String)] =
      if (!prune) Nil
      else st.partCols.map(parsePartField).flatMap { fld =>
        val t = st.colMap.getOrElse(fld.source, fld.source)
        val dt = schema(t).dataType
        val exact = fld match {
          case _: PIdentity => oneDir(dt)
          case _: PTime => true
          case _ => false
        }
        on.find(_._1 == t)
          .filter(_ => exact && dirDeriveTrusted(st.props, fld, dt))
          .map(p => (fld, s"$SrcPrefix${p._2}"))
      }
    val by = fields.map(_._2).distinct
    val srcKeys = on.map(p => col(s"$SrcPrefix${p._2}"))
    val top = srcR.groupBy(srcKeys: _*)
      .count()
      .groupBy(by.map(col): _*)
      .agg(org.apache.spark.sql.functions.max("count").as("count"),
        org.apache.spark.sql.functions.max(
          srcKeys.map(_.isNull).reduce(_ || _)).as("nul"))
      .orderBy((if (nullsFirst) Seq(col("nul").desc) else Nil) :+
        col("count").desc: _*)
      .limit(SnapshotBatchScan.MaxStaticInSet + 1)
      .collect()
    val repeats = top.headOption.exists(r =>
      !r.isNullAt(by.size) && r.getLong(by.size) > 1L)
    val nullKey = top.headOption.exists(r =>
      !r.isNullAt(by.size + 1) && r.getBoolean(by.size + 1))
    // an empty source: no group, or one whose count is NULL
    def scoped(targets: Seq[String]) = MergeScope(targets, repeats,
      nullKey, top.forall(_.isNullAt(by.size)))
    if (fields.isEmpty || top.length > SnapshotBatchScan.MaxStaticInSet)
      return scoped(st.entries)
    // a NULL key matches nothing
    val keys = top.filterNot(r => by.indices.exists(r.isNullAt))
      .map(r => org.apache.spark.sql.Row.fromSeq(by.indices.map(r.get)))
    val dirs: Set[Seq[String]] =
      if (keys.isEmpty) Set.empty
      else utcDeriveSession(spark)
        .createDataFrame(java.util.Arrays.asList(keys: _*),
          StructType(by.map(srcR.schema(_))))
        .select(fields.map { case (fld, c) =>
          fld.derive(col(c), srcR.schema(c).dataType).cast("string")
        }: _*)
        .collect().map(r =>
          fields.indices.map(i => dirValue(r.getString(i))): Seq[String])
        .toSet
    scoped(st.entries.filter { e =>
      val vals = partValsOf(relOf(e))
      fields.exists(f => !vals.contains(f._1.dirName)) ||
        dirs(fields.map(f => vals(f._1.dirName)))
    })
  }

  /** Mutation batches must carry the table's exact column types:
    * name-matched columns with a different type would either write
    * mixed-type files under one stored schema (failing much later, at
    * some reader's file) or — for join keys — let Spark insert an
    * implicit cast into the equi-join and match rows the caller never
    * meant (string "07" vs long 7). Nullability is legitimately loose
    * (the stored schema is all-nullable); `catalogString` compares
    * types while ignoring it.
    */
  private def requireSameTypes(table: StructType, incoming: StructType,
                               what: String): Unit = {
    val tbl = table.fields.map(f => f.name -> f.dataType).toMap
    incoming.fields.foreach(f => tbl.get(f.name).foreach(t =>
      require(t.catalogString == f.dataType.catalogString,
        s"snapshot: $what column ${f.name} arrives as " +
          s"${f.dataType.catalogString} but the table stores " +
          s"${t.catalogString} - cast before mutating")))
  }

  /** The merge discovery plan: distinct store-relative paths of
    * `table`'s files ([[DvFileCol]]) holding at least one update
    * key. Split out so SnapshotsSpec can pin its scale property —
    * the scan reads ONLY the key columns (plus the constant file
    * path), never the table's payload.
    */
  private[graft] def affectedFilesPlan(table: DataFrame, updates: DataFrame,
                                       keyCols: Seq[String]): DataFrame = {
    val keyExprs = keyCols.map(col)
    table
      .select(keyExprs :+ col(DvFileCol): _*)
      .join(updates.select(keyExprs: _*), keyCols, "left_semi")
      .select(DvFileCol).distinct()
  }

  /** Copy-on-write DELETE BY KEY: every table row whose `keyCols`
    * tuple appears in `keys` is removed — the CDC-delete shape, fully
    * distributed (the key set is a DataFrame semi/anti-joined against
    * the table; only file paths are ever collected, same as [[merge]],
    * so a delete batch of any size works without a driver-side key
    * list). Same copy-on-write economics as merge: discovery scans
    * keys + file metadata only, rewrite touches only files holding a
    * doomed key, zero matches = no commit (idempotent). NULL keys in
    * `keys` refuse loudly — a NULL key never equi-joins, so it cannot
    * address a row ([[deleteWhere]] with an IS NULL predicate is the
    * explicit spelling for deleting NULL-keyed rows).
    */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 keyCols: Seq[String], mode: String = "cow"): Long = {
    require(mode == "cow" || mode == "mor",
      s"snapshot: delete mode must be 'cow' or 'mor': '$mode'")
    require(keyCols.nonEmpty,
      "snapshot: deleteKeys needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"snapshot: key columns ${keyCols.filterNot(keys.columns.contains)} " +
        "missing from the keys table")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "delete keys from")
    requireLocalEntries(all, path, "delete keys from")
    requireSameTypes(StructType(schema.filter(f => keyCols.contains(f.name))),
      StructType(keys.schema.filter(f => keyCols.contains(f.name))),
      "deleteKeys key")
    val k = keys.select(keyCols.map(col): _*).persist()
    try {
      requireNoNullKeys(k, keyCols, "deleteKeys keys")
      if (mode == "mor") {
        val doomed = liveWithId(spark, path, v, schema, partCols, all,
          dvs, colMap)
          .join(k, keyCols, "left_semi")
          .select(col(DvFileCol).as("__file"), col(DvPosCol).as("__pos"))
        publishMorDelete(spark, path, v, schema, partCols, dropped,
          txns, dvs, colMap, all, doomed, "deleteKeys(mor)")
      } else {
        val affected = discoverAffected(spark, path, v, schema, partCols,
          all, dvs, k, keyCols, colMap)
        if (affected.isEmpty) v
        else {
          val carried = all.filterNot(e => affected(relOf(e)))
          val survivors = openLive(spark, path, v, schema, partCols,
              all.filter(e => affected(relOf(e))), dvs, colMap)
            .join(k, keyCols, "left_anti")
          writeCommit(spark, survivors, path, carried, schema, partCols,
            dropped, txns, dvs, colMap, Some(v),
            RebaseRewrite("deleting keys from", affected, dvs), "deleteKeys", st.props)
        }
      }
    } finally { k.unpersist(); () }
  }

  /** EQUALITY DELETE (Iceberg v2 equality delete files): commit the
    * key batch AS the delete — O(batch) IO, ZERO table reads, zero
    * data-file rewrites. Where `deleteKeys(mode="mor")` must first
    * scan the table for row positions, this writes the keys and a
    * manifest marker and is done; every live read anti-joins the
    * keys against files present at THIS commit's base version, so
    * rows appended later — including re-inserts of the same keys —
    * are untouched (CDC delete-then-insert keeps its meaning). THE
    * shape for high-volume CDC delete streams at 100 TB. Applied
    * physically (and dropped) by a full [[compact]]; rewrites of
    * affected files bake the kill in file-by-file since rewritten
    * files leave the delete's applicability set.
    *
    * Cost honesty: each equality delete adds one anti-join (and one
    * base-manifest read) to every live read until a compact clears
    * it — commit fast, read pays rent. Schedule compaction.
    */
  def deleteKeysEq(spark: SparkSession, path: String, keys: DataFrame,
                   keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty,
      "snapshot: deleteKeysEq needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"snapshot: key columns ${keyCols.filterNot(keys.columns.contains)} " +
        "missing from the keys table")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "equality-delete keys from")
    requireLocalEntries(all, path, "equality-delete keys from")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"snapshot: key column $c is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    requireSameTypes(StructType(schema.filter(f => keyCols.contains(f.name))),
      StructType(keys.schema.filter(f => keyCols.contains(f.name))),
      "deleteKeysEq key")
    val physCols = keyCols.map(c => toPhysicalName(colMap, c))
    physCols.foreach(c => require(!c.contains('|') && !c.contains(','),
      s"snapshot: key column '$c' contains an equality-delete marker " +
        "separator ('|' or ',') - rename it first"))
    val k = keys.select(keyCols.map(col): _*).distinct()
    requireNoNullKeys(k, keyCols, "deleteKeysEq keys")
    // ONE key file per delete batch: every eq marker costs every
    // subsequent read (and the eq→positional rewrite) a per-marker
    // key-file open plus semi-join, so marker count must track delete
    // BATCHES, not the key frame's task count — a 25-key delete was
    // observed committing 25 markers (one per range partition). The
    // repartition lands after the distinct, so dedup stays parallel
    // and only the already-small key set funnels to one writer.
    val (commitDir, fresh) = writeBatchFiles(spark,
      k.toDF(physCols: _*).repartition(1), path, Nil, Map.empty)
    if (fresh.isEmpty) return v
    val markers = fresh.map(e =>
      s"eq:${relOf(e)}|${physCols.mkString(",")}|$v")
    publishWithDeleteMarkers(spark, path, v, schema, partCols, dropped,
      txns, dvs, colMap, all, commitDir, markers, "deleteKeysEq")
  }

  /** Copy-on-write DELETE: rows where `predicate` evaluates TRUE are
    * removed; FALSE and NULL rows are retained (SQL DELETE WHERE
    * semantics — discovery's `filter(predicate)` and the survivors'
    * `NOT coalesce(predicate, false)` agree on the NULL row). Only
    * files containing at least one matching row are rewritten; when
    * nothing matches, no commit happens and the current version is
    * returned unchanged (delete is idempotent). The predicate must
    * reference data columns only.
    */
  def deleteWhere(spark: SparkSession, path: String,
                  predicate: Column, mode: String = "cow"): Long = {
    require(mode == "cow" || mode == "mor",
      s"snapshot: delete mode must be 'cow' or 'mor': '$mode'")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "delete from")
    requireLocalEntries(all, path, "delete from")
    if (mode == "mor") {
      val doomed = liveWithId(spark, path, v, schema, partCols, all,
        dvs, colMap)
        .filter(coalesce(predicate, lit(false)))
        .select(col(DvFileCol).as("__file"), col(DvPosCol).as("__pos"))
      return publishMorDelete(spark, path, v, schema, partCols,
        dropped, txns, dvs, colMap, all, doomed, "deleteWhere(mor)")
    }
    val affected = liveWithId(spark, path, v, schema, partCols, all,
      dvs, colMap)
      .filter(coalesce(predicate, lit(false)))
      .select(DvFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return v
    val carried = all.filterNot(e => affected(relOf(e)))
    val survivors = openLive(spark, path, v, schema, partCols,
        all.filter(e => affected(relOf(e))), dvs, colMap)
      .filter(not(coalesce(predicate, lit(false))))
    writeCommit(spark, survivors, path, carried, schema, partCols,
      dropped, txns, dvs, colMap, Some(v),
      RebaseRewrite("deleting from", affected, dvs), "deleteWhere", st.props)
  }

  /** Publish a merge-on-read DELETE: write the doomed (file, pos)
    * pairs as a delete file and commit a manifest carrying the SAME
    * data entries plus the new `#dv=` references — O(deleted rows)
    * of IO, zero data-file rewrites. No matches = no commit
    * (idempotent, like the copy-on-write path).
    */
  private def publishMorDelete(spark: SparkSession, path: String,
                               v: Long, schema: StructType,
                               partCols: Seq[String],
                               dropped: Set[String],
                               txns: Map[String, Long],
                               dvs: Seq[String],
                               colMap: Map[String, String],
                               entries: Seq[String],
                               doomed: DataFrame, op: String): Long = {
    val (commitDir, fresh) =
      writeBatchFiles(spark, doomed, path, Nil, Map.empty)
    if (fresh.isEmpty) return v
    publishWithDeleteMarkers(spark, path, v, schema, partCols, dropped,
      txns, dvs, colMap, entries, commitDir, fresh.map(relOf), op)
  }

  /** The delete-commit publish loop shared by positional and
    * equality deletes: same entries + the fresh `#dv=` markers.
    * Rebases over append-only interlopers like the cow rewrites —
    * and additionally over CONCURRENT DELETES: the marker union is
    * exactly the serial composition (each positional doomed set was
    * computed against the shared base and re-kills are idempotent;
    * each equality delete carries its own base version, so
    * same-base deletes compose as a key union). Anything that
    * removed or rewrote files refuses — positional rows name
    * (file, pos) identities and equality deletes name base-version
    * files, both of which must stay live for the kill to land.
    */
  private def publishWithDeleteMarkers(spark: SparkSession,
                                       path: String, v: Long,
                                       schema: StructType,
                                       partCols: Seq[String],
                                       dropped: Set[String],
                                       txns: Map[String, Long],
                                       dvs: Seq[String],
                                       colMap: Map[String, String],
                                       entries: Seq[String],
                                       commitDir: String,
                                       markers: Seq[String],
                                       op: String): Long = {
    val f = fs(spark, path)
    onBeforePublish()
    var curEntries = entries
    var curTxns = txns
    var curDvs = dvs
    // base-version props; a rebase adopts the winner's below
    var curProps = manifest(f, path, v).props
    var curBase = v
    var committed = -1L
    while (committed < 0L) {
      val next = curBase + 1L
      if (tryPublishManifest(f, path, next,
          manifestLines(schema, partCols, dropped, op, curEntries,
            curTxns, curDvs ++ markers, colMap, curProps))) {
        bumpLatestHint(f, path, next)
        committed = next
      } else {
        val newBase = allManifestVersions(f, path).last
        val m = manifest(f, path, newBase)
        def refuse(reason: String): Nothing = {
          f.delete(new Path(s"$path/$commitDir"), true)
          throw new java.util.ConcurrentModificationException(
            s"snapshot: concurrent commit detected while $op on $path " +
              s"and it cannot be rebased over ($reason) - re-read " +
              "and retry")
        }
        val wSchema = m.schema
        if (m.partCols != partCols) refuse("a partition-spec change")
        if (!wSchema.fieldNames.sameElements(schema.fieldNames) ||
            !wSchema.fields.map(_.dataType.catalogString)
              .sameElements(schema.fields.map(_.dataType.catalogString)))
          refuse("a schema change")
        if (m.colMap != colMap) refuse("a column-mapping change")
        if (m.dropped != dropped) refuse("a dropped-column change")
        val baseRels = curEntries.map(relOf).toSet
        if (!baseRels.subsetOf(m.entries.map(relOf).toSet))
          refuse("a non-append commit (files these delete rows " +
            "reference were rewritten or removed)")
        if (!curDvs.toSet.subsetOf(m.dvs.toSet))
          refuse("a removed delete file")
        curEntries = m.entries
        curTxns = m.txns
        curDvs = m.dvs
        curProps = m.props
        curBase = newBase
      }
    }
    committed
  }

  /** NDV ANALYZE ([[analyzeNdv]]) register count: 64 registers ≈ 13%
    * standard error — the CBO-estimate grade (join-order decisions
    * flip on order-of-magnitude differences, not 10%), at 128 hex
    * chars per column per file in the manifest. */
  private val NdvRegisters = 64

  /** Quantile summary width ('Q' kind): 17 points = 16 equal-mass
    * segments per file — enough resolution for a 64-bin global
    * equi-height histogram to catch order-of-magnitude skew, at
    * ~300 chars per column per file. */
  private[graft] val QuantilePoints = 17

  /** Parse an entry's 'Q'-kind quantile summaries: physical column
    * name → ascending per-file quantile points (doubles; DATE as
    * epoch days). Missing = never analyzed, appended after the last
    * analyze, or a non-numeric column. */
  private[graft] def quantSketchOf(entry: String)
      : Map[String, Array[Double]] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "Q", vals) =>
            scala.util.Try(
              vals.split(',').map(_.toDouble)).toOption
              .filter(_.length == QuantilePoints)
              .map(name -> _)
          case _ => None
        }
      }.toMap
  }

  /** Parse an entry's 'V'-kind NDV sketches: physical column name →
    * register array ([[analyzeNdv]] wrote them; missing = never
    * analyzed or appended after the last analyze). */
  private[graft] def ndvSketchOf(entry: String)
      : Map[String, Array[Int]] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "V", hex)
              if hex.length == 2 * NdvRegisters =>
            Some(name -> hex.grouped(2)
              .map(Integer.parseInt(_, 16)).toArray)
          case _ => None
        }
      }.toMap
  }

  /** Standard HLL estimate over one (merged) register array, with
    * the small-range linear-counting correction. */
  private[graft] def ndvEstimate(regs: Array[Int]): Long = {
    val m = regs.length.toDouble
    val alpha = 0.709 // the HLL constant for m = 64
    val sum = regs.map(r => math.pow(2.0, -r)).sum
    var e = alpha * m * m / sum
    val zeros = regs.count(_ == 0)
    if (e <= 2.5 * m && zeros > 0) e = m * math.log(m / zeros)
    math.max(1L, math.round(e))
  }

  /** Merge per-file sketches (element-wise max — HLL union). */
  private[graft] def ndvMerge(a: Array[Int], b: Array[Int])
      : Array[Int] =
    a.zip(b).map { case (x, y) => math.max(x, y) }

  /** ANALYZE for the cost-based optimizer: compute a tiny mergeable
    * HLL sketch (64 registers, one byte each) PER FILE PER COLUMN
    * and commit a new manifest whose entries carry them as 'V'-kind
    * pseudo-stats — after which [[SnapshotBatchScan]] serves
    * `distinctCount` column statistics for ANY subset of files (a
    * point-lookup's pruned sliver included: per-file sketches union
    * to exactly the planned scan). The Iceberg-puffin/Delta-ANALYZE
    * role, but the sketch rides the manifest, so no side files and
    * no staleness window — a file's sketch describes its immutable
    * content, valid for as long as the file is referenced.
    *
    * One distributed pass per analyzed column (bucket = 32-bit
    * murmur3 mod 64; rank = trailing zeros of the independent
    * xxhash64 — both exact integer arithmetic in-plan, no UDF);
    * driver state is one 64-byte array per (file, column). Files
    * appended AFTER the analyze carry no sketch, so the scan's
    * distinctCount REFUSES until the next analyze (exactness posture:
    * absent beats stale). Racing commits rebase universally — the
    * amendments key on immutable file content, so they graft onto
    * whatever entry set won (amended rels that were rewritten away
    * simply lose their sketch).
    */
  /** The rows the sketch passes fold per (file, column): each row's
    * store-relative file as `__rel`, then every column under its
    * PHYSICAL name (sketches key on physical columns). */
  private def sketchRows(spark: SparkSession, path: String, v: Long,
                         schema: StructType, partCols: Seq[String],
                         colMap: Map[String, String],
                         entries: Seq[String]): DataFrame =
    openFiles(spark, path, v, schema, partCols, entries, colMap)
      .select(col(DvFileCol).as("__rel") +: schema.fieldNames.toSeq.map(
        n => col(n).as(toPhysicalName(colMap, n))): _*)

  /** The distributed NDV sketch pass, factored so [[analyzeNdv]]
    * (whole-table ANALYZE) and the `stats.ndv.auto` write path
    * (delta-only, at commit) run the IDENTICAL arithmetic — sketches
    * from either source must merge, so the hash, bucketing and rank
    * rule may never fork. Returns physCol → (rel → 64 registers);
    * one Spark job per column over exactly `entries`, driver state
    * ONE row per (file, column) — register lists assemble
    * distributed via collect_list, never files × registers rows.
    */
  private def ndvSketchPass(spark: SparkSession, path: String,
                            v: Long, schema: StructType,
                            partCols: Seq[String],
                            colMap: Map[String, String],
                            entries: Seq[String],
                            physCols: Seq[String])
      : Map[String, Map[String, (Array[Int], Option[Array[Double]])]] = {
    val phys = toPhysicalSchema(schema, colMap)
    val df = sketchRows(spark, path, v, schema, partCols, colMap, entries)
    // trailing-zero rank of the xxhash64: lsb = h & -h is a power of
    // two, which doubles represent EXACTLY, so round(log2(lsb)) is
    // the true bit index; h == 0 and the sign bit get the max rank
    def rankOf(h: Column): Column = {
      val lsb = h.bitwiseAND(-h)
      when(h === 0L, lit(NdvRegisters))
        .when(lsb === Long.MinValue, lit(NdvRegisters))
        .otherwise(round(log(2.0, lsb.cast("double"))) + 1.0)
        .cast("int")
    }
    physCols.map { pc =>
      val dt = phys(pc).dataType
      // numeric-ish columns additionally fold a 17-point per-file
      // QUANTILE summary ('Q' kind) — the raw material for
      // equi-height CBO histograms ([[SnapshotBatchScan]] merges
      // per-file summaries into the planned sliver's histogram at
      // plan time); DATE rides as epoch days, matching its 'L' stats
      // quantiles commit ONLY for the types the scan-side histogram
      // can actually serve (it anchors coverage on exact 'L'/'U'
      // bounds — integrals, DATE, TIMESTAMP). Float/double columns
      // never get those anchors, so their summaries would be dead
      // manifest weight (~300 chars per column per file).
      val quantile = dt match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
      val base = df.filter(col(pc).isNotNull)
      // two-level fold so the driver collects ONE row per file
      // (its ≤64-entry register list), never files × registers
      val rows = base
        .select(col("__rel"),
          pmod(org.apache.spark.sql.functions.hash(col(pc)),
            lit(NdvRegisters)).as("__b"),
          rankOf(org.apache.spark.sql.functions.xxhash64(col(pc)))
            .as("__r"))
        .groupBy(col("__rel"), col("__b"))
        .agg(org.apache.spark.sql.functions.max(col("__r")).as("__r"))
        .groupBy(col("__rel"))
        .agg(org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(
            col("__b"), col("__r"))).as("__regs"))
        .collect()
      val quants: Map[String, Array[Double]] =
        if (!quantile) Map.empty
        else base.select(col("__rel"),
            // units must match the min/max anchors the histogram
            // covers: DATE in epoch days ('L'), TIMESTAMP in micros
            // ('U' — double loses sub-micro exactness past 2^53,
            // irrelevant for selectivity estimates)
            (if (dt == org.apache.spark.sql.types.DateType)
               org.apache.spark.sql.functions.unix_date(col(pc))
                 .cast("double")
             else if (dt == org.apache.spark.sql.types.TimestampType)
               org.apache.spark.sql.functions.unix_micros(col(pc))
                 .cast("double")
             else col(pc).cast("double")).as("__v"))
          .groupBy(col("__rel"))
          .agg(org.apache.spark.sql.functions.percentile_approx(
            col("__v"), org.apache.spark.sql.functions.typedlit(
              (0 until QuantilePoints).map(_.toDouble /
                (QuantilePoints - 1))), lit(10000)).as("__q"))
          .collect().flatMap { row =>
            if (row.isNullAt(1)) None
            else Some(row.getString(0) ->
              row.getSeq[Double](1).toArray)
          }.toMap
      pc -> rows.map { row =>
        val regs = new Array[Int](NdvRegisters)
        row.getSeq[org.apache.spark.sql.Row](1).foreach { br =>
          val b = br.getInt(0)
          regs(b) = math.max(regs(b), br.getInt(1))
        }
        row.getString(0) -> ((regs, quants.get(row.getString(0))))
      }.toMap
    }.toMap
  }

  /** MANIFEST BLOOM BLOCKS ('B' kind): per-file bloom filters over a
    * column's values, committed beside the NDV registers — the
    * point-lookup proof min/max can't give on UNCLUSTERED
    * high-cardinality columns (`jid = 'JOB123'` on an
    * interleaved-ingest corpus: every file's string bounds span the
    * whole key range, so 'T' stats keep everything; the bloom skips
    * every file whose set provably lacks the value). Sized from the
    * SAME pass's per-file NDV estimate (~10 bits/key, power-of-two,
    * capped at [[BloomMaxBits]] so manifest weight stays bounded —
    * past the cap the FPR degrades gracefully, pruning weakens but
    * never breaks). Hashes are Spark's own codegen'd xxhash64 (h1)
    * and murmur3 hash (h2), double-hashed to k positions — computed
    * IN-PLAN during the sketch pass and re-derived for the lookup
    * literal through a 1-row local plan, so the two sides can never
    * disagree. Prune-only-on-proof: a file without a 'B' stat for
    * the column is kept.
    */
  private val BloomBitsPerKey = 10
  private[graft] val BloomMaxBits = 32768 // 8 KB hex per (file, col)
  private val BloomMinBits = 64

  /** (m bits, k hashes) for an expected key count. */
  private[graft] def bloomParams(ndv: Long): (Int, Int) = {
    val want = math.max(BloomMinBits.toLong,
      math.min(ndv * BloomBitsPerKey, BloomMaxBits.toLong)).toInt
    val m =
      if (Integer.bitCount(want) == 1) want
      else Integer.highestOneBit(want) * 2
    val k = math.max(1, math.min(16,
      math.round(0.693 * m / math.max(1L, ndv)).toInt))
    (m, k)
  }

  /** Parse an entry's 'B'-kind bloom blocks: physical column →
    * (m, k, bit words, hashed-type tag). Malformed blocks are
    * ignored (kept, never skipped). The tag (`m_k_<catalogString>`,
    * joined back across '_' so `timestamp_ntz` survives) records the
    * Spark type the sketch pass hashed at — xxhash64/murmur3 hash an
    * int and a long DIFFERENTLY, so after a legal int→long schema
    * widening ([[widens]]) a pre-widening bloom probed with
    * long-typed hashes would falsely prove absence on every file.
    * Consumers must skip blocks whose tag differs from the current
    * column type; legacy untagged blocks are unusable for the same
    * reason (their hashed type is unknowable). */
  private[graft] def bloomStatsOf(entry: String)
      : Map[String, (Int, Int, Array[Long], Option[String])] = {
    val i = entry.indexOf('\t')
    if (i < 0) Map.empty
    else entry.substring(i + 1).split(';').iterator.filter(_.nonEmpty)
      .flatMap { part =>
        part.split(':') match {
          case Array(name, "B", mk, hex) =>
            scala.util.Try {
              val mks = mk.split('_')
              val m = mks(0).toInt
              val k = mks(1).toInt
              val tag =
                if (mks.length > 2) Some(mks.drop(2).mkString("_"))
                else None
              val words = hex.sliding(16, 16)
                .map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
              require(m >= BloomMinBits && k >= 1 &&
                words.length == m / 64)
              name -> ((m, k, words, tag))
            }.toOption
          case _ => None
        }
      }.toMap
  }

  /** The exact membership test the sketch pass's bit-set answers:
    * position_i = pmod(pmod(h1,m) + i*pmod(h2,m), m) — the nested
    * form keeps every intermediate below 17·2^15 so the in-plan fold
    * never overflows (ANSI-mode sessions would otherwise THROW on
    * the near-certain 64-bit wraparound of h1 + i*h2). Because m is
    * a power of two (2^64 ≡ 0 mod m), this equals the plain
    * wraparound formula bit-for-bit, so blocks committed either way
    * agree. */
  private[graft] def bloomMightContain(m: Int, k: Int,
                                       words: Array[Long],
                                       h1: Long, h2: Long): Boolean = {
    val b1 = java.lang.Math.floorMod(h1, m.toLong)
    val b2 = java.lang.Math.floorMod(h2, m.toLong)
    var i = 0
    while (i < k) {
      val pos =
        java.lang.Math.floorMod(b1 + i.toLong * b2, m.toLong).toInt
      if (((words(pos >> 6) >>> (pos & 63)) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** Distributed bloom fold: one job per column over exactly
    * `entries`, bits assembled as (file, word) longs via bit_or (so
    * the driver collects ≤ m/64 rows per file, never one row per
    * value), sized per file from the NDV registers just computed.
    * Returns physCol → (rel → (m, k, words)).
    */
  private def bloomSketchPass(spark: SparkSession, path: String,
                              v: Long, schema: StructType,
                              partCols: Seq[String],
                              colMap: Map[String, String],
                              entries: Seq[String],
                              physCols: Seq[String],
                              ndvRegs: Map[String,
                                Map[String,
                                  (Array[Int], Option[Array[Double]])]])
      : Map[String, Map[String, (Int, Int, Array[Long])]] = {
    import spark.implicits._
    val df = sketchRows(spark, path, v, schema, partCols, colMap, entries)
    physCols.flatMap { pc =>
      ndvRegs.get(pc).filter(_.nonEmpty).map { regsByRel =>
        val params = regsByRel.view.mapValues(r =>
          bloomParams(ndvEstimate(r._1))).toMap
        val paramDf = params.toSeq
          .map { case (rel, (m, k)) => (rel, m.toLong, k) }
          .toDF("__rel", "__m", "__k")
        val rows = df.filter(col(pc).isNotNull)
          .select(col("__rel"),
            org.apache.spark.sql.functions.xxhash64(col(pc))
              .as("__h1"),
            org.apache.spark.sql.functions.hash(col(pc)).cast("long")
              .as("__h2"))
          .join(broadcast(paramDf), "__rel")
          .select(col("__rel"), col("__m"), col("__h1"), col("__h2"),
            expr("explode(sequence(0, __k - 1))").as("__i"))
          .select(col("__rel"),
            // nested pmod: every intermediate < 17*2^15 — the plain
            // h1 + i*h2 wraps 64-bit long arithmetic, which ANSI
            // sessions turn into an overflow THROW; power-of-two m
            // makes the two formulas bit-identical
            expr("pmod(pmod(__h1, __m) + CAST(__i AS BIGINT) * " +
              "pmod(__h2, __m), __m)")
              .as("__pos"))
          .select(col("__rel"), expr("__pos div 64").as("__w"),
            expr("shiftleft(CAST(1 AS BIGINT), " +
              "CAST(__pos % 64 AS INT))").as("__bit"))
          .groupBy(col("__rel"), col("__w"))
          .agg(expr("bit_or(__bit)").as("__v"))
          .groupBy(col("__rel"))
          .agg(org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct(
              col("__w"), col("__v"))).as("__words"))
          .collect()
        pc -> rows.flatMap { row =>
          val rel = row.getString(0)
          params.get(rel).map { case (m, k) =>
            val words = new Array[Long](m / 64)
            row.getSeq[org.apache.spark.sql.Row](1).foreach { wr =>
              words(wr.getLong(0).toInt) |= wr.getLong(1)
            }
            rel -> ((m, k, words))
          }
        }.toMap
      }
    }.toMap
  }

  /** Graft bloom blocks onto one manifest entry as 'B'-kind
    * pseudo-stats, replacing any prior block for the same columns
    * (re-analyze refreshes; other columns' blocks ride). */
  private def amendBloomEntry(entry: String,
                              blooms: Map[String,
                                Map[String, (Int, Int, Array[Long])]],
                              types: StructType)
      : String = {
    val rel = relOf(entry)
    val typeTag = types.fields.map(f =>
      f.name -> f.dataType.catalogString).toMap
    val adds = blooms.toSeq.sortBy(_._1).flatMap { case (pc, m) =>
      m.get(rel).map { case (mb, k, words) =>
        // tag the HASHED type: a later schema widening makes these
        // bits non-probative (xxhash64(int) != xxhash64(long)) and
        // the lookup side skips tag-mismatched blocks
        s"$pc:B:${mb}_${k}_${typeTag.getOrElse(pc, "?")}:" +
          words.map(w => f"$w%016x").mkString
      }
    }
    if (adds.isEmpty) entry
    else {
      val i = entry.indexOf('\t')
      val analyzed = blooms.keySet
      val keptStats =
        if (i < 0) Nil
        else entry.substring(i + 1).split(';').toSeq
          .filter(_.nonEmpty).filterNot { part =>
            val ps = part.split(':')
            ps.length == 4 && ps(1) == "B" && analyzed(ps(0))
          }
      rel + "\t" + (keptStats ++ adds).mkString(";")
    }
  }

  /** The PHYSICAL columns the `stats.bloom.columns` property asks
    * bloom blocks for, intersected with the columns an NDV pass just
    * sized (blooms ride the analyze — sizing needs the registers). */
  private def bloomColumnsOf(props: Map[String, String],
                             colMap: Map[String, String],
                             analyzedPhys: Seq[String]): Seq[String] = {
    val want = props.getOrElse("stats.bloom.columns", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
      .map(c => toPhysicalName(colMap, c)).toSet
    analyzedPhys.filter(want)
  }

  /** Graft a sketch pass's registers (and quantile summaries, when
    * present) onto one manifest entry as 'V'/'Q'-kind pseudo-stats,
    * replacing any prior sketch for the same columns (re-analyze
    * refreshes; other columns' sketches ride). Quantile doubles
    * serialize via Double.toString — locale-independent, exact
    * round-trip. */
  private def amendNdvEntry(entry: String,
                            sketches: Map[String,
                              Map[String,
                                (Array[Int], Option[Array[Double]])]])
      : String = {
    val rel = relOf(entry)
    val adds = sketches.toSeq.sortBy(_._1).flatMap { case (pc, m) =>
      m.get(rel).toSeq.flatMap { case (regs, qs) =>
        Seq(s"$pc:V:${regs.map(r => f"$r%02x").mkString}") ++
          qs.map(q => s"$pc:Q:${q.mkString(",")}")
      }
    }
    if (adds.isEmpty) entry
    else {
      val i = entry.indexOf('\t')
      val analyzed = sketches.keySet
      val keptStats =
        if (i < 0) Nil
        else entry.substring(i + 1).split(';').toSeq
          .filter(_.nonEmpty).filterNot { part =>
            val ps = part.split(':')
            ps.length == 3 && (ps(1) == "V" || ps(1) == "Q") &&
              analyzed(ps(0))
          }
      rel + "\t" + (keptStats ++ adds).mkString(";")
    }
  }

  /** AUTO-ANALYZE column set of a commit, from the `stats.ndv.auto`
    * table property: absent/"false" → none (the manual-ANALYZE
    * posture, zero write cost); "true" → every atomic data-borne
    * column; a CSV → exactly those (logical) columns. PHYSICAL
    * names out. Identity partition sources are excluded either way —
    * their per-file NDV is 1 by construction ([[analyzeNdv]]'s
    * refusal, silent here because "true" must not fail on a
    * partitioned table).
    */
  private def autoNdvColumns(props: Map[String, String],
                             schema: StructType,
                             partCols: Seq[String],
                             colMap: Map[String, String])
      : Seq[String] = {
    val spec = props.getOrElse("stats.ndv.auto", "").trim
    if (spec.isEmpty || spec.equalsIgnoreCase("false")) return Nil
    val idPhys = partCols.map(parsePartField)
      .collect { case PIdentity(s) => s }.toSet
    def atomic(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType |
             org.apache.spark.sql.types.BinaryType |
             org.apache.spark.sql.types.NullType => false
        case _ => true
      }
    if (spec.equalsIgnoreCase("true"))
      toPhysicalSchema(schema, colMap).fields.toSeq
        .filter(f => atomic(f.dataType))
        .map(_.name).filterNot(idPhys)
    else {
      val named = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      named.foreach(c => require(schema.fieldNames.contains(c),
        s"snapshot: stats.ndv.auto column $c is not in the table " +
          s"schema (${schema.fieldNames.mkString(", ")})"))
      named.map(c => toPhysicalName(colMap, c)).filterNot(idPhys)
    }
  }

  def analyzeNdv(spark: SparkSession, path: String,
                 columns: Seq[String]): Long = {
    require(columns.nonEmpty, "snapshot: analyzeNdv needs columns")
    val st = currentState(spark, path, "analyzeNdv")
    columns.foreach(c => require(st.schema.fieldNames.contains(c),
      s"snapshot: analyzeNdv column $c is not in the table schema " +
        s"(${st.schema.fieldNames.mkString(", ")})"))
    val idCols = st.partCols.map(parsePartField)
      .collect { case PIdentity(s) => st.colMap.getOrElse(s, s) }
    columns.foreach(c => require(!idCols.contains(c),
      s"snapshot: analyzeNdv column $c is identity-partitioned - " +
        "its per-file NDV is 1 by construction; analyze the " +
        "data-borne columns instead"))
    // sketch keys are STORE-RELATIVE rels (DvFileCol); a shallow
    // clone's foreign URIs would never match and the commit would
    // silently add nothing - refuse loudly instead
    requireLocalEntries(st.entries, path, "analyze NDV sketches for")
    if (st.entries.isEmpty) return st.v
    val phys = toPhysicalSchema(st.schema, st.colMap)
    val analyzedPhys = columns.map(c => toPhysicalName(st.colMap, c))
    val sketches = ndvSketchPass(spark, path, st.v, st.schema,
      st.partCols, st.colMap, st.entries, analyzedPhys)
    // bloom blocks ride the analyze for the columns the
    // `stats.bloom.columns` property names (sizing needs the NDV
    // registers this pass just computed)
    val bloomPhys = bloomColumnsOf(st.props, st.colMap, analyzedPhys)
    val blooms =
      if (bloomPhys.isEmpty)
        Map.empty[String, Map[String, (Int, Int, Array[Long])]]
      else bloomSketchPass(spark, path, st.v, st.schema, st.partCols,
        st.colMap, st.entries, bloomPhys, sketches)
    def amend(entry: String): String =
      amendBloomEntry(amendNdvEntry(entry, sketches), blooms, phys)
    val f = fs(spark, path)
    onBeforePublish()
    var m = manifest(f, path, st.v)
    var curBase = st.v
    var committed = -1L
    while (committed < 0L) {
      val next = curBase + 1L
      if (tryPublishManifest(f, path, next,
          manifestLines(m.schema, m.partCols,
            m.dropped, "analyze", m.entries.map(amend), m.txns,
            m.dvs, m.colMap, m.props))) {
        bumpLatestHint(f, path, next)
        committed = next
      } else {
        // universal rebase: sketches describe immutable file content,
        // so they graft onto WHATEVER entry set won the race
        curBase = allManifestVersions(f, path).last
        m = manifest(f, path, curBase)
      }
    }
    committed
  }

  /** DELETE-FILE MAINTENANCE (Iceberg's `rewrite_position_deletes`
    * procedure, plus the equality→positional conversion its
    * `convert-equality-deletes` option performs): streaming CDC
    * lands one tiny positional delete file per commit, so a
    * long-running merge-on-read table accretes hundreds of delete
    * slivers — eventually tripping the DSv2 routing budget
    * ([[overDeleteBudget]]) and degrading every read to the
    * anti-join plan. This rewrite:
    *
    *   - CONSOLIDATES all positional delete files into one commit's
    *     worth, dropping stale tombstones that name files no longer
    *     in the manifest (rewritten by compaction/DML — their rows
    *     anti-join nothing but still cost budget and IO every scan);
    *   - with `convertEq = true`, additionally CONVERTS equality
    *     deletes to positional form: one scan of just the files each
    *     equality delete can touch (its base version's survivors)
    *     finds the matched (file, pos) identities, after which the
    *     table is positional-only — `COUNT(*)` aggregate pushdown
    *     and exact `numRows` statistics come back
    *     ([[SnapshotBatchScan]] refuses both under equality deletes).
    *
    * ZERO data-file rewrites either way (conversion reads, never
    * writes, data files); the commit carries the SAME data entries
    * with the delete-marker list replaced. Racing appends rebase
    * (appended files carry no deletes); racing anything that touched
    * the delete set or rewrote files refuses. Old delete files fall
    * out of the referenced set and [[vacuum]] reclaims them after
    * [[expire]]. No-op (current version returned) when there is
    * nothing to consolidate: at most one positional file, no stale
    * tombstones, and no conversion requested or no equality deletes.
    */
  def rewriteDeletes(spark: SparkSession, path: String,
                     convertEq: Boolean = false): Long = {
    val st = currentState(spark, path, "rewriteDeletes")
    val f = fs(spark, path)
    val posRels = st.dvs.filterNot(_.startsWith("eq:"))
    val eqs = st.dvs.flatMap(eqOf).sortBy(_.base)
    val eqMarkers = st.dvs.filter(_.startsWith("eq:"))
    val convert = convertEq && eqs.nonEmpty
    if (posRels.isEmpty && !convert) return st.v
    val liveRels = st.entries.map(relOf)
    val liveDf = spark.createDataset(liveRels)(
      org.apache.spark.sql.Encoders.STRING).toDF(DvFileCol)
    // surviving tombstones: positional rows whose target file is
    // still in the manifest (the rest are stale — harmless but paid
    // for on every read)
    val keptPos: Option[DataFrame] =
      if (posRels.isEmpty) None
      else Some(dvRows(spark, path, posRels)
        .join(liveDf, Seq(DvFileCol), "left_semi"))
    if (!convert && posRels.size <= 1) {
      // one file, nothing to merge — rewrite only if it carries
      // stale tombstones: ONE early-out job (left join against the
      // live set, first orphan wins), not two counts
      if (dvRows(spark, path, posRels)
          .join(liveDf.withColumn("__live", lit(1)),
            Seq(DvFileCol), "left")
          .filter(col("__live").isNull).isEmpty) return st.v
    }
    // equality deletes → matched (file, pos) identities: group each
    // entry by the FIRST delete whose base contains it (the same
    // nested-bases rule [[liveWithId]] applies), semi-join the
    // group's rows against every applicable delete's key file
    val converted: Option[DataFrame] = if (!convert) None else {
      // each group's rows with identity, before any delete applies
      def idOf(es: Seq[String]): DataFrame = liveWithId(spark, path,
        st.v, st.schema, st.partCols, es, Nil, st.colMap)
      val baseRels: Seq[Set[String]] =
        eqs.map(e => manifest(f, path, e.base).entries.map(relOf).toSet)
      val groups = st.entries.groupBy { en =>
        val i = baseRels.indexWhere(_.contains(relOf(en)))
        if (i < 0) eqs.size else i
      }.toSeq.filter(_._1 < eqs.size)
      if (groups.isEmpty) None
      else Some(groups.map { case (i, es) =>
        val ids = idOf(es)
        eqs.drop(i).map { e =>
          val logicalCols = e.cols.map(c => st.colMap.getOrElse(c, c))
          val keys = spark.read.parquet(s"$path/${e.rel}")
            .select(e.cols.map(col): _*).toDF(logicalCols: _*)
          ids.join(keys, logicalCols, "left_semi")
            .select(col(DvFileCol), col(DvPosCol))
        }.reduce(_ unionByName _)
      }.reduce(_ unionByName _))
    }
    val doomed = (keptPos.toSeq ++ converted.toSeq)
      .map(_.select(col(DvFileCol), col(DvPosCol)))
      .reduceOption(_ unionByName _).map(_.distinct())
    // one output file: a delete sliver is routing-budget-sized by
    // construction (the budget is why this rewrite exists), and ONE
    // file is the consolidation the scan pays for; an empty sliver
    // writes none
    val (commitDir, markers) = doomed match {
      case None => ("", Nil)
      case Some(d) =>
        val (dir, es) = writeBatchFiles(spark, d.repartition(1)
          .select(col(DvFileCol).as("__file"), col(DvPosCol).as("__pos")),
          path, Nil, Map.empty)
        (dir, es.map(relOf))
    }
    val newDvs = (if (convert) Nil else eqMarkers) ++ markers
    onBeforePublish()
    var curEntries = st.entries
    var curTxns = st.txns
    var curProps = st.props
    var curBase = st.v
    var committed = -1L
    while (committed < 0L) {
      val next = curBase + 1L
      if (tryPublishManifest(f, path, next,
          manifestLines(st.schema, st.partCols, st.dropped,
            "rewriteDeletes", curEntries, curTxns, newDvs, st.colMap,
            curProps))) {
        bumpLatestHint(f, path, next)
        committed = next
      } else {
        val newBase = allManifestVersions(f, path).last
        val m = manifest(f, path, newBase)
        def refuse(reason: String): Nothing = {
          if (markers.nonEmpty)
            f.delete(new Path(s"$path/$commitDir"), true)
          throw new java.util.ConcurrentModificationException(
            "snapshot: concurrent commit detected while rewriting " +
              s"delete files on $path and it cannot be rebased over " +
              s"($reason) - re-read and retry")
        }
        val wSchema = m.schema
        if (m.partCols != st.partCols) refuse("a partition-spec change")
        if (!wSchema.fieldNames.sameElements(st.schema.fieldNames) ||
            !wSchema.fields.map(_.dataType.catalogString)
              .sameElements(st.schema.fields
                .map(_.dataType.catalogString)))
          refuse("a schema change")
        if (m.colMap != st.colMap) refuse("a column-mapping change")
        if (m.dropped != st.dropped) refuse("a dropped-column change")
        // the rewritten tombstones were computed against st.dvs: any
        // concurrent delete-file change would be silently dropped
        if (m.dvs.toSet != st.dvs.toSet)
          refuse("a concurrent delete-file change")
        // appends are safe (new files carry no deletes); anything
        // that removed or rewrote files invalidates (file, pos) rows
        if (!curEntries.map(relOf).toSet
            .subsetOf(m.entries.map(relOf).toSet))
          refuse("a non-append commit")
        curEntries = m.entries
        curTxns = m.txns
        curProps = m.props
        curBase = newBase
      }
    }
    committed
  }

  /** Bin-pack the current snapshot into ~`targetFileBytes` files — the
    * answer to the small-files problem streaming ingestion creates
    * (every [[commitAppend]] micro-batch lands its own files; a
    * thousand triggers later the scan pays a thousand file opens).
    * Rewrites the SAME rows as a new overwrite version: history stays
    * readable, [[rollback]] can undo it, and [[expire]]+[[vacuum]]
    * later reclaim the fragment files. When the table already has no
    * more files than the byte budget calls for, no commit happens and
    * the current version is returned (compaction is idempotent —
    * a scheduler can call it every N batches for free). Racing a
    * concurrent APPEND, compaction rebases and lands anyway (the
    * appended files ride along uncompacted — WriteSerializable, so
    * the streaming-ingest + scheduled-compaction pair both win their
    * commits); racing anything that removed or rewrote files it
    * REFUSES rather than resurrecting pre-commit rows.
    *
    * Sizing uses the files' actual on-disk bytes (compressed), the
    * same signal a table-format maintenance job keys on; the
    * repartition is a full shuffle of just the affected snapshot — at
    * 100 TB you compact partitions/recent commits, not the world:
    * pass `scope = Seq("ts" -> someDayTs)` (any columns the manifest
    * can prune on — identity or hidden-transform partitions, or
    * stats) and ONLY the files matching those point lookups are
    * bin-packed; everything else is carried untouched, and pending
    * delete files are preserved for the carried files. Partitioned
    * tables keep their layout: rows shuffle BY the partition columns
    * so each output task writes whole partitions.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil,
              scope: Seq[(String, Any)] = Nil): Long = {
    require(targetFileBytes > 0, "snapshot: targetFileBytes must be positive")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "snapshot: pick ONE of sortBy (1-D clustering) and zorderBy " +
        "(multi-dimensional)")
    require(zorderBy.isEmpty ||
        (zorderBy.size >= 2 && zorderBy.size <= 4),
      s"snapshot: zorderBy takes two to four columns, got " +
        s"${zorderBy.mkString(",")}")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "compact")
    (sortBy ++ zorderBy).foreach(c => require(
      schema.fieldNames.contains(c),
      s"snapshot: compact cluster column $c is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    // SCOPED compaction — the routine 100 TB maintenance shape: a
    // whole-table rewrite of a 100 TB store is not an operation, so
    // `scope = Seq("ts" -> yesterday)` bin-packs ONLY the files the
    // point-lookup pruning keeps for those values (one day's / one
    // bucket's streaming fragments) and carries every other file
    // untouched. Rewriting any file SUBSET is exact by construction
    // (rows are preserved wherever they live), so scope selection is
    // an IO decision, never a correctness one.
    val selected =
      if (scope.isEmpty) all
      else scope.map { case (c, value) =>
        // directory-only proof: the scope means "this value's
        // partition sliver" — every fragment of the day/bucket —
        // not "the one file whose stats contain this exact value"
        prunedEntriesEquals(spark, path, c, value, Some(v),
          useFileStats = false)._1.toSet
      }.reduce(_ intersect _).toSeq.sortBy(identity[String])
    val carried = all.filterNot(selected.toSet)
    // a scoped compact must keep the manifest's delete files: carried
    // files still need them, and the pairs naming rewritten files go
    // stale-but-harmless (the anti-join matches nothing). A full
    // compact applies and drops them.
    val outDvs = if (scope.isEmpty) Nil else dvs
    val f = fs(spark, path)
    val totalBytes = selected.map(e => entryLen(f, path, e)).sum
    val want = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
    // an unsorted compaction of an already-packed table is a no-op,
    // but a CLUSTERED one is not: the caller asked for a layout, and
    // whether the current files honor it is unknowable from counts
    // pending merge-on-read deletes make even a packed table worth
    // compacting: this rewrite is what applies them physically - and
    // a shallow clone's foreign references must ALWAYS rewrite (the
    // whole point of compacting a clone is localization)
    if (sortBy.isEmpty && zorderBy.isEmpty && selected.size <= want &&
      dvs.isEmpty &&
      !selected.exists(e => isForeignRel(relOf(e)))) return v
    if (selected.isEmpty) return v
    val table = openLive(spark, path, v, schema, partCols, selected, dvs,
      colMap)
    // multi-dimensional clustering: files cover compact
    // hyper-rectangles of the key space via the bit-interleaved z
    // key, so the per-file min/max stats the commit records prune
    // selective scans on ANY clustered dimension — Delta/Iceberg
    // OPTIMIZE ZORDER over this store, 2 to 4 columns (the 1-D
    // sortBy is the degenerate case). The z key is computed in-plan
    // against one broadcast min/max row and dropped before the
    // write: it orders the layout, it is not data.
    val (clustered, clusterCols) =
      if (zorderBy.isEmpty) (table, st.lPartCols ++ sortBy)
      else {
        val aggs = zorderBy.zipWithIndex.flatMap { case (c, i) => Seq(
          org.apache.spark.sql.functions.min(col(c)).as(s"__zmn$i"),
          org.apache.spark.sql.functions.max(col(c)).as(s"__zmx$i"))
        }
        val mm = table.agg(aggs.head, aggs.tail: _*)
        val helper = zorderBy.indices
          .flatMap(i => Seq(s"__zmn$i", s"__zmx$i"))
        (table.crossJoin(org.apache.spark.sql.functions.broadcast(mm))
          .withColumn("__graft_z", Sinks.zOrderKeyN(
            zorderBy.map(col),
            zorderBy.indices.map(i => col(s"__zmn$i")),
            zorderBy.indices.map(i => col(s"__zmx$i"))))
          .drop(helper: _*),
          st.lPartCols :+ "__graft_z")
      }
    val packed =
      if (clusterCols.isEmpty) clustered.repartition(want.toInt)
      else clustered
        // range partitioning gives files DISJOINT key ranges and the
        // within-file sort tightens row-group min/max: after this, a
        // key-predicate scan prunes to one file + few row groups.
        // Partition columns lead the range key so each output task
        // holds whole partitions (no per-task partition fan-out).
        .repartitionByRange(want.toInt, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*)
        .drop("__graft_z")
    writeCommit(spark, packed, path, carried, schema, partCols, dropped,
      txns, outDvs, colMap, Some(v),
      RebaseRewrite("compacting", selected.map(relOf).toSet, dvs),
      "compact", st.props,
      // compact already laid the data out (repartitionByRange +
      // within-partition sort, partition columns leading) — the
      // write's AQE rebalance would RE-shuffle on the directory
      // values and destroy the disjoint per-file key ranges the
      // clustering exists to produce
      writeOpts = Map("write.rebalance" -> "false"))
  }

  /** METADATA-ONLY column drop: a new version whose manifest carries
    * the SAME files under a narrowed schema — constant-time, zero
    * data IO, history intact (time travel still reads the column in
    * old versions). The dropped columns' PHYSICAL names are
    * tombstoned in the manifest; with column mapping a later append
    * may RE-USE the logical name safely (it is assigned a fresh
    * physical name, so the old files' values can never resurrect —
    * the Delta-column-mapping relaxation of the former refusal).
    * Physical removal, if wanted, is a later [[compact]] (its
    * rewrite writes only the current schema's columns). Partition
    * columns cannot be dropped.
    */
  /** PARTITION-SPEC EVOLUTION (Iceberg's layout headline): change
    * the table's partitioning for FUTURE writes in one metadata-only
    * commit — `months(ts)` grows into `days(ts)` when the data
    * outgrows month grain, an unbucketed table gains `bucket(64,
    * user_id)` when point lookups arrive. Existing files keep their
    * old directory layout and keep serving: pruning reads each
    * entry's OWN directory keys from its path, so an old-layout file
    * simply doesn't answer new-spec probes (kept, never wrongly
    * pruned) while fresh writes land under the new spec. A
    * [[compact]] — scoped or full — migrates old files into the
    * current layout as a side effect of rewriting them.
    *
    * IDENTITY fields cannot change while the table has files: an
    * identity value lives ONLY in the directory name (the column is
    * not in the data files), so adding or removing one would
    * null-fill reads on half the layout. Hidden transforms keep
    * their source columns in the files and evolve freely — which is
    * exactly why transforms are the layout primitive to prefer.
    */
  def alterPartitionSpec(spark: SparkSession, path: String,
                         partitionBy: Seq[String]): Long = {
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "alter partitioning of")
    val logical = normalizePartSpecs(partitionBy).map(parsePartField)
    logical.foreach(fld => require(schema.fieldNames.contains(fld.source),
      s"snapshot: partition source column ${fld.source} is not in " +
        s"the table schema (${schema.fieldNames.mkString(", ")})"))
    // manifests store PHYSICAL names; specs arrive logical
    val newSpecs = logical.map {
      case PIdentity(s) => PIdentity(toPhysicalName(colMap, s))
      case PTime(k, s) => PTime(k, toPhysicalName(colMap, s))
      case PBucket(n, s) => PBucket(n, toPhysicalName(colMap, s))
      case PTruncate(w, s) => PTruncate(w, toPhysicalName(colMap, s))
    }.map(_.spec)
    if (newSpecs == partCols) return v
    if (all.nonEmpty) {
      val oldIds = partCols.map(parsePartField)
        .collect { case PIdentity(s) => s }.toSet
      val newIds = newSpecs.map(parsePartField)
        .collect { case PIdentity(s) => s }.toSet
      require(oldIds == newIds,
        "snapshot: partition-spec evolution cannot change IDENTITY " +
          s"fields on a non-empty table (old: ${oldIds.mkString(",")}; " +
          s"new: ${newIds.mkString(",")}) - identity values live in " +
          "directory names, not data files, so existing files would " +
          "misread; evolve hidden transforms freely, or rewrite into " +
          "a fresh table for identity changes")
      // a bucket or truncate directory name carries no width: a live
      // file under a new field's directory name may hold another one
      val held = all.iterator.flatMap(e => partValsOf(relOf(e)).keys).toSet
      val rewidth = newSpecs.filterNot(partCols.contains)
        .map(parsePartField).filter {
          case f @ (_: PBucket | _: PTruncate) => held(f.dirName)
          case _ => false
        }
      require(rewidth.isEmpty,
        "snapshot: partition-spec evolution cannot change the WIDTH " +
          "of a bucket or truncate field on a non-empty table (old: " +
          s"${partCols.mkString(",")}; new: " +
          s"${rewidth.map(_.spec).mkString(",")}) - the directory " +
          "name carries no width, so existing files would misread " +
          "under the new one; add new fields freely, or rewrite into " +
          "a fresh table for width changes")
    }
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(schema, newSpecs, dropped, "alterPartitioning",
          all, txns, dvs, colMap, st.props)))
      throw new java.util.ConcurrentModificationException(
        "snapshot: concurrent commit detected while altering the " +
          s"partitioning of $path (version $next was claimed by " +
          "another writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  def dropColumns(spark: SparkSession, path: String,
                  cols: Seq[String]): Long = {
    require(cols.nonEmpty, "snapshot: dropColumns needs column names")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "drop columns from")
    val missing = cols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"snapshot: column(s) ${missing.mkString(", ")} are not in the " +
        s"table schema (${schema.fieldNames.mkString(", ")})")
    val parts = cols.filter(st.lPartCols.contains)
    require(parts.isEmpty,
      s"snapshot: ${parts.mkString(", ")} are partition columns - the " +
        "layout depends on them; repartition via a fresh commit instead")
    val eqKeyPhys = dvs.flatMap(eqOf).flatMap(_.cols).toSet
    val eqHit = cols.filter(c => eqKeyPhys.contains(toPhysicalName(colMap, c)))
    require(eqHit.isEmpty,
      s"snapshot: ${eqHit.mkString(", ")} key live equality deletes - " +
        "compact to apply the deletes before dropping the column(s)")
    val remaining = schema.fields.filterNot(f => cols.contains(f.name))
    require(remaining.nonEmpty,
      "snapshot: dropping every column would leave an unreadable table")
    val doomedPhys = cols.map(c => toPhysicalName(colMap, c))
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(StructType(remaining), partCols,
          dropped ++ doomedPhys, "dropColumns", all, txns, dvs,
          colMap -- doomedPhys, st.props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while dropping columns " +
          s"from $path (version $next was claimed by another writer) - " +
          "re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** METADATA-ONLY column add: a new version whose manifest carries
    * the SAME files under a widened schema — existing files null-fill
    * the new columns on read, exactly like append-driven evolution
    * but without writing a row. New names get physical assignments
    * through the same collision-avoiding mapping as appends (re-using
    * a dropped name is safe). The SQL catalog's ALTER TABLE ADD
    * COLUMNS.
    */
  def addColumns(spark: SparkSession, path: String,
                 newCols: StructType): Long = {
    require(newCols.fields.nonEmpty,
      "snapshot: addColumns needs at least one column")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "add columns to")
    val clash = newCols.fieldNames.filter(schema.fieldNames.contains)
    require(clash.isEmpty,
      s"snapshot: column(s) ${clash.mkString(", ")} already exist in " +
        s"$path")
    newCols.fieldNames.foreach(requireMappableName)
    val (s2, map2) = evolvedSchemaAndMap(schema,
      nullableAll(StructType(schema.fields ++ newCols.fields)), path,
      dropped, colMap)
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(s2, partCols, dropped,
          s"addColumns(${newCols.fieldNames.mkString(",")})", all,
          txns, dvs, map2, st.props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while adding columns " +
          s"to $path (version $next was claimed by another writer) - " +
          "re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** A schema change [[alterColumns]] applies — the catalog's ALTER
    * TABLE currency.
    */
  sealed trait ColumnChange
  object ColumnChange {
    final case class Rename(from: String, to: String) extends ColumnChange
    final case class Drop(name: String) extends ColumnChange
    final case class Add(field: org.apache.spark.sql.types.StructField)
      extends ColumnChange
    final case class Widen(name: String, to: DataType)
      extends ColumnChange
  }

  /** Apply a SEQUENCE of rename/drop/add column changes as ONE
    * metadata-only commit — the all-or-nothing contract a multi-change
    * `ALTER TABLE` statement carries: either every change lands in
    * one new version or none does (a validation failure or OCC
    * conflict leaves the table untouched). Changes see each other in
    * order (rename a→b then add a is legal). Same semantics per
    * change as [[renameColumn]] / [[dropColumns]] / [[addColumns]].
    */
  def alterColumns(spark: SparkSession, path: String,
                   changes: Seq[ColumnChange]): Long = {
    require(changes.nonEmpty, "snapshot: alterColumns needs changes")
    val st @ CurState(v, schema0, partCols, dropped0, txns, dvs, colMap0, all) =
      currentState(spark, path, "alter columns of")
    val lPart = partCols.map(parsePartField)
      .map(f => colMap0.getOrElse(f.source, f.source))
    var schema = schema0
    var colMap = colMap0
    var dropped = dropped0
    var lPartNow = lPart
    changes.foreach {
      case ColumnChange.Rename(from, to) =>
        requireMappableName(to)
        require(schema.fieldNames.contains(from),
          s"snapshot: column $from is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        require(from == to || !schema.fieldNames.contains(to),
          s"snapshot: column $to already exists - renaming $from " +
            "onto it would collide")
        if (from != to) {
          val physFrom = toPhysicalName(colMap, from)
          if (physFrom != to) requireMappableName(physFrom)
          schema = StructType(schema.fields.map(f =>
            if (f.name == from) f.copy(name = to) else f))
          colMap =
            if (physFrom == to) colMap - physFrom
            else (colMap - physFrom) + (physFrom -> to)
          lPartNow = lPartNow.map(c => if (c == from) to else c)
        }
      case ColumnChange.Drop(name) =>
        require(schema.fieldNames.contains(name),
          s"snapshot: column $name is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        require(!lPartNow.contains(name),
          s"snapshot: $name is a partition column - the layout " +
            "depends on it; repartition via a fresh commit instead")
        require(schema.fields.length > 1,
          "snapshot: dropping every column would leave an " +
            "unreadable table")
        val phys = toPhysicalName(colMap, name)
        require(!dvs.flatMap(eqOf).flatMap(_.cols).contains(phys),
          s"snapshot: $name keys a live equality delete - compact " +
            "to apply the delete before dropping the column")
        schema = StructType(schema.fields.filterNot(_.name == name))
        dropped += phys
        colMap -= phys
      case ColumnChange.Add(field) =>
        require(!schema.fieldNames.contains(field.name),
          s"snapshot: column ${field.name} already exists in $path")
        requireMappableName(field.name)
        val (s2, map2) = evolvedSchemaAndMap(schema,
          nullableAll(StructType(schema.fields :+ field)), path,
          dropped, colMap)
        schema = s2
        colMap = map2
      case ColumnChange.Widen(name, to) =>
        require(schema.fieldNames.contains(name),
          s"snapshot: column $name is not in the table schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        val from = schema(name).dataType
        if (from != to) {
          require(widens(from, to),
            s"snapshot: ${from.catalogString} -> ${to.catalogString} " +
              s"is not a safe widening for column $name (integral " +
              "up-chain, float->double, sub-long integral->double " +
              "only); rewrite via a fresh commit instead")
          require(!transformSources(partCols)
              .contains(toPhysicalName(colMap, name)),
            s"snapshot: column $name sources a hidden partition " +
              "transform - widening it would change the write-time " +
              "bucket/transform derivation and break pruning")
          schema = StructType(schema.fields.map(f =>
            if (f.name == name) f.copy(dataType = to) else f))
        }
    }
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(schema, partCols, dropped,
          s"alterColumns(${changes.size})", all, txns, dvs, colMap,
          st.props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while altering " +
          s"columns of $path (version $next was claimed by another " +
          "writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** METADATA-ONLY column rename — Delta's name-mode column mapping:
    * a new version whose manifest maps the column's unchanged
    * PHYSICAL name to the new LOGICAL name. Constant-time, zero data
    * IO; old files keep serving (their physical column resolves to
    * the new name at read), new writes rename at the write boundary,
    * and TIME TRAVEL reads each version under that version's own
    * names. Partition columns rename too (directories keep the
    * physical name; validation and clustering follow the logical
    * one). Renaming to a previously dropped name is fine — the
    * tombstone pins the PHYSICAL name, which never comes back.
    * Refuses: unknown `from`, existing `to`, and names carrying the
    * manifest's separator characters.
    */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Long = {
    requireMappableName(to)
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "rename a column of")
    require(schema.fieldNames.contains(from),
      s"snapshot: column $from is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    require(from == to || !schema.fieldNames.contains(to),
      s"snapshot: column $to already exists - renaming $from onto it " +
        "would collide")
    if (from == to) return v
    val physFrom = toPhysicalName(colMap, from)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    // physical == new logical ⇒ back to identity (a→b→a round-trip
    // leaves no mapping entry)
    val newMap =
      if (physFrom == to) colMap - physFrom
      else (colMap - physFrom) + (physFrom -> to)
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(newSchema, partCols, dropped,
          s"rename(from=$from,to=$to)", all, txns, dvs, newMap,
          st.props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while renaming a " +
          s"column of $path (version $next was claimed by another " +
          "writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  private def requirePropPair(k: String, v: String): Unit = {
    require(k.nonEmpty && !k.exists(c => c == '=' || c == ';' ||
        c == '\t' || c == '\n' || c == '\r') && !k.startsWith("#"),
      s"snapshot: illegal property key '$k' (no '=', ';', tabs, " +
        "newlines or leading '#')")
    require(!v.exists(c => c == ';' || c == '\t' || c == '\n' ||
        c == '\r'),
      s"snapshot: illegal property value '$v' for key '$k' (no ';', " +
        "tabs or newlines)")
  }

  /** TABLE PROPERTIES (Delta/Iceberg TBLPROPERTIES): durable `k=v`
    * pairs in the manifest, carried forward by EVERY commit and
    * consulted by writers — `write.bloom.columns` (csv of column
    * names) turns on per-column parquet bloom filters for all
    * subsequent data writes (appends, compaction, staged writes),
    * the point-lookup complement to min/max stats on
    * high-cardinality unsorted columns. Metadata-only commit; the
    * merge is upsert semantics (existing keys overwrite, others
    * stay).
    */
  def setProperties(spark: SparkSession, path: String,
                    props: Map[String, String]): Long = {
    require(props.nonEmpty, "snapshot: setProperties needs properties")
    props.foreach { case (k, v) => requirePropPair(k, v) }
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap,
      all) = currentState(spark, path, "set properties of")
    Seq("write.bloom.columns", "stats.bloom.columns").foreach(key =>
      props.get(key).foreach(_.split(',').map(_.trim)
        .filter(_.nonEmpty).foreach(c =>
          require(schema.fieldNames.contains(c),
            s"snapshot: $key names '$c', which is not " +
              s"in the table schema " +
              s"(${schema.fieldNames.mkString(", ")})"))))
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(schema, partCols, dropped,
          s"setProperties(${props.keys.toSeq.sorted.mkString(",")})",
          all, txns, dvs, colMap, st.props ++ props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while setting " +
          s"properties of $path (version $next was claimed by " +
          "another writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** Remove table properties by key (absent keys are a no-op). */
  def unsetProperties(spark: SparkSession, path: String,
                      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "snapshot: unsetProperties needs keys")
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap,
      all) = currentState(spark, path, "unset properties of")
    if (!keys.exists(st.props.contains)) return v
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(schema, partCols, dropped,
          s"unsetProperties(${keys.sorted.mkString(",")})",
          all, txns, dvs, colMap, st.props -- keys)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while unsetting " +
          s"properties of $path (version $next was claimed by " +
          "another writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** The table's properties at a version (default: latest). */
  def properties(spark: SparkSession, path: String,
                 version: Option[Long] = None): Map[String, String] = {
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    manifest(f, path, v).props
  }

  /** TYPE WIDENING (Delta's ALTER COLUMN TYPE widening): promote a
    * column to a wider type along the safe lattice ([[widens]]) as a
    * METADATA-ONLY commit — zero file rewrites; every existing file's
    * narrower pages read exactly under the promoted type (Spark 4
    * parquet type promotion, spec-pinned). Appends also widen
    * implicitly when a batch arrives wider; this is the explicit
    * `ALTER TABLE t ALTER COLUMN c TYPE BIGINT` spelling. Refuses on
    * hidden-transform partition sources (the write-time bucket hash
    * is type-sensitive — widening would silently break pruning) and
    * on any non-widening change (narrowing, long→double precision
    * loss).
    */
  def widenColumn(spark: SparkSession, path: String,
                  name: String, to: DataType): Long = {
    val st @ CurState(v, schema, partCols, dropped, txns, dvs, colMap, all) =
      currentState(spark, path, "widen a column of")
    require(schema.fieldNames.contains(name),
      s"snapshot: column $name is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val from = schema(name).dataType
    if (from == to) return v
    require(widens(from, to),
      s"snapshot: ${from.catalogString} -> ${to.catalogString} is not " +
        s"a safe widening for column $name (integral up-chain, " +
        "float->double, sub-long integral->double only); rewrite via " +
        "a fresh commit instead")
    val phys = toPhysicalName(colMap, name)
    require(!transformSources(partCols).contains(phys),
      s"snapshot: column $name sources a hidden partition transform " +
        s"of $path - widening it would change the write-time " +
        "bucket/transform derivation and break pruning; re-layout " +
        "the table instead")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    val f = fs(spark, path)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next,
        manifestLines(newSchema, partCols, dropped,
          s"widen(col=$name,to=${to.catalogString})", all, txns, dvs,
          colMap, st.props)))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while widening a " +
          s"column of $path (version $next was claimed by another " +
          "writer) - re-read and retry")
    bumpLatestHint(f, path, next)
    next
  }

  /** The table's commit history — DESCRIBE HISTORY: one row per
    * surviving version with its commit time (manifest mtime, the
    * [[versionAsOf]] clock), operation (`#op=` marker), file count,
    * total bytes and manifest encoding (`full` inline v3, or
    * `sharded` v4) — the operational at-a-glance every table format
    * owes its operators. Metadata only: reads manifests, never data.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    allManifestVersions(f, path).map { v =>
      val m = manifest(f, path, v)
      val mt = f.getFileStatus(manifestPath(path, v)).getModificationTime
      val enc = if (m.shardRefs.isEmpty) "full" else "sharded"
      (v, new java.sql.Timestamp(mt), m.op, m.entries.size.toLong,
        m.entries.map(e => entryLen(f, path, e)).sum, enc)
    }.toDF("version", "committed_at", "operation", "n_files",
      "total_bytes", "encoding")
  }

  /** The FILES metadata table (Iceberg's `db.t.files` posture): one
    * row per manifest entry of the chosen version — relative path,
    * on-disk bytes (the `__len` pseudo-stat; zero file status calls),
    * partition-directory values (identity AND hidden-transform
    * directories), and the committed min/max pruning stats rendered
    * as strings (numeric and truncated-string bounds; a `null` max
    * means unbounded). What an operator looks at before deciding to
    * compact, re-cluster, or diagnose why a scan didn't prune.
    */
  def files(spark: SparkSession, path: String,
            version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    val m = manifest(f, path, v)
    m.entries.map { e =>
      val rel = relOf(e)
      val nums = statsOf(e)
        .filterNot(s => s._1 == LenStat || s._1 == RowsStat)
      val strs = stringStatsOf(e)
      // string bounds are 16-byte TRUNCATED prefixes — a cut can land
      // mid-codepoint, so a plain UTF-8 decode would render U+FFFD
      // replacement characters that read like exact values. Render as
      // text only when the bytes round-trip losslessly; otherwise
      // fall back to the manifest's own hex spelling.
      def renderBound(b: Array[Byte]): String = {
        val s = new String(b, java.nio.charset.StandardCharsets.UTF_8)
        if (java.util.Arrays.equals(
            s.getBytes(java.nio.charset.StandardCharsets.UTF_8), b)) s
        else "0x" + b.map(x => f"$x%02x").mkString
      }
      (rel, entryLen(f, path, e),
        entryRows(e).map(java.lang.Long.valueOf).orNull,
        partValsOf(rel),
        nums.map { case (k, (mn, _)) => k -> mn.toString } ++
          strs.map { case (k, (mn, _)) => k -> renderBound(mn) },
        nums.map { case (k, (_, mx)) => k -> mx.toString } ++
          strs.map { case (k, (_, mx)) =>
            k -> mx.map(renderBound).orNull })
    }.toDF("file", "bytes", "rows", "partition", "stats_min",
      "stats_max")
  }

  /** DESCRIBE DETAIL: the one-row operational summary (Delta's
    * `DESCRIBE DETAIL` shape) — current version, file/byte/row
    * totals (manifest pseudo-stats, zero data IO; rows null when a
    * live delete file makes the sum an overcount), partition spec,
    * live delete files, pending staged appends, tags and properties.
    * The first thing an operator looks at; everything here is one
    * manifest read plus directory listings.
    */
  def detail(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no committed version under $path"))
    val m = manifest(f, path, v)
    val counted = m.entries.flatMap(entryRows)
    val rows =
      if (m.dvs.isEmpty && counted.size == m.entries.size)
        java.lang.Long.valueOf(counted.sum)
      else null
    Seq((path, v, allManifestVersions(f, path).size.toLong,
      m.entries.size.toLong,
      m.entries.map(e => entryLen(f, path, e)).sum, rows,
      logicalPartSpecs(m.partCols, m.colMap),
      m.dvs.size.toLong, listStaged(spark, path),
      tags(spark, path).map { case (k, tv) => k -> tv.toString },
      m.props))
      .toDF("location", "version", "n_versions", "n_files",
        "total_bytes", "total_rows", "partitioning",
        "n_delete_files", "staged", "tags", "properties")
  }

  /** The PARTITIONS metadata table (Iceberg's `db.t.partitions`, the
    * `SHOW PARTITIONS` a path-based store can answer): one row per
    * distinct partition-directory tuple of the chosen version with
    * its file count, byte and row totals — from the manifest alone
    * (`__len`/`__rows` pseudo-stats, zero data IO). What an operator
    * reads before scoped compaction or a partition replace; an
    * unpartitioned table is one all-files row with an empty tuple.
    */
  def partitions(spark: SparkSession, path: String,
                 version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val f = fs(spark, path)
    val v = resolveVersion(spark, path, version)
    val m = manifest(f, path, v)
    m.entries.groupBy(e => partValsOf(relOf(e)).toSeq.sortBy(_._1))
      .map { case (tuple, es) =>
        // a live delete file (positional or equality) makes the
        // entry sum an OVERCOUNT - report null, never a wrong number
        val rows =
          if (m.dvs.nonEmpty || !es.forall(entryRows(_).isDefined))
            null
          else java.lang.Long.valueOf(es.flatMap(entryRows).sum)
        (tuple.toMap, es.size.toLong,
          es.map(e => entryLen(f, path, e)).sum, rows)
      }.toSeq.toDF("partition", "n_files", "total_bytes", "total_rows")
  }

  /** The standing maintenance pass a scheduler runs against every
    * table — compact-if-fragmented + expire + vacuum in one call,
    * each half already idempotent: [[compact]] no-ops when the table
    * is packed, [[expire]] keeps `keepVersions` (tags always pinned),
    * [[vacuum]] respects `graceMs` so an in-flight commit is never
    * swept. Racing a live writer, the compact step may refuse
    * ([[retryOnConflict]] semantics apply — maintenance just runs
    * again next cycle); expiry and vacuum are conflict-free. Returns
    * (compacted?, manifests expired, files vacuumed).
    */
  def maintain(spark: SparkSession, path: String,
               targetFileBytes: Long = 128L << 20,
               keepVersions: Int = 10,
               graceMs: Long = 3600000L): (Boolean, Int, Int) = {
    val before = latestVersion(spark, path)
    val after = compact(spark, path, targetFileBytes)
    val compacted = !before.contains(after)
    val resharded = reshard(spark, path).nonEmpty
    val expired = expire(spark, path, keepVersions)
    val vacuumed = vacuum(spark, path, graceMs)
    (compacted || resharded, expired, vacuumed)
  }

  /** Re-chunk every directory group of the current v4 manifest to
    * the canonical sorted layout — a METADATA-only commit (zero data
    * IO) healing the sub-size tail shards [[renderV4]]'s
    * append-reuse accretes. No-op (None) when every group is
    * already canonical-count (ceil(groupEntries/shardSize) shards),
    * so the scheduler can run it every cycle; orphaned pre-reshard
    * shard files age out through [[vacuum]] like any other
    * unreferenced metadata. Part of [[maintain]].
    */
  def reshard(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val v = latestVersion(spark, path).getOrElse(return None)
    val m = manifest(f, path, v)
    if (m.shardRefs.isEmpty) return None
    val sSize = shardSize(f)
    val accreted = m.shardRefs.groupBy(r => shardGroupKey(r.pseudo))
      .exists { case (_, rs) =>
        rs.size > (rs.map(_.count.toLong).sum + sSize - 1) / sSize }
    if (!accreted) return None
    val full = manifestLines(m.schema, m.partCols, m.dropped,
      "reshard", m.entries, m.txns, m.dvs, m.colMap, m.props)
    val lines = renderV4(f, path, full, sSize, forceRechunk = true)
    val next = v + 1L
    if (!tryPublishManifest(f, path, next, lines))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while resharding " +
          s"$path (version $next was claimed by another writer) - " +
          "re-read and retry")
    bumpLatestHint(f, path, next)
    Some(next)
  }

  /** Rerun `op` when it loses an optimistic-concurrency race
    * (`ConcurrentModificationException` from any snapshot mutation):
    * every mutation here re-reads the CURRENT table state at entry,
    * so a retry recomputes against the interloper's commit — the
    * standard OCC retry loop (Delta does the same internally for
    * idempotent-safe operations), with linear backoff so two looping
    * writers don't re-collide forever. The last failure propagates.
    * Only wrap operations that are correct to recompute from scratch
    * (all the mutations here are — they carry no state between
    * attempts). Needed less often since rewrites rebase over
    * append-only interlopers on their own; this loop is for genuine
    * rewrite-vs-rewrite races and overwrites.
    */
  def retryOnConflict[A](attempts: Int = 5, backoffMs: Long = 200L)
                        (op: => A): A = {
    require(attempts >= 1, s"snapshot: attempts must be >= 1: $attempts")
    var i = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(op)
      catch { case e: java.util.ConcurrentModificationException =>
        i += 1
        if (i >= attempts) throw e
        Thread.sleep(backoffMs * i)
      }
    }
    out.get
  }

  /** Roll the table back to `toVersion`: a NEW version whose manifest
    * is a byte-for-byte copy of the old one, operation marker aside
    * (a v4 copy reuses the source's shards) — constant-time,
    * no data IO, and the rolled-back-from snapshot stays readable
    * (rollback is an ordinary commit in the history, not an erasure).
    * Refuses when a concurrent commit claims the version first.
    */
  def rollback(spark: SparkSession, path: String, toVersion: Long): Long = {
    val f = fs(spark, path)
    manifest(f, path, toVersion) // refuses unknown versions and headers
    val base = allManifestVersions(f, path).last
    val v = base + 1L
    // format-preserving copy, except the operation marker: history
    // must show THIS commit as a rollback, not the source's op. v4
    // shard refs are content-addressed and immutable, so the rollback
    // reuses them untouched (vacuum keeps every referenced shard alive)
    val lines = readLines(f, manifestPath(path, toVersion))
      .filterNot(_.startsWith("#op=")).patch(3,
        Seq(s"#op=rollback(to=$toVersion)"), 0)
    if (!tryPublishManifest(f, path, v, lines))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: concurrent commit detected while rolling back $path " +
          s"(version $v was claimed by another writer) - re-read and retry")
    bumpLatestHint(f, path, v)
    v
  }

  /** Drop every manifest older than the newest `keepLast` (the
    * current snapshot always survives). Metadata-only; the files
    * those manifests referenced remain until [[vacuum]] proves no
    * surviving manifest needs them.
    */
  def expire(spark: SparkSession, path: String, keepLast: Int): Int = {
    require(keepLast >= 1, "snapshot: must keep at least one version")
    val f = fs(spark, path)
    val all = allManifestVersions(f, path)
    val tagged = tags(spark, path).values.toSet
    val pinned = tagged ++ eqBasesReferenced(f, path,
      all.takeRight(keepLast).toSet ++ tagged)
    val drop = all.dropRight(keepLast)
      .filterNot(pinned) // never a tagged snapshot — tags PIN history
    drop.foreach(v => f.delete(manifestPath(path, v), false))
    drop.size
  }

  /** Base versions every surviving manifest needs: an
    * equality-delete marker's base MANIFEST defines which files the
    * delete applies to, so it must outlive its referrer and retention
    * pins it like a tag. Closed transitively: a pinned base may
    * itself carry markers with earlier bases.
    */
  private def eqBasesReferenced(f: FileSystem, path: String,
                                roots: Set[Long]): Set[Long] = {
    var seen = Set.empty[Long]
    var frontier = roots
    while (frontier.nonEmpty) {
      val next = frontier
        .flatMap(v => manifest(f, path, v).dvs.flatMap(eqOf).map(_.base))
        .diff(seen ++ frontier)
      seen ++= frontier
      frontier = next
    }
    seen -- roots
  }

  /** Retention BY AGE — the `RETAIN n HOURS` spelling: drop every
    * manifest whose commit time (filesystem mtime, cf.
    * [[versionAsOf]]) is older than `maxAgeMs`, always keeping the
    * current snapshot and every tagged one. Metadata-only, like
    * [[expire]]; run [[vacuum]] after to reclaim bytes. Time-based
    * retention is what an operations schedule actually expresses
    * ("keep 30 days"), where count-based [[expire]] drifts with
    * commit frequency.
    */
  def expireOlderThan(spark: SparkSession, path: String,
                      maxAgeMs: Long): Int = {
    require(maxAgeMs >= 0, s"snapshot: maxAgeMs must be >= 0: $maxAgeMs")
    val f = fs(spark, path)
    val all = allManifestVersions(f, path)
    val tagged = tags(spark, path).values.toSet
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val candidates = all.dropRight(1) // the current snapshot survives
      .filterNot(tagged)
      .filter(v => f.getFileStatus(manifestPath(path, v))
        .getModificationTime < cutoff)
      .toSet
    // Equality-delete bases are pinned from EVERY survivor — latest,
    // tags, AND the young manifests the age filter keeps. Unlike
    // [[expire]], survivors here are not a suffix: a young non-latest
    // manifest can carry an equality delete whose base is older than
    // the cutoff, and dropping that base would make the survivor
    // unreadable. eqBasesReferenced closes transitively, so
    // bases-of-bases survive too.
    val pinned = eqBasesReferenced(f, path, all.toSet -- candidates)
    val drop = all.filter(candidates).filterNot(pinned)
    drop.foreach(v => f.delete(manifestPath(path, v), false))
    drop.size
  }

  private def tagPath(base: String, name: String): Path = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"snapshot: tag name '$name' must be [A-Za-z0-9._-]+")
    new Path(s"$base/_refs/$name.ref")
  }

  /** Pin a committed version under a NAME — Iceberg-style tags, the
    * reproducibility contract by which a training job records "the
    * corpus I trained on" as `train-2024-06` instead of a bare
    * number. A tagged snapshot is protected from [[expire]] (and so
    * from [[vacuum]] — its manifest survives, its files stay
    * referenced) until the tag is dropped: retention can never
    * silently eat a pinned corpus. Re-tagging an existing name
    * refuses (a tag is a permanent record; [[dropTag]] first is the
    * explicit spelling). Returns the pinned version.
    */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Long] = None): Long = {
    val f = fs(spark, path)
    val v = version.orElse(latestVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no committed version under $path to tag"))
    manifest(f, path, v) // existence check, loud on unknown versions
    val p = tagPath(path, name)
    f.mkdirs(p.getParent)
    // EXCLUSIVE claim (tmp + rename-without-overwrite, the manifest
    // primitive): two concurrent taggers of one name cannot both
    // succeed — the OVERWRITE swap here used to let the later writer
    // silently repoint the pin
    require(monitorFor(f, path).synchronized {
      !f.exists(p) && RenameCommitCoordinator.tryClaim(f, p,
        Seq(v.toString))
    }, s"snapshot: tag '$name' already exists (drop it first to retag)")
    v
  }

  /** All tags: name → pinned version. */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_refs")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ref") &&
        !s.getPath.getName.startsWith("_tmp_")) // crashed claims
      .map(s => s.getPath.getName.stripSuffix(".ref") ->
        readLines(f, s.getPath).head.trim.toLong)
      .toMap
  }

  /** Read the snapshot a tag pins — [[read]] by name. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val v = tags(spark, path).getOrElse(name,
      throw new IllegalArgumentException(
        s"snapshot: no tag '$name' under $path " +
          s"(have: ${tags(spark, path).keys.toSeq.sorted.mkString(", ")})"))
    read(spark, path, Some(v))
  }

  /** Drop a tag (the version becomes expirable again). */
  def dropTag(spark: SparkSession, path: String, name: String): Boolean =
    fs(spark, path).delete(tagPath(path, name), false)

  /** Delete data files referenced by NO manifest on disk: expired
    * history and crashed-commit leftovers (a crash before the
    * manifest publish leaves data files no manifest ever named).
    * The irreversible half of retention, kept separate from
    * [[expire]] on purpose. Returns the number of files removed
    * (empty commit dirs go with them).
    *
    * `graceMs` (default 1 h, Delta-VACUUM-style): files YOUNGER than
    * the grace window are never collected even when unreferenced —
    * an IN-FLIGHT commit has already written its data files but not
    * yet published its manifest, and a concurrent vacuum without the
    * grace would delete them out from under the publish (the
    * OCC-era race a blind unreferenced-file sweep creates). Pass 0
    * only when no writer can be mid-commit (tests, a paused
    * pipeline).
    */
  /** SHALLOW CLONE (Delta `CLONE ... SHALLOW`): create `target` as a
    * new snapshot store whose v1 manifest REFERENCES the source's
    * data files — zero data copied, constant-time regardless of
    * table size. The clone is a real table from then on: appends,
    * overwrites, compaction, schema evolution, time travel and tags
    * all work; its history starts fresh at v1 and never touches the
    * source. The 100 TB use case: fork a production corpus for an
    * experiment (filter trials, tokenizer re-runs, eval splits)
    * without paying a 100 TB copy or risking the original.
    *
    * Foreign references are stored as fully-qualified URIs in the
    * manifest (stats, byte lengths and partition directories ride in
    * the entry strings, so planning, pruning and metadata counts work
    * unchanged). Two honest limits, both loud:
    *   - row-level mutations (merge / update / delete in any mode)
    *     REFUSE while foreign references remain — positional row
    *     identity is store-relative; [[compact]] localizes the files
    *     (copying only what still matters), after which everything
    *     is allowed. Appends, [[replacePartitions]], metadata ops and
    *     reads need no localization.
    *   - like Delta, [[vacuum]] or retention ON THE SOURCE can
    *     delete files a clone still references — cloning pins
    *     nothing across tables. Tag the source version if the clone
    *     must outlive the source's retention policy.
    *
    * Cloning a version with live delete files refuses (the clone
    * could not apply them without row identity); compact the source
    * first. Returns the clone's version (always 1).
    */
  def cloneTable(spark: SparkSession, source: String, target: String,
                 version: Option[Long] = None): Long = {
    val sfs = fs(spark, source)
    val tfs = fs(spark, target)
    require(latestVersion(spark, target).isEmpty,
      s"snapshot: clone target $target is already a table")
    val v = version.orElse(latestVersion(spark, source)).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no committed version under $source to clone"))
    val m = manifest(sfs, source, v)
    require(m.dvs.isEmpty,
      s"snapshot: $source version $v carries live delete files - a " +
        "clone cannot apply them (row identity is store-relative); " +
        "compact the source, then clone")
    val schema = m.schema
    val srcBase = sfs.makeQualified(new Path(source)).toString
      .stripSuffix("/")
    val entries = m.entries.map { e =>
      val rel = relOf(e)
      val stats = e.drop(rel.length) // "\t..." pseudo-stats, verbatim
      // a clone OF a clone carries the original reference through
      (if (isForeignRel(rel)) rel else s"$srcBase/$rel") + stats
    }
    // props and the column mapping must travel (physical names live
    // in the referenced files); txns must NOT - the clone is a new
    // table, a streaming query targeting it starts from scratch
    val lines = manifestLines(schema, m.partCols, m.dropped,
      s"clone(source=$source, version=$v)", entries,
      Map.empty, Nil, m.colMap, m.props)
    if (!tryPublishManifest(tfs, target, 1L, lines))
      throw new java.util.ConcurrentModificationException(
        s"snapshot: a concurrent writer created $target while cloning")
    bumpLatestHint(tfs, target, 1L)
    1L
  }

  /** BRANCHES — multi-commit isolated workspaces over one table (the
    * Iceberg-branch workflow, built on [[cloneTable]]): a branch is a
    * zero-copy fork living INSIDE the table at
    * `<path>/_branches/<name>`, invisible to main readers. Commit to
    * it freely (appends, overwrites, compaction, schema changes —
    * every [[Snapshots]] op works against [[branchPath]]), audit it,
    * then [[fastForward]] publishes the branch state back to main as
    * ONE atomic commit and retires the branch. Where [[stageAppend]]
    * gates a single batch, a branch gates a CAMPAIGN — a multi-batch
    * backfill, a re-tokenization, a quality-filter sweep — with main
    * serving untouched throughout.
    *
    * Scale shape: creation is constant-time (manifest references);
    * branch commits write only their own files; fast-forward is
    * metadata plus O(branch commit dirs) RENAMES (no data copied).
    * Honest limits: row-level DML on the branch first localizes
    * (the [[cloneTable]] rule — `compact` on the branch path), and
    * fast-forward refuses when main advanced since the fork (the
    * branch re-forks; entry-level rebase across diverged histories
    * is not pretended), when the branch carries equality-delete
    * markers (their base versions are branch-local — compact the
    * branch first), or when it still references a THIRD table.
    */
  def createBranch(spark: SparkSession, path: String,
                   name: String): Long =
    cloneTable(spark, path, branchPath(path, name))

  /** The branch's store path — every [[Snapshots]] op works on it.
    * Name validation lives HERE so every entry point (create, promote,
    * drop, SQL procedures) gets the same traversal refusal: a name
    * like '..' would otherwise address — and dropBranch would DELETE
    * — the table itself.
    */
  def branchPath(path: String, name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"snapshot: branch name '$name' must be [A-Za-z0-9_-]+")
    s"$path/_branches/$name"
  }

  def listBranches(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_branches")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => latestVersion(spark, branchPath(path, n)).isDefined)
      .sorted
  }

  /** Abandon a branch: its directory (manifests + branch-local data)
    * disappears; main never knew it existed. */
  def dropBranch(spark: SparkSession, path: String,
                 name: String): Unit = {
    val f = fs(spark, path)
    val bp = new Path(branchPath(path, name))
    // same monitor as fastForward: a drop landing mid-promote would
    // delete commit dirs the promote is renaming into main
    monitorFor(f, path).synchronized {
      require(f.exists(bp), s"snapshot: no branch '$name' under $path")
      f.delete(bp, true)
    }
    ()
  }

  private val CloneOpRe = ".*version=(\\d+)\\)$".r

  /** Publish the branch head back to MAIN as one atomic commit and
    * retire the branch. Branch-local commit directories are RENAMED
    * under main's data dir (no data copied; uuid dirs cannot
    * collide), references back into main turn store-relative again,
    * and the new main version carries the branch's schema, partition
    * spec, column mapping, properties and positional delete files
    * wholesale. Refuses loudly when main advanced since the fork —
    * the fork base is recorded in the branch's v1 clone marker — or
    * when the branch carries equality-delete markers or references
    * to a third table. Returns the new main version.
    */
  def fastForward(spark: SparkSession, path: String,
                  name: String): Long = {
    val f = fs(spark, path)
    val bPath = branchPath(path, name)
    val bv = latestVersion(spark, bPath).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot: no branch '$name' under $path"))
    val bm = manifest(f, bPath, bv)
    val m1 = manifest(f, bPath, 1L)
    val baseV = m1.op match {
      case CloneOpRe(v) => v.toLong
      case other => throw new IllegalArgumentException(
        s"snapshot: ${branchPath(path, name)} v1 is not a branch " +
          s"fork (op=$other)")
    }
    require(!bm.dvs.exists(_.startsWith("eq:")),
      s"snapshot: branch '$name' carries equality-delete markers " +
        "whose base versions are branch-local - compact the branch " +
        "(applying them) before fast-forwarding")
    // the promote retires the branch directory wholesale - a pending
    // write-audit-publish stage would vanish silently with it
    val pending = listStaged(spark, bPath)
    require(pending.isEmpty,
      s"snapshot: branch '$name' has pending staged append(s) " +
        s"${pending.mkString(", ")} - publish or drop them before " +
        "fast-forwarding")
    val schema = bm.schema
    val mainRoot = f.makeQualified(new Path(path)).toUri.toString
      .stripSuffix("/")
    val mainRootAlt = f.makeQualified(new Path(path)).toString
      .stripSuffix("/")
    def rehome(rel: String): (String, Option[String]) =
      if (isForeignRel(rel)) {
        val local = Seq(mainRoot, mainRootAlt).collectFirst {
          case r if rel.startsWith(r + "/") => rel.stripPrefix(r + "/")
        }
        (local.getOrElse(throw new IllegalArgumentException(
          s"snapshot: branch '$name' references a file outside " +
            s"$path ($rel) - localize the branch (compact) first")),
          None)
      } else (rel, Some(rel.split('/').take(2).mkString("/")))
    val entryMoves = bm.entries.map { e =>
      val rel = relOf(e)
      val (r2, mv) = rehome(rel)
      (r2 + e.drop(rel.length), mv)
    }
    val dvMoves = bm.dvs.map { d =>
      val (r2, mv) = rehome(d)
      (r2, mv)
    }
    val toMove = (entryMoves.flatMap(_._2) ++ dvMoves.flatMap(_._2))
      .distinct
    val mainMon = monitorFor(f, path)
    mainMon.synchronized {
      val mainV = allManifestVersions(f, path).last
      require(mainV == baseV,
        s"snapshot: main advanced from v$baseV to v$mainV since " +
          s"branch '$name' forked - re-branch from the current " +
          "version (entry-level rebase across diverged histories is " +
          "not attempted)")
      // main's own txn markers survive (streams writing to MAIN keep
      // their dedup); the branch's are branch-stream state and die
      // with it
      val mainTxns = manifest(f, path, mainV).txns
      // a branch commit racing the promote would be silently lost
      // (the branch dir is deleted below) - refuse instead
      require(latestVersion(spark, bPath).contains(bv),
        s"snapshot: branch '$name' advanced while fast-forwarding - " +
          "re-read its head and retry")
      // move with COMPENSATION: if rename k of N fails, the k-1
      // already-moved dirs must return to the branch before the
      // throw — otherwise they sit under main unreferenced (vacuum
      // bait) while the branch manifest points at missing dirs and
      // the branch becomes unreadable
      val moved = scala.collection.mutable.ArrayBuffer.empty[String]
      try toMove.foreach { d =>
        require(f.rename(new Path(s"$bPath/$d"), new Path(s"$path/$d")),
          s"snapshot: failed to move branch commit dir $d into $path")
        moved += d
      } catch {
        case e: Throwable =>
          moved.reverseIterator.foreach(d =>
            f.rename(new Path(s"$path/$d"), new Path(s"$bPath/$d")))
          throw e
      }
      val lines = manifestLines(schema, bm.partCols, bm.dropped,
        s"fast-forward(branch=$name, head=v$bv)",
        entryMoves.map(_._1), mainTxns, dvMoves.map(_._1), bm.colMap,
        bm.props)
      onBeforePromoteClaim()
      if (!tryPublishManifest(f, path, mainV + 1L, lines)) {
        // a cross-process writer claimed the version between the
        // listing and the claim: undo the moves and refuse
        toMove.foreach(d =>
          f.rename(new Path(s"$path/$d"), new Path(s"$bPath/$d")))
        throw new java.util.ConcurrentModificationException(
          s"snapshot: concurrent commit while fast-forwarding " +
            s"'$name' into $path - re-read and retry")
      }
      bumpLatestHint(f, path, mainV + 1L)
      f.delete(new Path(bPath), true) // the branch is consumed
      mainV + 1L
    }
  }

  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = 3600000L): Int =
    vacuumImpl(spark, path, graceMs, dryRun = false)

  /** What [[vacuum]] WOULD reclaim, without deleting anything — the
    * operator's pre-flight check (Delta's `VACUUM ... DRY RUN`):
    * returns the count of unreferenced, out-of-grace data files.
    * Dry runs also skip the staged-ttl and `_tmp_` manifest sweeps.
    */
  def vacuumDryRun(spark: SparkSession, path: String,
                   graceMs: Long = 3600000L): Int =
    vacuumImpl(spark, path, graceMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, path: String,
                         graceMs: Long, dryRun: Boolean): Int = {
    require(graceMs >= 0, s"snapshot: graceMs must be >= 0: $graceMs")
    val f = fs(spark, path)
    // ABANDONED write-audit-publish stages: a crashed audit job's
    // staged append pins its bytes forever; the OPT-IN
    // `staged.ttl.hours` property lets vacuum drop staged manifests
    // older than the ttl — their data files fall out of `referenced`
    // below and sweep in this same pass. Opt-in on purpose: vacuum
    // must never race a LIVE audit by default, and how long audits
    // legitimately run is a deployment decision, not a guess
    if (!dryRun) latestVersion(spark, path)
      .flatMap(v => manifest(f, path, v).props.get("staged.ttl.hours"))
      .foreach { h =>
        require(h.nonEmpty && h.forall(_.isDigit),
          s"snapshot: staged.ttl.hours must be a non-negative " +
            s"integer, got '$h'")
        val ttlCut = System.currentTimeMillis() - h.toLong * 3600000L
        val dir = new Path(s"$path/_staged")
        if (f.exists(dir)) f.listStatus(dir).foreach { st =>
          if (st.isFile && st.getPath.getName.endsWith(".manifest") &&
              st.getModificationTime <= ttlCut)
            f.delete(st.getPath, false)
        }
      }
    // HOLD THE TABLE MONITOR for the reference computation AND the
    // sweep: fastForward renames branch commit dirs into main BEFORE
    // claiming the manifest that references them (old mtimes, so the
    // grace window gives no cover) — an unsynchronized vacuum could
    // list them as unreferenced and delete data mid-promote. Same
    // monitor as every publish/promote/drop on this table path.
    monitorFor(f, path).synchronized {
    val liveVersions = allManifestVersions(f, path)
    // shard files referenced by ANY surviving manifest must outlive
    // it (a version's entries resolve through them); everything else
    // under _manifests/shards is orphaned by expire/compaction churn
    // and sweeps here (same grace window as data files)
    val referencedShards = liveVersions
      .flatMap(v => manifest(f, path, v).shardRefs.map(_.file)).toSet
    val referenced = (liveVersions
      .flatMap { v =>
        val m = manifest(f, path, v)
        m.entries.map(relOf) ++ m.dvs.map(dvRelOf)
      } ++
      // a staged-but-unpublished append's files must survive until
      // the audit decides (publishStaged / dropStaged)
      listStaged(spark, path).flatMap(id =>
        parseStaged(f, path, id)._5.map(relOf))).toSet
    val dataDir = new Path(s"$path/data")
    if (!f.exists(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    // crashed publishes leave `_tmp_` manifest files that no listing
    // ever reads — sweep aged ones (same grace: an in-flight publish
    // younger than the window is never touched)
    val mdir = new Path(s"$path/_manifests")
    if (!dryRun && f.exists(mdir)) f.listStatus(mdir).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith("_tmp_") &&
          st.getModificationTime <= cutoff)
        f.delete(st.getPath, false)
    }
    val sdir = new Path(s"$path/_manifests/shards")
    if (!dryRun && f.exists(sdir)) f.listStatus(sdir).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && st.getModificationTime <= cutoff &&
          (n.startsWith("_tmp_") ||
            (n.endsWith(".shard") && !referencedShards.contains(n))))
        f.delete(st.getPath, false)
    }
    f.listStatus(dataDir).foreach { commit =>
      val commitPath = f.makeQualified(commit.getPath).toUri.getPath
      val it = f.listFiles(commit.getPath, true)
      val doomed = scala.collection.mutable.ArrayBuffer.empty[Path]
      var anyReferenced = false
      var anyYoung = false
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) {
          val rel = s"data/${commit.getPath.getName}" +
            st.getPath.toUri.getPath.stripPrefix(commitPath)
          if (st.getModificationTime > cutoff) anyYoung = true
          if (st.getPath.getName.endsWith(".parquet") &&
              referenced.contains(rel)) anyReferenced = true
          else doomed += st.getPath
        }
      }
      // ONE young file protects the WHOLE commit dir: a commit's
      // files land over its entire write phase, so judging each file
      // by its own mtime would sweep a long write's EARLY files while
      // its manifest is still unpublished — committed-then-unreadable
      // data loss. A dir is all one commit; its youngest file bounds
      // how recently that commit was still writing.
      val doomedParquet = doomed.filter(_.getName.endsWith(".parquet"))
      if (!anyReferenced && !anyYoung) {
        if (!dryRun) { f.delete(commit.getPath, true); () }
        removed += doomedParquet.size
      } else if (!anyYoung) doomedParquet.foreach { p =>
        if (!dryRun) { f.delete(p, false); () }
        removed += 1
      }
    }
    removed
    }
  }
}
