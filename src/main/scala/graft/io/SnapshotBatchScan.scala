package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Expression => VExpression, Literal => VLiteral}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.graft.ScanBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** DSv2 batch read path for snapshot tables — every layout:
  * unpartitioned, hidden-transform (bucket/days/truncate — sources
  * live in the data files), and identity-partitioned (values live in
  * directory names and attach per input partition; the reader
  * reconstructs the columns). Three scan shapes, decided at build
  * time:
  *
  *   - '''Aggregate pushdown''': `COUNT(*)` / `COUNT(col)` /
  *     integral-and-exact-string `MIN/MAX(col)` answer from the
  *     MANIFEST's pseudo-stats (`__rows`, null counts, exact column
  *     bounds) — grouped by identity partition columns, filtered by
  *     manifest-ABSORBED conjuncts, positional deletes subtracted —
  *     as a rows-per-group scan with zero data IO: at 100 TB that is
  *     one metadata read instead of a million-file scan (the
  *     Delta/Iceberg log-count headline, in pure SQL).
  *   - '''Storage-partitioned joins''' (SPARK-37375): bucket-only
  *     layouts report `KeyGroupedPartitioning` (one input partition
  *     per bucket directory, the bucket number as the partition
  *     key); with [[GraftCatalog]]'s V2 `bucket` function resolving
  *     both sides to the same canonical transform, two tables
  *     bucketed alike on the join key join with ZERO Exchange nodes
  *     — the write-time layout IS the join distribution.
  *     Identity-only layouts report the same way (identity is the
  *     one transform Spark resolves without a function catalog), so
  *     date/tenant-partitioned tables join partition-vs-partition.
  *   - '''Plain key-complete scan''': everything else reads one
  *     input partition per file (the 128 MB-target layout the store
  *     compacts toward makes a file the natural task unit).
  *
  * Exactness posture: every filter is reported back as post-scan, so
  * pushdown is IO-only — parquet row-group pruning plus manifest
  * pruning ([[Snapshots.filterKeepFn]], covering transform
  * directories AND column stats) can never change answers;
  * aggregate pushdown only fires when every entry carries the exact
  * pseudo-stat it needs. Files are read through the SAME
  * `ParquetFileFormat` closure `FileSourceScanExec` ships
  * ([[org.apache.spark.sql.graft.ScanBridge]]), so type promotion
  * (widening) and rebase rules behave identically to every other
  * read path. [[GraftTable.newScanBuilder]] routes every read here
  * — catalog SQL and the programmatic front doors alike — except
  * tables whose delete sliver outgrew the shipping budget
  * ([[Snapshots.readWhere]] applies their deletes by anti-join).
  */
object SnapshotBatchScan {

  /** Row-identity METADATA COLUMNS ([[GraftTable]]
    * `SupportsMetadataColumns`): the store-relative data-file path and
    * the row's physical position — the exact (file, pos) identity the
    * store's positional delete files name, so Spark's row-level DML
    * framework can use them as the delta rowId. Requesting either
    * forces whole-file, filterless reads (positions must count every
    * physical row).
    */
  val MetaFileCol = "__graft_file"
  val MetaPosCol = "__graft_pos"
  private[io] val MetaNames: Set[String] = Set(MetaFileCol, MetaPosCol)

  /** Largest ORDER BY ... LIMIT k the scan accepts as a pushed top-N:
    * each task holds a bounded heap of k row copies, so k must stay
    * task-memory-sized (100k rows of a fat table is still ≤ tens of
    * MB; beyond that the plain sort wins anyway). */
  private[io] val MaxPushedTopN = 100000

  /** Sort-key types the per-task top-N heap can order (the atomic
    * types with a total interpreted ordering). */
  private[io] def heapOrderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** One pushed ORDER BY key: column name, direction, null order. */
  private[graft] final case class TopNKey(col: String, asc: Boolean,
                                          nullsFirst: Boolean)

  /** One top-N sort key bound to the reader's OUTPUT row layout. */
  private[graft] final case class TopNOrder(ordinal: Int, dt: DataType,
                                            asc: Boolean,
                                            nullsFirst: Boolean)

  /** The per-task bounded-heap spec of a pushed top-N: every task
    * emits at most k rows (its local top-k; Spark re-sorts and
    * re-limits above — partial pushdown), so a 1000-task ORDER BY
    * ... LIMIT 10 ships 10,000 rows to the driver-side sort instead
    * of the whole table. */
  private[graft] final case class TopNReadSpec(orders: Array[TopNOrder],
                                               k: Int) {
    def comparator: java.util.Comparator[InternalRow] =
      new java.util.Comparator[InternalRow] with Serializable {
        private val vcmp: Array[Ordering[Any]] = orders.map(o =>
          org.apache.spark.sql.catalyst.util.TypeUtils
            .getInterpretedOrdering(o.dt))
        override def compare(a: InternalRow, b: InternalRow): Int = {
          var i = 0
          while (i < orders.length) {
            val o = orders(i)
            val an = a.isNullAt(o.ordinal)
            val bn = b.isNullAt(o.ordinal)
            val c =
              if (an && bn) 0
              else if (an) { if (o.nullsFirst) -1 else 1 }
              else if (bn) { if (o.nullsFirst) 1 else -1 }
              else {
                val v = vcmp(i).compare(a.get(o.ordinal, o.dt),
                  b.get(o.ordinal, o.dt))
                if (o.asc) v else -v
              }
            if (c != 0) return c
            i += 1
          }
          0
        }
      }
  }

  /** Static IN-lists past this size skip manifest pruning (one
    * point-lookup pass per value — at some size scanning wins;
    * mirrors the runtime-filtering cap). */
  private[io] val MaxStaticInSet = 64

  /** Equi-height histogram bin count served to CBO — coarser than
    * Spark's ANALYZE default (254) because the per-file summaries
    * carry 17 points each; more bins than source points per file
    * would manufacture fake resolution. */
  private[graft] val HistogramBins = 64

  /** Fold per-file quantile summaries into one equi-height
    * histogram, in the BOUNDARY-BASED shape Spark's own ANALYZE
    * emits and its `FilterEstimation` asserts on: `nbins + 1`
    * non-decreasing boundaries, bin k = [b_k, b_k+1], CONTIGUOUS
    * and covering exactly [colMin, colMax] (the exact manifest
    * bounds served beside it — the estimator clamps query literals
    * to that range and must always land inside a bin). Each file's
    * 17 points carry rows/17 mass; interior boundaries are the
    * merged cloud's equal-mass quantiles, so a heavy value repeated
    * across files collapses a run of bins to lo==hi==v with ndv 1 —
    * which is what lets a skewed predicate estimate at its true
    * selectivity instead of the uniform min/max guess. Per-bin ndv
    * is the DISTINCT point values falling in the bin (≥ 1):
    * under-counting ndv only over-estimates equality selectivity,
    * the safe direction for plan choice.
    */
  private[graft] def buildHistogram(
      perFile: List[(Array[Double], Long)], colMin: Double,
      colMax: Double, ndvOpt: Option[Long])
      : Option[org.apache.spark.sql.connector.read.colstats
        .Histogram] = {
    val totalRows = perFile.map(_._2).sum
    if (totalRows <= 0 || colMin > colMax ||
        colMin.isNaN || colMax.isNaN) return None
    val pts = perFile.iterator.flatMap { case (qs, n) =>
      val w = n.toDouble / qs.length
      // approx percentiles are real data values, but clamp anyway:
      // a point outside [colMin, colMax] would break the coverage
      // invariant the estimator asserts
      qs.iterator.map(v =>
        (math.min(colMax, math.max(colMin, v)), w))
    }.toArray.sortBy(_._1)
    if (pts.isEmpty || pts.exists(p => p._1.isNaN)) return None
    val nbins = math.min(HistogramBins, pts.length)
    val totalW = pts.map(_._2).sum
    val bounds = new Array[Double](nbins + 1)
    bounds(0) = colMin
    bounds(nbins) = colMax
    var i = 0
    var cum = 0.0
    var k = 1
    while (k < nbins) {
      val level = k * totalW / nbins
      while (i < pts.length && cum + pts(i)._2 < level) {
        cum += pts(i)._2
        i += 1
      }
      bounds(k) = if (i < pts.length) pts(i)._1 else colMax
      k += 1
    }
    // enforce non-decreasing boundaries inside [colMin, colMax]
    k = 1
    while (k <= nbins) {
      bounds(k) = math.min(colMax, math.max(bounds(k), bounds(k - 1)))
      k += 1
    }
    // distinct point values per bin (a point belongs to the first
    // bin whose upper boundary reaches it; one sorted sweep)
    val distinct = new Array[Long](nbins)
    var bi = 0
    var prev = Double.NaN
    i = 0
    while (i < pts.length) {
      val v = pts(i)._1
      while (bi < nbins - 1 && v > bounds(bi + 1)) { bi += 1; prev = Double.NaN }
      if (v != prev) { distinct(bi) += 1; prev = v }
      i += 1
    }
    val heightRows = totalRows.toDouble / nbins
    val built = (0 until nbins).map { b =>
      val lo = bounds(b)
      val hi = bounds(b + 1)
      val ndv =
        if (lo == hi) 1L
        else math.max(1L, math.min(distinct(b),
          math.min(heightRows.toLong + 1L,
            ndvOpt.getOrElse(Long.MaxValue))))
      (lo, hi, ndv)
    }
    Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
      override def height(): Double = heightRows
      override def bins(): Array[
          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
        built.map { case (l, h, n) =>
          new org.apache.spark.sql.connector.read.colstats
            .HistogramBin {
            override def lo(): Double = l
            override def hi(): Double = h
            override def ndv(): Long = n
          }: org.apache.spark.sql.connector.read.colstats.HistogramBin
        }.toArray
    })
  }

  /** Rename a filter's attributes logical → physical for the parquet
    * reader (row-group pruning reads physical column names). Filters
    * that do not fully translate are dropped — Spark re-applies every
    * filter above the scan, so this is IO-only.
    */
  private[io] def toPhysicalFilter(p: Map[String, String])(f: Filter)
      : Option[Filter] = {
    def n(a: String): String = p.getOrElse(a, a)
    f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(n(a), v))
      case sources.EqualNullSafe(a, v) =>
        Some(sources.EqualNullSafe(n(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(n(a), v))
      case sources.GreaterThanOrEqual(a, v) =>
        Some(sources.GreaterThanOrEqual(n(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(n(a), v))
      case sources.LessThanOrEqual(a, v) =>
        Some(sources.LessThanOrEqual(n(a), v))
      case sources.In(a, vs) => Some(sources.In(n(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(n(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(n(a)))
      case sources.StringStartsWith(a, v) =>
        Some(sources.StringStartsWith(n(a), v))
      case sources.StringEndsWith(a, v) =>
        Some(sources.StringEndsWith(n(a), v))
      case sources.StringContains(a, v) =>
        Some(sources.StringContains(n(a), v))
      case sources.And(l, r) =>
        for { a <- toPhysicalFilter(p)(l); b <- toPhysicalFilter(p)(r) }
          yield sources.And(a, b)
      case sources.Or(l, r) =>
        for { a <- toPhysicalFilter(p)(l); b <- toPhysicalFilter(p)(r) }
          yield sources.Or(a, b)
      case sources.Not(c) => toPhysicalFilter(p)(c).map(sources.Not)
      case _ => None
    }
  }
}

private[graft] final class SnapshotScanBuilder(
    spark: SparkSession, path: String, pinnedV: Long,
    tableSchema: StructType, partCols: Seq[String],
    colMap: Map[String, String], entries: Seq[String],
    dvs: Seq[String] = Nil,
    onBuild: SnapshotBatchScan => Unit = _ => (),
    shardRefs: Seq[Snapshots.ShardRef] = Nil)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters with SupportsPushDownAggregates
  with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var filters: Array[Filter] = Array.empty
  private var absorbed: Array[Filter] = Array.empty
  private var kept: Seq[String] = entries
  // true while `kept` is still the UNTOUCHED lazy entry list of a
  // sharded manifest — the scan then plans through shard-level
  // pruning instead of forcing the full list
  private var keptIsFullSharded: Boolean = shardRefs.nonEmpty
  private var pushedAgg: Option[(StructType, Array[Array[Any]])] = None
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Seq[SnapshotBatchScan.TopNKey], Int)] =
    None

  /** LIMIT pushdown, PARTIAL semantics (Spark keeps its own limit
    * above): the scan plans only a PREFIX of files whose guaranteed
    * live rows cover the limit and every reader stops after `limit`
    * rows — `SELECT * FROM t LIMIT 10` on a million-file table opens
    * one file instead of a million. Residual filters refuse (Spark
    * never offers that shape — a Filter node blocks the push — but
    * the guard keeps the invariant local); a completely-pushed
    * aggregate already answers from metadata, nothing to cap.
    */
  override def pushLimit(limit: Int): Boolean = {
    if (limit <= 0 || pushedAgg.isDefined || filters.nonEmpty)
      return false
    pushedLimit = Some(limit)
    true
  }

  /** ORDER BY ... LIMIT k pushdown, PARTIAL semantics
    * ([[isPartiallyPushed]] — Spark re-sorts and re-limits above, so
    * each task may emit its local top-k in any order): accepted when
    * every sort key is a plain column of an ordered atomic type and
    * k is task-memory-sized. The scan then (a) PRUNES files the
    * manifest min/max/null-count stats prove cannot reach the top-k
    * ([[SnapshotBatchScan.topNPrune]]) and (b) caps every reader at
    * a k-row bounded heap, so the sort above receives tasks×k rows,
    * not the table.
    */
  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(orders: Array[VSortOrder], limit: Int)
      : Boolean = {
    if (limit <= 0 || limit > SnapshotBatchScan.MaxPushedTopN ||
        pushedAgg.isDefined || filters.nonEmpty) return false
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            tableSchema.fieldNames.contains(r.fieldNames.head) &&
            SnapshotBatchScan.heapOrderable(
              tableSchema(r.fieldNames.head).dataType) =>
          Some(SnapshotBatchScan.TopNKey(r.fieldNames.head,
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.isEmpty || keys.exists(_.isEmpty)) return false
    pushedTopN = Some((keys.flatten, limit))
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** MANIFEST-ABSORBED FILTERS: a conjunct the manifest answers
    * EXACTLY — `c = v` / `c <=> v` / `c IN (...)` / `c IS [NOT]
    * NULL` on an identity partition column whose directory value
    * every entry carries — is CONSUMED here (reported via
    * [[pushedFilters]], so Spark plans no Filter node above the
    * scan): the kept entry set contains exactly the matching files,
    * and every row of a kept file satisfies the conjunct because
    * identity rows EQUAL their directory value.
    * Everything else stays post-scan (returned), keeping pushdown
    * IO-only there. The payoff beyond one less Filter: with no
    * residual filter, Spark offers AGGREGATE pushdown — `COUNT(*)
    * WHERE lang = 'en' GROUP BY ym` answers from metadata
    * ([[planAgg]] folds over the absorbed-kept entries).
    */
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    val planned = fs.map(f => f -> absorb(f))
    absorbed = planned.collect { case (f, Some(_)) => f }
    val ts = planned.collect { case (_, Some(t)) => t }
    kept =
      if (ts.isEmpty) entries
      else {
        // shard-aware absorption: every transformer is an exact
        // per-entry directory predicate, and a shard's members all
        // share its pseudo-entry's directory — so a transformer that
        // drops the pseudo drops every member, and only matching
        // shards ever load
        val base =
          if (shardRefs.isEmpty) entries
          else Snapshots.loadWhere(spark, path, shardRefs,
            sr => ts.forall(t => t(Seq(sr.pseudo)).nonEmpty))
        ts.foldLeft(base)((es, t) => t(es))
      }
    if (ts.nonEmpty) keptIsFullSharded = false
    filters = planned.collect { case (f, None) => f }
    filters
  }

  override def pushedFilters(): Array[Filter] = absorbed

  private val idByLogical: Map[String, Snapshots.PIdentity] =
    partCols.map(Snapshots.parsePartField)
      .collect { case f: Snapshots.PIdentity => f }
      .map(f => colMap.getOrElse(f.source, f.source) -> f).toMap

  private lazy val layoutTz = Snapshots.layoutZone(spark, path,
    Some(pinnedV), idByLogical.keys.map(tableSchema(_).dataType).toSeq)

  /** Identity columns whose directory key EVERY entry carries — the
    * absorbability precondition (a pre-spec-evolution file holds
    * arbitrary values). One manifest pass, lazily, however many
    * conjuncts ask. */
  private lazy val dirKeyComplete: Set[String] =
    if (idByLogical.isEmpty) Set.empty
    else {
      // sharded manifests answer from the shard pseudo-entries (a
      // shard's members all share its directory chain) — O(shards),
      // never forcing the entry list
      val keySets =
        if (shardRefs.nonEmpty) shardRefs.map(sr =>
          Snapshots.partValsOf(
            Snapshots.relOfEntry(sr.pseudo)).keySet)
        else entries.map(e =>
          Snapshots.partValsOf(Snapshots.relOfEntry(e)).keySet)
      idByLogical.collect {
        case (c, fld) if keySets.forall(_.contains(fld.dirName)) => c
      }.toSet
    }

  /** The exact entry-set transformer for an absorbable conjunct, or
    * None (conjunct stays post-scan). Exactness requirements, checked
    * here: the column is identity-partitioned; EVERY entry carries
    * the directory key (a pre-spec-evolution file holds arbitrary
    * values — absorbing would drop its matching rows); for equality,
    * the value's directory string is a real value (not the
    * null/empty sentinel, which collides null with '') and the
    * column's type round-trips cast-to-string INJECTIVELY (string,
    * integral, date, boolean — timestamps excluded: their directory
    * strings bake in the writing session's timezone).
    */
  private def absorb(f: Filter): Option[Seq[String] => Seq[String]] = {
    val default = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    def fieldOf(c: String): Option[Snapshots.PIdentity] =
      idByLogical.get(c).filter(_ => dirKeyComplete(c))
    def injective(dt: DataType): Boolean = dt match {
      case org.apache.spark.sql.types.StringType | ByteType |
           ShortType | IntegerType | LongType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    // the SAME cast-to-string rule the writer named the directories
    // with (identity derive IS the value — idByLogical holds identity
    // fields only), evaluated DIRECTLY through catalyst (no Spark
    // job at planning). None when any value's string is empty or the
    // DEFAULT sentinel: the null directory holds null rows (and ''
    // collides with it), so a literal '__HIVE_DEFAULT_PARTITION__'
    // value is indistinguishable on disk from NULL — absorption must
    // refuse it, exactly like the typed read reconstructs it as NULL
    def dirStrings(c: String, vs: Seq[Any]): Option[Set[String]] = {
      val dt = tableSchema(c).dataType
      if (!injective(dt) || vs.exists(_ == null)) None
      else {
        val ss = vs.map { v =>
          val litE = org.apache.spark.sql.catalyst.expressions
            .Literal.create(v)
          val typed: org.apache.spark.sql.catalyst.expressions
            .Expression =
            if (litE.dataType == dt) litE
            else org.apache.spark.sql.catalyst.expressions
              .Cast(litE, dt, Option(layoutTz))
          Option(org.apache.spark.sql.catalyst.expressions
            .Cast(typed, org.apache.spark.sql.types.StringType,
              Option(layoutTz)).eval(null)).map(_.toString).getOrElse("")
        }
        if (ss.exists(s => s.isEmpty || s == default)) None
        else Some(ss.toSet)
      }
    }
    def keepIn(fld: Snapshots.PIdentity, expect: Set[String])
        : Seq[String] => Seq[String] =
      (es: Seq[String]) => es.filter(e =>
        Snapshots.partValsOf(Snapshots.relOfEntry(e))
          .get(fld.dirName).exists(expect))
    f match {
      case sources.EqualTo(c, v) if v != null =>
        fieldOf(c).flatMap(fld =>
          dirStrings(c, Seq(v)).map(keepIn(fld, _)))
      case sources.EqualNullSafe(c, v) if v != null =>
        fieldOf(c).flatMap(fld =>
          dirStrings(c, Seq(v)).map(keepIn(fld, _)))
      case sources.In(c, vs) if vs.nonEmpty =>
        fieldOf(c).flatMap(fld =>
          dirStrings(c, vs.toSeq).map(keepIn(fld, _)))
      case sources.IsNotNull(c) =>
        fieldOf(c).map { fld =>
          (es: Seq[String]) => es.filter(e =>
            !Snapshots.partValsOf(Snapshots.relOfEntry(e))
              .get(fld.dirName).contains(default))
        }
      case sources.IsNull(c) =>
        // sound only for NON-STRING injective types: the DEFAULT
        // directory holds null rows alone (a string '' also lands
        // there and is NOT null)
        fieldOf(c).filter(_ => injective(tableSchema(c).dataType) &&
          tableSchema(c).dataType !=
            org.apache.spark.sql.types.StringType).map { fld =>
          (es: Seq[String]) => es.filter(e =>
            Snapshots.partValsOf(Snapshots.relOfEntry(e))
              .get(fld.dirName).contains(default))
        }
      case _ => None
    }
  }

  /** MANIFEST-ANSWERED AGGREGATES: an unfiltered `COUNT(*)` sums the
    * `__rows` pseudo-stat; integral `MIN/MAX` fold the exact
    * `L`-kind bounds; string `MIN/MAX` fold the 'T'-kind bounds when
    * EVERY entry's bound is provably exact (serialized untruncated —
    * [[Snapshots.stringExactStatsOf]]). `GROUP BY` pushes when every
    * grouping column is an IDENTITY partition column: each entry
    * belongs to exactly one group (its directory value), so
    * per-group folds stay exact and `COUNT(*) ... GROUP BY ym` — the
    * dashboard shape — answers as one metadata read with one row per
    * live partition. POSITIONAL deletes subtract exactly (per-file
    * counts from the driver-bounded delete sliver) from every COUNT;
    * equality deletes and MIN/MAX-under-deletes refuse. Refuses
    * (returns false → Spark scans) unless EVERY group's every cell is
    * answerable. Spark offers aggregates here only when no filter
    * remained post-scan: either the query was bare, or every filter
    * was manifest-ABSORBED ([[pushFilters]]) — the folds then run
    * over the absorbed-kept entries, so `COUNT(*) WHERE lang = 'en'
    * GROUP BY ym` is still one exact metadata read.
    */
  // Spark probes supportCompletePushDown then pushes the SAME
  // Aggregation instance: memoize so the per-entry manifest folds run
  // once per query, not twice
  private var aggMemo
      : Option[(Aggregation, Option[(StructType, Array[Array[Any]])])] =
    None
  private def planAggMemo(agg: Aggregation)
      : Option[(StructType, Array[Array[Any]])] = aggMemo match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = planAgg(agg)
      aggMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planAggMemo(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = planAggMemo(agg)
    pushedAgg.isDefined
  }

  /** Per-file POSITIONAL-delete counts, driver-side — bounded by the
    * catalog's v2DeleteBytes routing budget before this builder ever
    * exists, and read lazily (only aggregate pushdown over a
    * delete-bearing table pays the small job).
    */
  private lazy val posDelCounts: Map[String, Long] =
    Snapshots.v2PosDeletes(spark, path, dvs)
      .map { case (rel, ps) => rel -> ps.length.toLong }

  private def planAgg(agg: Aggregation)
      : Option[(StructType, Array[Array[Any]])] = {
    // metadata-column reads (row-level DML scans) never answer from
    // the manifest
    if (required.fields.exists(f =>
        SnapshotBatchScan.MetaNames(f.name))) return None
    // EQUALITY deletes kill an unknowable number of rows per file
    // (matching is by value) - no metadata answer is exact: scan.
    // POSITIONAL deletes are exactly countable per file from the
    // (driver-bounded) delete sliver, so COUNT stays answerable;
    // MIN/MAX refuse below (a deleted row may hold the bound).
    if (dvs.exists(_.startsWith("eq:"))) return None
    if (filters.nonEmpty) return None
    val hasDeletes = dvs.nonEmpty
    val l2p = colMap.map(_.swap)
    def logicalName(phys: String): String = colMap.getOrElse(phys, phys)
    def singleCol(e: VExpression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    // GROUP BY pushes ONLY over identity partition columns (one
    // group per directory value); anything else scans
    val fields = partCols.map(Snapshots.parsePartField)
    val idFields = fields.collect { case f: Snapshots.PIdentity => f }
    val idNames = idFields.map(f => logicalName(f.source))
    val groupColsOpt = agg.groupByExpressions.toSeq.map(singleCol)
    if (groupColsOpt.exists(_.isEmpty)) return None
    val groupCols = groupColsOpt.flatten
    if (!groupCols.forall(idNames.contains)) return None
    val idTypes = idFields.map(f =>
      tableSchema(logicalName(f.source)).dataType)
    def groupKeyOf(e: String): Seq[Any] = {
      val row = Snapshots.identityValuesRow(Snapshots.relOfEntry(e),
        idFields.map(_.source), idTypes, layoutTz)
      groupCols.map { c =>
        val i = idNames.indexOf(c)
        row.get(i, idTypes(i))
      }
    }
    // entry-level groups force a sharded manifest's full lazy list -
    // built lazily; the SHARD-level groups below answer first when
    // they can (their pseudo-entries carry summed __rows/__len/N and
    // exact merged L/U bounds in the same stat grammar, so every
    // fold below evaluates over them unchanged - a bare COUNT(*) on
    // a million-file table is then O(shards) driver work)
    lazy val entryGroups: Seq[(Seq[Any], Seq[String])] =
      if (groupCols.isEmpty) Seq(Seq.empty[Any] -> kept)
      else kept.groupBy(groupKeyOf).toSeq
        .sortBy(_._1.mkString(""))
    val pseudoGroups: Option[Seq[(Seq[Any], Seq[String])]] =
      if (!keptIsFullSharded || hasDeletes || shardRefs.isEmpty) None
      else {
        val ps = shardRefs.map(_.pseudo)
        Some(
          if (groupCols.isEmpty) Seq(Seq.empty[Any] -> ps)
          // shards group per partition directory, so a pseudo's dir
          // chain carries the group key exactly like an entry's
          else ps.groupBy(groupKeyOf).toSeq
            .sortBy(_._1.mkString("")))
      }

    /** Live rows of a group's entries: `__rows` minus each file's
      * positional-delete count; None when any entry lacks the stat.
      * Memoized per group — the liveness gate below and a CountStar
      * cell would otherwise fold the same entries twice. */
    val liveMemo =
      scala.collection.mutable.HashMap.empty[Seq[String], Option[Long]]
    def liveRowsOf(es: Seq[String]): Option[Long] =
      liveMemo.getOrElseUpdate(es, {
        val per = es.map { e =>
          // stat-only: `es` may be shard PSEUDO-entries with no
          // backing file — a getFileStatus fallback would throw
          val (rel, rows) = Snapshots.entryMetaStat(e)
          rows.map(_ - posDelCounts.getOrElse(rel, 0L))
        }
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      })

    def longBoundsOf(name: String, es: Seq[String])
        : Option[(Long, Long)] = {
      if (es.isEmpty) return None // empty MIN/MAX is NULL: scan
      val phys = l2p.getOrElse(name, name)
      val per = es.map(e => Snapshots.longStatsOf(e).get(phys))
      if (per.exists(_.isEmpty)) None
      else Some((per.map(_.get._1).min, per.map(_.get._2).max))
    }
    def stringBoundOf(name: String, es: Seq[String], isMin: Boolean)
        : Option[Any] = {
      if (es.isEmpty) return None
      val phys = l2p.getOrElse(name, name)
      val per = es.map(e => Snapshots.stringExactStatsOf(e).get(phys)
        .flatMap(b => if (isMin) b._1 else b._2))
      if (per.exists(_.isEmpty)) None
      else {
        val pick = per.map(_.get).reduce((a, b) =>
          if ((Snapshots.bytesCompareKey(a, b) < 0) == isMin) a else b)
        Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(pick))
      }
    }
    def narrow(v: Long, dt: DataType): Any = dt match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case _ => v
    }
    val integral = Set[DataType](ByteType, ShortType, IntegerType,
      LongType)
    val stringT = org.apache.spark.sql.types.StringType
    def tsBoundsOf(name: String, es: Seq[String])
        : Option[(Long, Long)] = {
      if (es.isEmpty) return None
      val phys = l2p.getOrElse(name, name)
      val per = es.map(e => Snapshots.tsStatsOf(e).get(phys))
      if (per.exists(_.isEmpty)) None
      else Some((per.map(_.get._1).min, per.map(_.get._2).max))
    }
    def minMaxPlan(column: VExpression, i: Int, isMin: Boolean)
        : Option[(StructField, Seq[String] => Option[Any])] =
      singleCol(column).flatMap { c =>
        if (!tableSchema.fieldNames.contains(c)) None
        else {
          val dt = tableSchema(c).dataType
          if (integral(dt))
            Some((StructField(s"agg_$i", dt, nullable = false),
              (es: Seq[String]) => longBoundsOf(c, es).map(b =>
                narrow(if (isMin) b._1 else b._2, dt))))
          else if (dt == stringT)
            Some((StructField(s"agg_$i", stringT, nullable = false),
              (es: Seq[String]) => stringBoundOf(c, es, isMin)))
          else if (dt == org.apache.spark.sql.types.DateType)
            // DATE bounds ride the 'L' stats as epoch days; the
            // catalyst-internal date IS the day count (Int)
            Some((StructField(s"agg_$i", dt, nullable = false),
              (es: Seq[String]) => longBoundsOf(c, es).map(b =>
                Int.box((if (isMin) b._1 else b._2).toInt): Any)))
          else if (dt == org.apache.spark.sql.types.TimestampType ||
              dt == org.apache.spark.sql.types.TimestampNTZType)
            // TIMESTAMP bounds ride the 'U' stats as micros — the
            // catalyst-internal timestamp value; `SELECT max(ts)`
            // (the table-freshness probe) answers from the manifest
            Some((StructField(s"agg_$i", dt, nullable = false),
              (es: Seq[String]) => tsBoundsOf(c, es).map(b =>
                Long.box(if (isMin) b._1 else b._2): Any)))
          else None
        }
      }
    val planned: Seq[Option[(StructField, Seq[String] => Option[Any])]] =
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          Some((StructField(s"agg_$i", LongType, nullable = false),
            (es: Seq[String]) => liveRowsOf(es).map(identity[Any])))
        case (c: Count, i) if !c.isDistinct =>
          singleCol(c.column).flatMap { cn =>
            if (!tableSchema.fieldNames.contains(cn)) None
            else if (idNames.contains(cn)) {
              // IDENTITY-BORNE column: the directory value IS the
              // column value for every row of the file (deleted rows
              // included), so nulls are ALL rows when the directory
              // value is null and 0 otherwise — answerable with no
              // file stats at all. A pre-spec-evolution entry with no
              // directory key holds arbitrary values: refuse.
              val idx = idNames.indexOf(cn)
              val fld = idFields(idx)
              Some((StructField(s"agg_$i", LongType, nullable = false),
                (es: Seq[String]) => {
                  val per = es.map { e =>
                    val (rel, rows) = Snapshots.entryMetaStat(e)
                    if (!Snapshots.partValsOf(rel).contains(fld.dirName))
                      None
                    else if (Snapshots.identityValuesRow(rel,
                        Seq(fld.source), Seq(idTypes(idx)), layoutTz)
                        .isNullAt(0))
                      Some(0L)
                    else rows.map(_ - posDelCounts.getOrElse(rel, 0L))
                  }
                  if (per.exists(_.isEmpty)) None
                  else Some(per.flatten.sum: Any)
                }))
            } else if (hasDeletes) {
              // a deleted row's null-ness in `cn` is unknowable from
              // the per-file null counts: scan
              None
            } else {
              // COUNT(col) = rows - nulls, exact when EVERY entry
              // carries both pseudo-stats
              val phys = l2p.getOrElse(cn, cn)
              Some((StructField(s"agg_$i", LongType, nullable = false),
                (es: Seq[String]) => {
                  val per = es.map { e =>
                    (Snapshots.entryMetaStat(e)._2,
                      Snapshots.nullCountOf(e).get(phys))
                  }
                  if (per.exists(p => p._1.isEmpty || p._2.isEmpty))
                    None
                  else Some(per.map(p => p._1.get - p._2.get).sum: Any)
                }))
            }
          }
        // a deleted row may hold the bound: MIN/MAX refuse under any
        // live delete file
        case (m: Min, i) if !hasDeletes =>
          minMaxPlan(m.column, i, isMin = true)
        case (m: Max, i) if !hasDeletes =>
          minMaxPlan(m.column, i, isMin = false)
        case _ => None
      }
    if (planned.exists(_.isEmpty)) return None
    val fns = planned.map(_.get._2)
    /** Evaluate every group's cells over one candidate grouping —
      * None when ANY cell is unanswerable there (the caller then
      * falls back to the next tier, or refuses the push).
      */
    def evalOver(gs: Seq[(Seq[Any], Seq[String])])
        : Option[Seq[Array[Any]]] = {
      // under deletes a group may have lost EVERY row - a real scan
      // emits no row for it, so neither may the metadata answer; a
      // group whose liveness is unprovable refuses
      val liveGroups: Seq[(Seq[Any], Seq[String])] =
        if (!hasDeletes || groupCols.isEmpty) gs
        else {
          val per = gs.map { case g @ (_, es) =>
            liveRowsOf(es).map(n => (g, n)) }
          if (per.exists(_.isEmpty)) return None
          per.flatten.collect { case (g, n) if n > 0 => g }
        }
      val rows = liveGroups.map { case (key, es) =>
        val vals = fns.map(_(es))
        if (vals.exists(_.isEmpty)) None
        else Some((key ++ vals.map(_.get)).toArray)
      }
      if (rows.exists(_.isEmpty)) None else Some(rows.map(_.get))
    }
    // SHARD tier first (O(shards), pseudo-entries carry the same
    // grammar); anything a pseudo can't answer exactly — a string
    // MIN/MAX needs exact 'T' bounds, which shard merges never are —
    // falls back to the per-entry tier before refusing the push
    val rows: Seq[Array[Any]] =
      pseudoGroups.flatMap(evalOver)
        .orElse(evalOver(entryGroups))
        .getOrElse(return None)
    // complete-pushdown output contract: group columns first (the
    // order Spark offered them), then the aggregate columns
    val groupFields = groupCols.map(c =>
      StructField(c, tableSchema(c).dataType, nullable = true))
    Some((StructType(groupFields ++ planned.map(_.get._1)),
      rows.toArray))
  }

  override def build(): Scan = pushedAgg match {
    case Some((aggSchema, values)) =>
      new ManifestAggScan(path, pinnedV, aggSchema, values)
    // `kept`, not `entries`: absorbed filters are ENFORCED by the
    // entry set (Spark plans no Filter node for them)
    case None =>
      val s = new SnapshotBatchScan(spark, path, pinnedV,
        tableSchema, required, partCols, colMap, kept, filters.toSeq,
        dvs, pushedLimit, pushedTopN, keptIsFullSharded)
      onBuild(s)
      s
  }
}

private[graft] final class SnapshotBatchScan(
    spark: SparkSession, path: String, pinnedV: Long,
    tableSchema: StructType, required: StructType,
    partCols: Seq[String], colMap: Map[String, String],
    entries: Seq[String], filters: Seq[Filter],
    dvs: Seq[String] = Nil,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[(Seq[SnapshotBatchScan.TopNKey], Int)] = None,
    // `entries` is a sharded manifest's UNFORCED lazy list: when
    // filters offer prune proofs, plan from the proofs' own entries
    // (already shard-pruned) instead of forcing the full list
    shardLazy: Boolean = false)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  import SnapshotBatchScan._

  /** Metadata-column requests in the pruned schema. The file path
    * ([[SnapshotBatchScan.MetaFileCol]]) is constant per input
    * partition and rides with the identity partition values, so a
    * file-only scan keeps columnar batches, row-group pruning and
    * range splits. A position request ([[SnapshotBatchScan.MetaPosCol]])
    * makes every file read WHOLE and FILTERLESS (row-group skipping
    * or range splits would desynchronize position counting) and the
    * reader appends the position per row. `reqData` is the pruned
    * schema minus the metadata columns — what actually reads from
    * parquet.
    */
  private val withFile = required.fieldNames.contains(MetaFileCol)
  private val withPos = required.fieldNames.contains(MetaPosCol)
  private val reqData =
    StructType(required.fields.filterNot(f => MetaNames(f.name)))

  private val fields = partCols.map(Snapshots.parsePartField)
  // IDENTITY partition columns live in directory names, not in the
  // files: their values attach to each input partition and the
  // parquet reader reconstructs them (the FileScanRDD contract).
  private val idFields: Seq[Snapshots.PIdentity] =
    fields.collect { case i: Snapshots.PIdentity => i }

  /** ANY mix of bucket and identity fields is KEY-GROUPED — one
    * input partition per distinct (bucket numbers × identity values)
    * tuple, the tuple the partition key, transforms reported in
    * field order. Two tables laid out alike on the join keys — the
    * standard 100 TB fact shape `(date, bucket(id))` included — join
    * partition-against-partition with ZERO Exchange: bucket resolves
    * through [[GraftCatalog]]'s V2 function, identity is the one
    * transform Spark resolves bare. Layouts carrying time/truncate
    * transforms stay per-file (`UnknownPartitioning`), and so does
    * a plan holding a file with no directory for some bucket field
    * (written before the field was added): its key is unknown.
    */
  private lazy val keyGrouped = fields.nonEmpty && fields.forall(f =>
    f.isInstanceOf[Snapshots.PBucket] ||
      f.isInstanceOf[Snapshots.PIdentity]) && {
    val dirs = fields.collect { case b: Snapshots.PBucket => b.dirName }
    dirs.isEmpty || scanEntries.forall { e =>
      val vals = Snapshots.partValsOf(Snapshots.relOfEntry(e))
      dirs.forall(vals.contains)
    }
  }

  private def logicalName(phys: String): String =
    colMap.getOrElse(phys, phys)

  private val idTypes: Seq[org.apache.spark.sql.types.DataType] =
    idFields.map(f => tableSchema(logicalName(f.source)).dataType)

  private lazy val layoutTz =
    Snapshots.layoutZone(spark, path, Some(pinnedV), idTypes)

  private def idRowOf(rel: String): InternalRow =
    Snapshots.identityValuesRow(rel, idFields.map(_.source), idTypes,
      layoutTz)

  /** The per-partition constants the parquet reader appends after
    * the data columns: identity values, then the file path when
    * [[withFile]]. */
  private def partValuesOf(rel: String): InternalRow =
    if (!withFile && idFields.isEmpty) InternalRow.empty
    else if (!withFile) idRowOf(rel)
    else InternalRow.fromSeq(
      (if (idFields.isEmpty) Nil else idRowOf(rel).toSeq(idTypes)) :+
        org.apache.spark.unsafe.types.UTF8String.fromString(rel))

  /** Catalyst type of each partition-KEY tuple slot, field order:
    * bucket numbers are ints, identity slots their column type. */
  private val keyTypes: Seq[DataType] = fields.map {
    case _: Snapshots.PBucket => IntegerType
    case f: Snapshots.PIdentity =>
      tableSchema(logicalName(f.source)).dataType
    case _ => org.apache.spark.sql.types.NullType // never key-grouped
  }

  /** The partition-key tuple of one file's directory chain, field
    * order — bucket numbers parsed from the transform dirs, identity
    * values through the same typed parse the reader reconstructs
    * with (so the key can never disagree with the rows). */
  private def keyRowOf(rel: String): InternalRow = {
    val vals = Snapshots.partValsOf(rel)
    val idRow =
      if (idFields.isEmpty) InternalRow.empty else idRowOf(rel)
    var idIdx = -1
    InternalRow.fromSeq(fields.map {
      case b: Snapshots.PBucket => vals(b.dirName).toInt
      case _: Snapshots.PIdentity =>
        idIdx += 1
        idRow.get(idIdx, idTypes(idIdx))
      case _ => null
    })
  }

  // `entries` is a sharded manifest's unforced full list only when
  // `shardLazy`; otherwise the builder materialized (and possibly
  // absorbed down) `entries`, and filtering them never widens that
  private lazy val keptEntries: Seq[String] =
    Snapshots.keptByFilters(spark, path, pinnedV, tableSchema, filters,
      entries, walk = shardLazy)

  /** RUNTIME FILTERING (DSv2 dynamic partition pruning): in a star
    * join against a filtered dimension, Spark collects the dim side's
    * join-key values at execution and calls [[filter]] with an
    * IN/equality predicate over a partition SOURCE column. Bucket
    * fields recompute every value's bucket with the exact write-time
    * hash; identity fields compare the values directly — either way
    * whole partition directories that cannot match are dropped
    * before any file opens. At 100 TB this is the difference between
    * scanning the fact table and scanning the handful of
    * buckets/dates the dimension filter actually touches. Unknown
    * predicate shapes prune nothing (always sound — pruning is an IO
    * optimization; Spark re-applies the join above).
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // EVERY partitioned layout exposes its source columns: key-
    // grouped scans prune typed key slots; time/truncate layouts
    // prune through the manifest point-lookup (the same hidden-
    // transform directory + stats machinery static filters use), so
    // a dim-filtered join on a days(ts)/truncate(src) fact opens
    // only the partitions the dim values can touch. Only columns the
    // scan actually OUTPUTS qualify - Spark resolves these against
    // the pruned schema (a join key is always in the output)
    (fields.map(f => logicalName(f.source))
      .filter(required.fieldNames.contains) ++
      // the rowId file column, when requested (row-level DML scans):
      // Spark's runtime GROUP filtering prunes unmatched files
      // before the copy-on-write rewrite reads them
      (if (withFile) Seq(MetaFileCol) else Nil))
      .map(Expressions.column).toArray

  // allowed KEY-slot values per field index; absent = no constraint
  // (bucket slots hold Ints, identity slots catalyst values)
  private var runtimeAllowed: Map[Int, Set[Any]] = Map.empty
  // non-key-grouped layouts: file rels surviving the manifest
  // point-lookup over the runtime IN-set; None = no constraint
  private var runtimeKeptRels: Option[Set[String]] = None

  /** Runtime IN-sets past this size skip pruning (the manifest
    * point-lookup runs once per value — at some point scanning wins). */
  private val MaxRuntimeInSet = 256

  /** Catalyst literal → the external value the manifest point-lookup
    * expects (it builds `lit(v)` plans); None = unconvertible type,
    * prune nothing. */
  private def externalValue(v: Any, dt: DataType): Option[Any] =
    v match {
      case null => None
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(u.toString)
      case l: java.lang.Long
          if dt == org.apache.spark.sql.types.TimestampType =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToInstant(l))
      case i: java.lang.Integer
          if dt == org.apache.spark.sql.types.DateType =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .daysToLocalDate(i))
      case n @ (_: java.lang.Long | _: java.lang.Integer |
                _: java.lang.Short | _: java.lang.Byte |
                _: java.lang.Double | _: java.lang.Float |
                _: java.lang.Boolean) => Some(n)
      case _ => None
    }

  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val srcIdx = fields.zipWithIndex
      .map { case (f, i) => logicalName(f.source) -> i }.toMap
    predicates.foreach { p =>
      val kids = p.children()
      def refName: Option[String] = kids.headOption.collect {
        case r: NamedReference if r.fieldNames.length == 1 =>
          r.fieldNames.head
      }
      def colIdx: Option[Int] = refName.flatMap(srcIdx.get)
      def lits: Option[Seq[VLiteral[_]]] = {
        val rest = kids.drop(1).toSeq
        if (rest.forall(_.isInstanceOf[VLiteral[_]]))
          Some(rest.map(_.asInstanceOf[VLiteral[_]]))
        else None
      }
      // runtime GROUP filter on the rowId file metadata column
      // (Spark's RowLevelOperationRuntimeGroupFiltering for
      // copy-on-write DML): only the matched files get rewritten
      if (refName.contains(MetaFileCol) &&
          (p.name() == "IN" || p.name() == "=")) {
        lits.filter(_.nonEmpty).foreach { vs =>
          val keep = vs.map(_.value().toString).toSet
          runtimeKeptRels = Some(
            runtimeKeptRels.map(_ intersect keep).getOrElse(keep))
        }
      }
      (p.name(), colIdx, lits) match {
        case (("IN" | "="), Some(i), Some(vs))
            if vs.nonEmpty && keyGrouped =>
          val allowed: Set[Any] = fields(i) match {
            case b: Snapshots.PBucket =>
              val bound = new GraftBucketBound(
                tableSchema(logicalName(b.source)).dataType)
              vs.map(v => bound.produceResult(
                InternalRow(b.n, v.value())).intValue(): Any).toSet
            case _ =>
              // identity: the literal IS the key-slot value; a NULL
              // key slot never equals a literal, so it prunes
              vs.map(v => Snapshots.v2NormKey(v.value()): Any).toSet
          }
          runtimeAllowed = runtimeAllowed.updated(i,
            runtimeAllowed.get(i).map(_ intersect allowed)
              .getOrElse(allowed))
        case (("IN" | "="), Some(i), Some(vs))
            if vs.nonEmpty && vs.size <= MaxRuntimeInSet =>
          // time/truncate layout: each dim value re-plans through the
          // manifest point-lookup (hidden-transform dirs + stats) -
          // the union of survivors is the runtime keep-set
          val dt = tableSchema(logicalName(fields(i).source)).dataType
          val col = logicalName(fields(i).source)
          val keeps = vs.map(v => externalValue(v.value(), dt).flatMap(
            Snapshots.equalsKeepFn(spark, path, col, _, Some(pinnedV))))
          if (keeps.forall(_.isDefined)) {
            val keep = (e: String) => keeps.exists(_.get(e))
            // a sharded manifest walks shard-aware (whole shards the
            // IN-set disproves never load)
            val kept = (if (shardLazy)
                Snapshots.pruneWith(spark, path, pinnedV, keep)
              else scanEntries.filter(keep))
              .map(Snapshots.relOfEntry).toSet
            runtimeKeptRels = Some(
              runtimeKeptRels.map(_ intersect kept).getOrElse(kept))
          }
        case _ => () // unknown shape: prune nothing
      }
    }
  }

  /** MERGE-ON-READ deletes applied IN-SCAN (the Iceberg/Delta v2
    * posture): the positional and equality delete slivers are read
    * once on the driver (bounded by the routing guard) and ride to
    * each task inside its input partition / the reader factory. A
    * delete-bearing file is read WHOLE with no parquet filter
    * pushdown — the reader counts row positions, so skipping row
    * groups would desynchronize positional deletes — while clean
    * files keep row-group pruning and range splits. Deletes only
    * REMOVE rows, so the reported KeyGroupedPartitioning, runtime
    * bucket pruning and manifest point-lookup pruning all stay
    * sound; numRows refuses (manifest counts include deleted rows),
    * and aggregate pushdown subtracts positional deletes exactly /
    * refuses on equality deletes and MIN/MAX ([[planAgg]]).
    */
  private lazy val posDeletes: Map[String, Array[Long]] =
    Snapshots.v2PosDeletes(spark, path, dvs)
  private lazy val eqDeletes: Seq[Snapshots.V2EqDelete] =
    Snapshots.v2EqDeletes(spark, path, dvs)

  /** Equality deletes applicable to a file: the file groups with the
    * FIRST delete whose base version contains it and is subject to
    * that one and every later delete ([[Snapshots.liveWithId]]'s
    * nested-bases rule); files newer than every base escape.
    */
  private def eqIdxFor(rel: String): Array[Int] = {
    val first = eqDeletes.indexWhere(_.baseRels.contains(rel))
    if (first < 0) Array.empty
    else (first until eqDeletes.size).toArray
  }

  /** Guaranteed LIVE rows of one entry, a lower bound: exact manifest
    * rows minus its positional deletes; 0 (no guarantee) when the
    * stat is missing or an equality delete applies (its kill count is
    * unknowable without a scan). Lower bounds keep limit-prefix
    * planning sound: an entry that might be empty contributes
    * nothing, so the prefix only ever EXTENDS. */
  private def guaranteedLive(e: String): Long = {
    val (rel, _, rows) = Snapshots.entryMeta(spark, path, e)
    if (eqIdxFor(rel).nonEmpty) 0L
    else rows.map(r => math.max(0L,
      r - posDeletes.getOrElse(rel, Array.empty[Long]).length))
      .getOrElse(0L)
  }

  /** The minimal file PREFIX whose guaranteed live rows cover a
    * pushed LIMIT — the rest of the table never opens. Entries with
    * no guarantee ride along (they may hold the only rows) but count
    * zero, so under-delivery is impossible. */
  private def limitPrefix(es: Seq[String], k: Int): Seq[String] = {
    var cum = 0L
    val b = Seq.newBuilder[String]
    val it = es.iterator
    while (it.hasNext && cum < k) {
      val e = it.next()
      b += e
      cum += guaranteedLive(e)
    }
    b.result()
  }

  /** Files that can still reach a pushed top-k, from manifest stats
    * alone: with B the smallest first-key bound such that the
    * guaranteed rows ranking at-or-before B reach k, any file whose
    * every row ranks strictly after B is outranked by ≥ k rows and
    * never opens — `ORDER BY ts DESC LIMIT 100` on a time-clustered
    * 100 TB table reads the newest few files. Sound only when counts
    * are exact: any delete file, missing stat, or a first key that is
    * not a stats-bearing long/exact-string column keeps every file
    * (the per-reader heap still caps what ships). Nulls rank via the
    * per-file null counts ('N' pseudo-stats): NULLS-FIRST nulls count
    * toward the cover and keep their files; NULLS-LAST nulls are
    * outranked by any k covered values.
    */
  private def topNPrune(es: Seq[String],
                        key: SnapshotBatchScan.TopNKey, k: Int)
      : Seq[String] = {
    if (dvs.nonEmpty) return es
    val dt = tableSchema(key.col).dataType
    // DATE bounds ride the 'L' stats as epoch days; TIMESTAMP the
    // 'U' stats as micros — both compare as longs, so `ORDER BY ts
    // DESC LIMIT k` (the "newest rows" probe) prunes to the tail
    // files exactly like an integral key
    val isDate = dt == org.apache.spark.sql.types.DateType
    val isTs = dt == org.apache.spark.sql.types.TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType
    val integral = dt == ByteType || dt == ShortType ||
      dt == IntegerType || dt == LongType || isDate || isTs
    val isStr = dt == org.apache.spark.sql.types.StringType
    if (!integral && !isStr) return es
    val phys = colMap.map(_.swap).getOrElse(key.col, key.col)
    // (entry, nonNullRows, nulls, valueBounds); bounds may be absent
    // only for an all-null file (nonNull == 0)
    final case class M(e: String, nonNull: Long, nulls: Long,
                       lo: Any, hi: Any)
    val metas = es.map { e =>
      val rows = Snapshots.entryMeta(spark, path, e)._3
      val nulls = Snapshots.nullCountOf(e).get(phys)
      val bounds: Option[(Any, Any)] =
        if (isTs) Snapshots.tsStatsOf(e).get(phys)
          .map(b => (b._1: Any, b._2: Any))
        else if (integral) Snapshots.longStatsOf(e).get(phys)
          .map(b => (b._1: Any, b._2: Any))
        else Snapshots.stringExactStatsOf(e).get(phys).flatMap {
          case (Some(mn), Some(mx)) => Some((mn: Any, mx: Any))
          case _ => None
        }
      (rows, nulls) match {
        case (Some(r), Some(n)) =>
          if (r - n == 0) Some(M(e, 0L, n, null, null))
          else bounds.map(b => M(e, r - n, n, b._1, b._2))
        case _ => None
      }
    }
    if (metas.exists(_.isEmpty)) return es
    val ms = metas.flatten
    def cmpV(a: Any, b: Any): Int =
      if (integral) java.lang.Long.compare(a.asInstanceOf[Long],
        b.asInstanceOf[Long])
      else Snapshots.bytesCompareKey(a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[Array[Byte]])
    // rank space: ascending reads bounds as-is, descending swaps
    // them and inverts the comparison; nullsFirst is already
    // relative to the final order, i.e. to rank space
    def rcmp(a: Any, b: Any): Int =
      if (key.asc) cmpV(a, b) else -cmpV(a, b)
    def rlo(m: M): Any = if (key.asc) m.lo else m.hi
    def rhi(m: M): Any = if (key.asc) m.hi else m.lo
    val totalNulls = ms.map(_.nulls).sum
    var cum = if (key.nullsFirst) totalNulls else 0L
    if (cum >= k)
      // the top-k is nulls alone: only null-bearing files can serve
      return ms.filter(_.nulls > 0).map(_.e)
    val sorted = ms.filter(_.nonNull > 0)
      .sortWith((a, b) => rcmp(rhi(a), rhi(b)) < 0)
    var bound: Any = null
    val it = sorted.iterator
    while (it.hasNext && cum < k) {
      val m = it.next()
      cum += m.nonNull
      bound = rhi(m)
    }
    if (cum < k || bound == null) return es // not enough guaranteed
    val keep = ms.filter(m =>
      (m.nonNull > 0 && rcmp(rlo(m), bound) <= 0) ||
        (key.nullsFirst && m.nulls > 0)).map(_.e).toSet
    es.filter(keep)
  }

  /** The entries the scan actually plans: the kept set, narrowed by a
    * pushed top-N's stat pruning and/or a pushed limit's guaranteed
    * prefix. Computed BEFORE [[partitions]] so every consumer —
    * [[outputPartitioning]]'s reported partition count included —
    * agrees on one file set. */
  private lazy val scanEntries: Seq[String] = {
    val t = pushedTopN match {
      case Some((keys, k)) => topNPrune(keptEntries, keys.head, k)
      case None => keptEntries
    }
    pushedLimit match {
      case Some(k) => limitPrefix(t, k)
      case None => t
    }
  }

  private lazy val partitions: Array[SnapshotInputPartition] = {
    val f = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    def sliceOf(e: String): FileSlice = {
      val (rel, len, _) = Snapshots.entryMeta(spark, path, e)
      val p = if (Snapshots.isForeignRel(rel)) new Path(rel)
              else new Path(s"$path/$rel")
      FileSlice(f.makeQualified(p).toString, 0L, len, len,
        posDeletes.getOrElse(rel, Array.empty), eqIdxFor(rel))
    }
    if (keyGrouped)
      // one partition PER FILE, each carrying its key tuple (bucket
      // numbers x identity values, field order): Spark groups
      // same-key partitions into one task for the key-grouped
      // distribution, and - under the partiallyClusteredDistribution
      // conf - may instead keep a HOT key's files apart and
      // replicate the other join side over them, so one skewed
      // bucket no longer pins a single task at 100x. Per-partition
      // size/row statistics ride along to inform that choice.
      scanEntries.sortBy { e =>
        val rel = Snapshots.relOfEntry(e)
        keyRowOf(rel).toSeq(keyTypes).mkString("\u0001") + " " + rel
      }.map { e =>
        val rel = Snapshots.relOfEntry(e)
        SnapshotInputPartition(keyRowOf(rel), partValuesOf(rel),
          Array(sliceOf(e)),
          rowCount = Snapshots.entryMeta(spark, path, e)._3,
          rel = rel)
      }.toArray
    else {
      // split at maxPartitionBytes boundaries, FileSourceScanExec's
      // granularity: each range reads the row groups whose midpoints
      // fall inside it, so an oversized file (pre-compaction ingest,
      // foreign clone refs) parallelizes instead of pinning one task.
      // Delete-bearing files stay WHOLE: positional apply counts row
      // indices from the file start
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      scanEntries.iterator.flatMap { e =>
        val s = sliceOf(e)
        val rel = Snapshots.relOfEntry(e)
        val idRow = partValuesOf(rel)
        if (s.hasDeletes || withPos)
          Seq(SnapshotInputPartition(InternalRow.empty, idRow,
            Array(s), rel = rel))
        else (0L until s.fileSize by maxSplit).map(off =>
          SnapshotInputPartition(InternalRow.empty, idRow,
            Array(FileSlice(
              s.path, off, math.min(maxSplit, s.fileSize - off),
              s.fileSize)), rel = rel))
      }.toArray
    }
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-snapshot spj $path v$pinnedV " +
      s"[${partCols.mkString(", ")}]" +
      s" PushedFilters: ${parquetFilters.mkString("[", ", ", "]")}" +
      pushedLimit.map(k => s" pushedLimit=$k").getOrElse("") +
      pushedTopN.map { case (ks, k) =>
        val keys = ks.map(x =>
          x.col + (if (x.asc) " ASC" else " DESC")).mkString(",")
        s" pushedTopN=[$keys] limit=$k"
      }.getOrElse("")

  override def outputPartitioning(): Partitioning =
    if (keyGrouped)
      new KeyGroupedPartitioning(
        fields.map {
          case b: Snapshots.PBucket =>
            Expressions.bucket(b.n, logicalName(b.source)): VExpression
          case f => Expressions.identity(
            logicalName(f.source)): VExpression
        }.toArray,
        partitions.length)
    else new UnknownPartitioning(partitions.length)

  /** The store-relative data-file paths of the LAST planned partition
    * set (post runtime filtering) — the group identity a copy-on-write
    * row-level commit replaces ([[GraftCowRowLevelOperation]]). */
  @volatile private[graft] var plannedRelsSnapshot: Array[String] =
    Array.empty

  override def planInputPartitions(): Array[InputPartition] = {
    val relKept = runtimeKeptRels match {
      case Some(keep) => partitions.filter(p => keep(p.rel))
      case None => partitions
    }
    val planned =
      if (runtimeAllowed.isEmpty) relKept
      else relKept.filter(p => runtimeAllowed.forall {
        case (i, ok) =>
          ok(Snapshots.v2NormKey(p.keyRow.get(i, keyTypes(i))))
      })
    plannedRelsSnapshot = planned.map(_.rel).distinct.toArray
    planned.toArray[InputPartition]
  }

  private lazy val idLogical: Set[String] =
    idFields.map(f => logicalName(f.source)).toSet

  // identity columns never live in the files: the reader gets the
  // DATA subset plus a partitionSchema, appends the per-partition
  // values, and a positional projection restores the required order
  private lazy val physData: StructType = Snapshots.physicalSchemaOf(
    StructType(tableSchema.fields.filterNot(f => idLogical(f.name))),
    colMap)

  /** The residual filters handed to parquet row-group pruning, under
    * physical column names (none for metadata-column reads, whose
    * positions must count every row). */
  private lazy val parquetFilters: Seq[Filter] =
    if (withPos) Nil
    else filters.flatMap(toPhysicalFilter(colMap.map(_.swap)))
      .filter(_.references.forall(physData.fieldNames.contains))

  override def createReaderFactory(): PartitionReaderFactory = {
    // equality-delete key columns must be readable even when the
    // query pruned them away: extend the DATA projection (extras sit
    // after the required data columns; the output projection below
    // never selects them)
    val eqLogical = eqDeletes.flatMap(_.physCols).map(logicalName)
      .distinct
    val requiredNames = reqData.fieldNames.toSet
    val eqExtra = eqLogical
      .filterNot(requiredNames).filterNot(idLogical)
      .map(n => tableSchema(n))
    val dataRequired = StructType(
      reqData.fields.filterNot(f => idLogical(f.name)) ++ eqExtra)
    val physRequired = Snapshots.physicalSchemaOf(dataRequired, colMap)
    val partSchema = StructType(idFields.zip(idTypes).map {
      case (f, dt) => StructField(f.source, dt, nullable = true) } ++
      (if (withFile) Seq(StructField(MetaFileCol, StringType)) else Nil))
    // reader emits dataRequired ++ partSchema (++ pos when requested);
    // required wants its own order - map each required ordinal to
    // the reader's layout
    val nData = dataRequired.fields.length
    def readerOrdinal(name: String): Int =
      if (name == MetaFileCol) nData + idFields.length
      else if (name == MetaPosCol) nData + partSchema.length
      else if (idLogical(name))
        nData + idFields.indexWhere(i => logicalName(i.source) == name)
      else dataRequired.fieldIndex(name)
    val ordinals = required.fields.map(f => readerOrdinal(f.name))
    // per-equality-delete apply spec: key ordinals in the reader
    // layout (identity-borne keys read from the appended partition
    // values) + the key-tuple set, Seq-wrapped for structural
    // equality with the probe side
    val eqApplies = eqDeletes.map { e =>
      val names = e.physCols.map(logicalName)
      val ords = names.map(readerOrdinal).toArray
      val dts = names.map(n => tableSchema(n).dataType).toArray
      EqApply(ords, dts, e.keys.map(_.toSeq).toSet)
    }.toArray
    val conf = spark.sessionState.newHadoopConf()
    // COLUMNAR hand-off for clean and POSITIONAL-delete scans (no
    // row positions, no per-reader limit/heap, no equality deletes):
    // batches flow straight into Spark's codegen'd ColumnarToRow
    // instead of draining a row iterator — the FileSourceScanExec
    // posture. Positional deletes apply as a zero-copy SELECTION
    // view over each batch ([[SelectedColumnVector]]); the
    // delete-bearing files read whole and filterless through the
    // second func below so positions count true, while clean files
    // keep row-group pruning and range splits. Equality deletes
    // stay row-based: their kill test probes row VALUES, which a
    // batch would have to materialize row-by-row anyway.
    val canBatch = !withPos && pushedLimit.isEmpty &&
      pushedTopN.isEmpty && !dvs.exists(_.startsWith("eq:"))
    val batchRead =
      if (canBatch)
        ScanBridge.parquetBatchReadFunc(spark, physData, physRequired,
          parquetFilters, conf, partSchema)
      else None
    // every reader function broadcasts the Hadoop conf when built,
    // so the scan builds only those it can call. Delete-bearing files
    // and position reads need a FILTERLESS twin (row-group skipping
    // would desynchronize position counting; Spark re-applies every
    // filter above the scan, so this costs IO only), which is the
    // filtered function itself when no filter reaches parquet; a
    // batched scan calls no row function at all
    val plainBatchRead =
      if (batchRead.isEmpty || dvs.isEmpty) None
      else if (parquetFilters.isEmpty) batchRead
      else ScanBridge.parquetBatchReadFunc(spark, physData,
        physRequired, Nil, conf, partSchema)
    def rowRead(fs: Seq[Filter]) = ScanBridge.parquetReadFunc(spark,
      physData, physRequired, fs, conf, partSchema)
    val (readFunc, plainReadFunc) =
      if (batchRead.isDefined) (SnapshotReaderFactory.noRowRead,
        SnapshotReaderFactory.noRowRead)
      else {
        val r = rowRead(parquetFilters)
        (r, if (dvs.isEmpty || parquetFilters.isEmpty) r else rowRead(Nil))
      }
    new SnapshotReaderFactory(
      readFunc,
      plainReadFunc,
      ordinals,
      required.fields.map(_.dataType),
      eqApplies,
      withPos,
      batchReadFunc = batchRead,
      plainBatchReadFunc = plainBatchRead,
      readCap = pushedLimit,
      topN = pushedTopN.flatMap { case (keys, k) =>
        // heap keys index the OUTPUT row (post-projection, `required`
        // order); a key the query somehow pruned away disables the
        // heap (file pruning above still holds)
        if (keys.forall(x => required.fieldNames.contains(x.col)))
          Some(SnapshotBatchScan.TopNReadSpec(
            keys.map(x => SnapshotBatchScan.TopNOrder(
              required.fieldIndex(x.col),
              required(x.col).dataType, x.asc, x.nullsFirst)).toArray,
            k))
        else None
      })
  }

  /** Size/rows from the manifest pseudo-stats (post-prune): join
    * planning sees the SLIVER a point lookup keeps, so a pruned side
    * can still broadcast.
    */
  private lazy val statsMetas =
    scanEntries.map(e => Snapshots.entryMeta(spark, path, e))

  /** CATALYST-TYPED COLUMN STATISTICS from the manifest pseudo-stats
    * — ANALYZE-free CBO (join reorder, filter selectivity, broadcast
    * sizing) straight off the commit path: null counts ('N') for
    * every data column, exact min/max for integrals ('L') and
    * provably-untruncated strings ('T'). A column's bound is offered
    * only when EVERY planned entry either carries the stat or is
    * all-null in that column (null count == rows — parquet records
    * no value bound there, and an all-null file cannot hold one);
    * anything else refuses the cell. Refused wholesale under delete
    * files (a deleted row may hold the bound / the null) and under a
    * pushed limit/top-N (per-reader caps break the fold). Values are
    * narrowed to the column's catalyst type — FilterEstimation
    * rebuilds `Literal(value, attr.dataType)` from them.
    */
  private lazy val v2ColumnStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
    computeColumnStats()

  private def computeColumnStats(): java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]
    // only the cost-based estimator consumes these: with CBO off
    // (the default) the fold below is pure planning overhead — skip
    val refuseAll = !spark.sessionState.conf.cboEnabled ||
      dvs.nonEmpty || pushedLimit.isDefined || pushedTopN.isDefined ||
      scanEntries.isEmpty
    if (refuseAll) return out
    val l2p = colMap.map(_.swap)
    val idLogical = idFields.map(f => logicalName(f.source)).toSet
    def narrow(v: Long, dt: DataType): Any = dt match {
      case LongType => java.lang.Long.valueOf(v)
      case IntegerType => java.lang.Integer.valueOf(v.toInt)
      case ShortType => java.lang.Short.valueOf(v.toShort)
      case ByteType => java.lang.Byte.valueOf(v.toByte)
      case _ => java.lang.Long.valueOf(v)
    }
    val cols = required.fields.toSeq
      .filterNot(f => SnapshotBatchScan.MetaNames(f.name))
      .filterNot(f => idLogical(f.name))
      .filter(f => tableSchema.fieldNames.contains(f.name))
      .map(f => f -> l2p.getOrElse(f.name, f.name))
    if (cols.isEmpty) return out
    // per-column fold state, filled in ONE pass over the entries
    // (each entry's stat string parses once per KIND, not once per
    // column — planning time stays O(entries × stats), not × columns)
    final class Acc {
      var nulls = 0L; var nullsOk = true
      var nValued = 0; var valuedRows = 0L; var valuedNulls = 0L
      var valuedRowsOk = true
      var loL = Long.MaxValue; var hiL = Long.MinValue; var lOk = true
      var loS: Array[Byte] = null; var hiS: Array[Byte] = null
      var sOk = true
      var regs: Array[Int] = null; var vOk = true
      // per-file (quantile summary, non-null rows) for the histogram
      // fold; refused wholesale when any valued entry lacks its 'Q'
      var qList: List[(Array[Double], Long)] = Nil; var qOk = true
    }
    val accs = cols.map(_ => new Acc)
    scanEntries.foreach { e =>
      val rows = Snapshots.entryMeta(spark, path, e)._3
      val ncs = Snapshots.nullCountOf(e)
      val lss = Snapshots.longStatsOf(e)
      val tss = Snapshots.tsStatsOf(e)
      val sss = Snapshots.stringExactStatsOf(e)
      val vss = Snapshots.ndvSketchOf(e)
      val qss = Snapshots.quantSketchOf(e)
      cols.zip(accs).foreach { case ((fld, phys), a) =>
        ncs.get(phys) match {
          case None =>
            // unknown null count: the total refuses, and all-null
            // exemption is unprovable, so every valued fold refuses
            a.nullsOk = false; a.lOk = false; a.sOk = false
            a.vOk = false
          case Some(n) =>
            a.nulls += n
            val exempt = rows.contains(n) // provably all-null here
            if (!exempt) {
              a.nValued += 1
              a.valuedNulls += n
              rows match {
                case Some(r) => a.valuedRows += r
                case None => a.valuedRowsOk = false
              }
              fld.dataType match {
                // DATE rides the 'L' stats as epoch days — the
                // catalyst-internal date value, so the same long
                // fold serves both
                case ByteType | ShortType | IntegerType | LongType |
                     org.apache.spark.sql.types.DateType =>
                  lss.get(phys) match {
                    case Some((mn, mx)) =>
                      a.loL = math.min(a.loL, mn)
                      a.hiL = math.max(a.hiL, mx)
                    case None => a.lOk = false
                  }
                // TIMESTAMP bounds come from the 'U' micros stats —
                // the catalyst-internal timestamp value
                case org.apache.spark.sql.types.TimestampType |
                     org.apache.spark.sql.types.TimestampNTZType =>
                  tss.get(phys) match {
                    case Some((mn, mx)) =>
                      a.loL = math.min(a.loL, mn)
                      a.hiL = math.max(a.hiL, mx)
                    case None => a.lOk = false
                  }
                case StringType =>
                  sss.get(phys) match {
                    case Some((Some(mn), Some(mx))) =>
                      if (a.loS == null ||
                          Snapshots.bytesCompareKey(mn, a.loS) < 0)
                        a.loS = mn
                      if (a.hiS == null ||
                          Snapshots.bytesCompareKey(mx, a.hiS) > 0)
                        a.hiS = mx
                    case _ => a.sOk = false
                  }
                case _ => ()
              }
              vss.get(phys) match {
                case Some(r) =>
                  a.regs =
                    if (a.regs == null) r
                    else Snapshots.ndvMerge(a.regs, r)
                case None => a.vOk = false
              }
              (qss.get(phys), rows) match {
                case (Some(q), Some(r)) => a.qList ::= (q, r - n)
                case _ => a.qOk = false
              }
            }
        }
      }
    }
    cols.zip(accs).foreach { case ((fld, _), a) =>
      val ncOpt: Option[Long] = if (a.nullsOk) Some(a.nulls) else None
      val mm: Option[(Any, Any)] = fld.dataType match {
        case ByteType | ShortType | IntegerType | LongType
            if a.lOk && a.nValued > 0 && a.loL <= a.hiL =>
          Some((narrow(a.loL, fld.dataType), narrow(a.hiL, fld.dataType)))
        // internal representations, as the estimator rebuilds
        // Literal(value, dataType): dates are Int days, timestamps
        // Long micros
        case org.apache.spark.sql.types.DateType
            if a.lOk && a.nValued > 0 && a.loL <= a.hiL =>
          Some((java.lang.Integer.valueOf(a.loL.toInt),
            java.lang.Integer.valueOf(a.hiL.toInt)))
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType
            if a.lOk && a.nValued > 0 && a.loL <= a.hiL =>
          Some((java.lang.Long.valueOf(a.loL),
            java.lang.Long.valueOf(a.hiL)))
        case StringType if a.sOk && a.nValued > 0 && a.loS != null =>
          Some((org.apache.spark.unsafe.types.UTF8String
              .fromBytes(a.loS),
            org.apache.spark.unsafe.types.UTF8String
              .fromBytes(a.hiS)))
        case _ => None
      }
      // NDV from the per-file 'V' sketches ([[Snapshots.analyzeNdv]]):
      // element-wise-max union over exactly the planned files, so a
      // pruned sliver reports ITS distinct count, not the table's.
      // Any valued entry missing its sketch (appended after the last
      // analyze) refuses; clamp to the known non-null row count (a
      // 13% over-estimate above numRows would confuse the estimator)
      val ndvOpt: Option[Long] =
        if (a.vOk && a.nValued > 0 && a.regs != null) {
          val est = Snapshots.ndvEstimate(a.regs)
          if (a.valuedRowsOk)
            Some(math.min(est,
              math.max(1L, a.valuedRows - a.valuedNulls)))
          else Some(est)
        } else None
      // EQUI-HEIGHT HISTOGRAM from the per-file 'Q' quantile
      // summaries: the per-file 17-point summaries merge as weighted
      // empirical distributions (each point carries rows/17 mass)
      // into 64 equal-mass bins over exactly the planned files —
      // heavy values collapse to lo==hi bins with ndv 1, which is
      // what lets FilterEstimation see a skewed predicate's true
      // selectivity instead of the uniform min/max guess. Refused
      // when any valued entry lacks its summary (absent beats
      // stale, same as distinctCount).
      // served only beside exact integral min/max: the estimator
      // clamps literals to [min, max] and asserts the clamped value
      // lands in a bin, so coverage must anchor on the same bounds
      val histOpt = fld.dataType match {
        // bounds and quantiles share units by construction:
        // integrals raw, DATE epoch days, TIMESTAMP micros (NTZ has
        // no 'Q' pass — refuses here, min/max still serve)
        case ByteType | ShortType | IntegerType | LongType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType
            if a.qOk && a.qList.nonEmpty && a.lOk &&
              a.nValued > 0 && a.loL <= a.hiL =>
          SnapshotBatchScan.buildHistogram(a.qList,
            a.loL.toDouble, a.hiL.toDouble, ndvOpt)
        case _ => None
      }
      if (ncOpt.isDefined || mm.isDefined || ndvOpt.isDefined ||
          histOpt.isDefined) {
        out.put(Expressions.column(fld.name),
          new org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics {
            override def nullCount(): java.util.OptionalLong =
              ncOpt.map(java.util.OptionalLong.of(_))
                .getOrElse(java.util.OptionalLong.empty())
            override def distinctCount(): java.util.OptionalLong =
              ndvOpt.map(java.util.OptionalLong.of(_))
                .getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              mm.map(v => java.util.Optional.of(
                v._1.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              mm.map(v => java.util.Optional.of(
                v._2.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty[Object]())
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats
                  .Histogram] =
              histOpt.map(java.util.Optional.of(_))
                .getOrElse(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats
                    .Histogram]())
          })
      }
    }
    out
  }

  override def estimateStatistics(): Statistics = {
    val metas = statsMetas
    val rows = metas.map(_._3)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(metas.map(_._2).sum)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics] = v2ColumnStats
      // with live deletes the manifest counts are an OVER-estimate
      // (deleted rows included): sizeInBytes stays (a safe upper
      // bound for broadcast decisions) but no exact row count exists.
      // A pushed limit/top-N caps rows per READER, so the planned
      // files' counts stop being the scan's output count: refuse too
      override def numRows(): java.util.OptionalLong =
        if (dvs.isEmpty && rows.nonEmpty && rows.forall(_.isDefined) &&
            pushedLimit.isEmpty && pushedTopN.isEmpty)
          java.util.OptionalLong.of(rows.map(_.get).sum)
        else java.util.OptionalLong.empty()
    }
  }
}

/** The tiny scan a fully-pushed aggregate builds: one row per group
  * (one total for the bare shape), values computed from the manifest
  * at plan time, zero data IO at execution. */
private[graft] final class ManifestAggScan(
    path: String, pinnedV: Long, aggSchema: StructType,
    values: Array[Array[Any]])
  extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot manifest-agg $path v$pinnedV"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestAggReaderFactory
}

private[graft] final case class ManifestAggPartition(
    values: Array[Array[Any]])
  extends InputPartition

private[graft] final class ManifestAggReaderFactory
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val vals = p.asInstanceOf[ManifestAggPartition].values
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < vals.length }
      override def get(): InternalRow = InternalRow.fromSeq(
        vals(i).toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

/** One bucket directory's files (or a byte range of a single file
  * for per-file partitions); the bucket number(s) are the partition
  * key Spark groups and aligns join sides by. `delPos` (sorted
  * ascending) and `eqIdx` (indices into the factory's eq-delete
  * specs) carry the file's merge-on-read deletes; either non-empty
  * forces a whole-file, filterless read so row positions count true.
  */
private[graft] final case class FileSlice(
    path: String, start: Long, len: Long, fileSize: Long,
    delPos: Array[Long] = Array.empty,
    eqIdx: Array[Int] = Array.empty) {
  def hasDeletes: Boolean = delPos.nonEmpty || eqIdx.nonEmpty
}

/** One equality delete ready to apply in-reader: key ordinals in the
  * reader's (data ++ partition-values) layout, their types, and the
  * key-tuple set (Seq-wrapped catalyst values). */
private[graft] final case class EqApply(
    ordinals: Array[Int],
    dts: Array[org.apache.spark.sql.types.DataType],
    keys: Set[Seq[Any]])

private[graft] final case class SnapshotInputPartition(
    keyRow: InternalRow, idRow: InternalRow, files: Array[FileSlice],
    rowCount: Option[Long] = None, rel: String = "")
  extends InputPartition with HasPartitionKey
  with org.apache.spark.sql.connector.read.HasPartitionStatistics {
  // the key tuple in FIELD order (bucket ints + identity values) -
  // must match the transform order outputPartitioning reports
  override def partitionKey(): InternalRow = keyRow
  // per-partition statistics feed the partially-clustered planner's
  // skew decisions (which side's groups to keep apart)
  override def sizeInBytes(): java.util.OptionalLong =
    java.util.OptionalLong.of(files.map(_.len).sum)
  override def numRows(): java.util.OptionalLong =
    rowCount.map(java.util.OptionalLong.of)
      .getOrElse(java.util.OptionalLong.empty())
  override def filesCount(): java.util.OptionalLong =
    java.util.OptionalLong.of(files.length.toLong)
}

private[graft] object SnapshotReaderFactory {
  /** Test seam: files opened by DSv2 readers since the last reset —
    * lets specs prove runtime filtering dropped whole buckets before
    * any IO (meaningful in local mode, where executors share the
    * JVM; production never reads it). */
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The row functions of a batched scan, which Spark never calls. */
  val noRowRead: (String, Long, Long, Long, InternalRow)
      => Iterator[InternalRow] = (_, _, _, _, _) =>
    throw new IllegalStateException(
      "graft: row read requested on a columnar scan")
}

/** A zero-copy SELECTION view over one batch column: `sel` maps the
  * surviving row index to the base vector's physical row, so
  * positional merge-on-read deletes apply to a `ColumnarBatch`
  * WITHOUT materializing a filtered copy — the Iceberg
  * `ColumnVectorWithFilter` posture. Every accessor is one extra
  * array index on top of the base vector's read; `hasNull` may
  * over-report (the deleted rows might have held the only nulls),
  * which only costs the consumer a per-row null check, while
  * `numNulls` counts exactly over the selection. Lifecycle: the
  * underlying parquet reader owns (and recycles) the base vectors,
  * so `close()` must not free them.
  */
private[graft] final class SelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector,
    sel: Array[Int])
  extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
  private var nullsCnt = -1
  override def close(): Unit = () // base is reader-owned
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = {
    if (nullsCnt < 0) {
      var c = 0; var i = 0
      while (i < sel.length) {
        if (base.isNullAt(sel(i))) c += 1
        i += 1
      }
      nullsCnt = c
    }
    nullsCnt
  }
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), p, s)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  // nested children index by CHILD row ids, which a row-level
  // selection cannot remap (array/map elements fan out); batching is
  // refused for nested result schemas upstream (supportBatch), so
  // this is only reachable through getInterval-style struct access —
  // wrap with the same selection for flat children
  override def getChild(ordinal: Int)
      : org.apache.spark.sql.vectorized.ColumnVector =
    new SelectedColumnVector(base.getChild(ordinal), sel)
}

private[graft] final class SnapshotReaderFactory(
    readFunc: (String, Long, Long, Long, InternalRow)
      => Iterator[InternalRow],
    plainReadFunc: (String, Long, Long, Long, InternalRow)
      => Iterator[InternalRow],
    ordinals: Array[Int],
    outTypes: Array[org.apache.spark.sql.types.DataType],
    eqApplies: Array[EqApply] = Array.empty,
    withPos: Boolean = false,
    batchReadFunc: Option[(String, Long, Long, Long, InternalRow)
      => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] =
      None,
    plainBatchReadFunc: Option[(String, Long, Long, Long, InternalRow)
      => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] =
      None,
    readCap: Option[Int] = None,
    topN: Option[SnapshotBatchScan.TopNReadSpec] = None)
  extends PartitionReaderFactory {

  /** Columnar hand-off when the scan qualified ([[batchReadFunc]]
    * present — uniform across partitions, as Spark requires). */
  override def supportColumnarReads(p: InputPartition): Boolean =
    batchReadFunc.isDefined

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val slice = p.asInstanceOf[SnapshotInputPartition]
    val read = batchReadFunc.getOrElse(throw new IllegalStateException(
      "graft: columnar read requested on a row-based scan"))
    // the reader emits data-then-partition columns; `ordinals` remaps
    // to the required order by PERMUTING the vector references — no
    // per-row work (identity permutations skip even the wrapper)
    val identityOrder = ordinals.zipWithIndex.forall {
      case (o, i) => o == i
    }
    /** POSITIONAL deletes on the columnar path: the file reads WHOLE
      * and FILTERLESS (positions must count true — same rule as the
      * row path), a cursor walks the sorted deleted positions once,
      * and each batch emits through a [[SelectedColumnVector]]
      * selection view — no row materialization, no batch copy; a
      * delete-free batch (the overwhelmingly common case on a big
      * file with few deletes) passes through untouched.
      */
    def deletedBatches(fs: FileSlice)
        : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      val plain = plainBatchReadFunc.getOrElse(
        throw new IllegalStateException(
          "graft: columnar MoR read without a filterless batch func"))
      var pos = 0L
      var di = 0
      plain(fs.path, 0L, fs.fileSize, fs.fileSize, slice.idRow)
        .map { b =>
          val n = b.numRows()
          val start = pos
          pos += n
          // deleted positions inside [start, start+n), batch-relative
          val selB = new Array[Int](n)
          var k = 0
          var i = 0
          while (i < n) {
            if (di < fs.delPos.length && fs.delPos(di) == start + i)
              di += 1
            else { selB(k) = i; k += 1 }
            i += 1
          }
          if (k == n) b
          else {
            val sel = java.util.Arrays.copyOf(selB, k)
            new org.apache.spark.sql.vectorized.ColumnarBatch(
              Array.tabulate(b.numCols)(j =>
                new SelectedColumnVector(b.column(j), sel)
                  : org.apache.spark.sql.vectorized.ColumnVector), k)
          }
        }
    }
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private val it = slice.files.iterator.flatMap { fs =>
        SnapshotReaderFactory.filesOpened.incrementAndGet()
        ScanBridge.setInputFile(fs.path, fs.start, fs.len)
        if (fs.hasDeletes) deletedBatches(fs)
        else read(fs.path, fs.start, fs.len, fs.fileSize, slice.idRow)
      }.map { b =>
        if (identityOrder && b.numCols == ordinals.length) b
        else new org.apache.spark.sql.vectorized.ColumnarBatch(
          ordinals.map(b.column), b.numRows())
      }
      private var cur: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = cur
      override def close(): Unit = ScanBridge.unsetInputFile()
    }
  }

  /** Does any applicable equality delete kill this row? Null keys
    * keep the row — SQL anti-join semantics. */
  private def eqKilled(applies: Array[EqApply], row: InternalRow)
      : Boolean =
    applies.nonEmpty && applies.exists { a =>
      var i = 0
      var anyNull = false
      val key = new Array[Any](a.ordinals.length)
      while (i < a.ordinals.length && !anyNull) {
        if (row.isNullAt(a.ordinals(i))) anyNull = true
        else key(i) =
          Snapshots.v2NormKey(row.get(a.ordinals(i), a.dts(i)))
        i += 1
      }
      !anyNull && a.keys.contains(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(key))
    }

  /** Rows of one delete-bearing file, MoR deletes applied: the file
    * is read whole and filterless (`plainReadFunc`), so the running
    * index IS the row's position — a cursor over the sorted deleted
    * positions skips positional kills in O(1) each; surviving rows
    * probe the applicable equality-delete key sets.
    */
  private def liveRows(fs: FileSlice, idRow: InternalRow)
      : Iterator[InternalRow] = {
    val applies = fs.eqIdx.map(eqApplies)
    var pos = 0L
    var di = 0
    plainReadFunc(fs.path, 0L, fs.fileSize, fs.fileSize, idRow)
      .filter { row =>
        val p = pos
        pos += 1
        if (di < fs.delPos.length && fs.delPos(di) == p) {
          di += 1
          false
        } else !eqKilled(applies, row)
      }
  }

  /** Same, but every surviving row carries its physical position
    * appended after the data + partition-value columns — with the
    * file path among the latter, the delta rowId of Spark's
    * row-level DML. Positions are PHYSICAL (deleted rows advance the
    * counter), so a positional delete written against them composes
    * with existing delete files exactly.
    */
  private def posRows(fs: FileSlice, idRow: InternalRow)
      : Iterator[InternalRow] = {
    val applies = fs.eqIdx.map(eqApplies)
    val meta = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(1)
    val joined =
      new org.apache.spark.sql.catalyst.expressions.JoinedRow
    var pos = 0L
    var di = 0
    plainReadFunc(fs.path, 0L, fs.fileSize, fs.fileSize, idRow)
      .flatMap { row =>
        val p = pos
        pos += 1
        val posKilled =
          di < fs.delPos.length && fs.delPos(di) == p && {
            di += 1; true
          }
        if (posKilled || eqKilled(applies, row)) None
        else {
          meta.setLong(0, p)
          Some(joined(row, meta))
        }
      }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val slice = p.asInstanceOf[SnapshotInputPartition]
    // restore the required column order over the reader's
    // data-then-partition layout (identity when nothing reorders)
    val proj = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(ordinals.zip(outTypes).map {
        case (i, dt) => org.apache.spark.sql.catalyst.expressions
          .BoundReference(i, dt, nullable = true)
      }.toIndexedSeq)
    new PartitionReader[InternalRow] {
      private val raw = slice.files.iterator
        .flatMap { fs =>
          SnapshotReaderFactory.filesOpened.incrementAndGet()
          ScanBridge.setInputFile(fs.path, fs.start, fs.len)
          if (withPos) posRows(fs, slice.idRow)
          else if (fs.hasDeletes) liveRows(fs, slice.idRow)
          else readFunc(fs.path, fs.start, fs.len, fs.fileSize,
            slice.idRow)
        }
      // pushed LIMIT: this reader contributes at most `cap` rows
      // (counted POST merge-on-read deletes — `raw` is already live
      // rows); Spark's own limit sits above
      private val capped = readCap match {
        case Some(k) => raw.take(k)
        case None => raw
      }
      // pushed TOP-N: a bounded max-heap of k OUTPUT-row copies —
      // emit this task's local top-k (any order; Spark re-sorts) so
      // the sort above receives tasks×k rows, not the partition
      private val it: Iterator[InternalRow] = topN match {
        case Some(spec) =>
          val cmp = spec.comparator
          val heap = new java.util.PriorityQueue[InternalRow](
            math.max(1, math.min(spec.k, 1024)), cmp.reversed())
          while (capped.hasNext) {
            val r = proj(capped.next()).copy()
            if (heap.size < spec.k) heap.add(r)
            else if (cmp.compare(r, heap.peek) < 0) {
              heap.poll(); heap.add(r)
            }
          }
          import scala.jdk.CollectionConverters._
          heap.iterator.asScala
        case None => capped.map(proj)
      }
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ScanBridge.unsetInputFile()
    }
  }
}

/** The store's hidden bucket transform as a catalog V2 function —
  * what lets Spark RESOLVE `bucket(n, col)` partitioning reported by
  * two scans into comparable `TransformExpression`s (equal canonical
  * name + equal bucket count ⇒ compatible shuffle specs ⇒ no
  * Exchange). `produceResult` evaluates the IDENTICAL expression the
  * writer used to derive bucket directories — `pmod(xxhash64(col),
  * n)` — so any Spark-side evaluation (partially-clustered
  * distributions, runtime filters) can never disagree with the
  * layout on disk.
  */
private[graft] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(xxhash64(col), n) - the snapshot store's " +
      "hidden bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"graft bucket(n, col) takes 2 arguments, got $inputType")
    new GraftBucketBound(inputType.fields(1).dataType)
  }
}

private[graft] final class GraftBucketBound(dt: DataType)
  extends ScalarFunction[Integer]
  with org.apache.spark.sql.connector.catalog.functions
    .ReducibleFunction[Integer, Integer] with Serializable {

  /** MISMATCHED BUCKET COUNTS still join shuffle-free
    * (`spark.sql.sources.v2.bucketing.allowCompatibleTransforms
    * .enabled`): `(hash % n) % g == hash % g` whenever `g` divides
    * `n`, so a `bucket(16)` side REDUCES onto the two sides' gcd and
    * Spark groups its partitions pairwise against the `bucket(8)`
    * side — re-bucketing neither. Returns null (no reduction) when
    * this side already sits at the gcd or the other function is not
    * this store's bucket.
    */
  override def reducer(thisN: Int,
      other: org.apache.spark.sql.connector.catalog.functions
        .ReducibleFunction[_, _], otherN: Int)
      : org.apache.spark.sql.connector.catalog.functions
        .Reducer[Integer, Integer] = other match {
    case _: GraftBucketBound =>
      val g = BigInt(thisN).gcd(BigInt(otherN)).toInt
      if (g == thisN) null else GraftBucketReducer(g)
    case _ => null
  }
  // the write-time hash, evaluated through catalyst itself: XxHash64
  // with Spark's fixed seed 42, null values folding to the seed -
  // exactly functions.xxhash64's semantics
  @transient private lazy val hasher =
    XxHash64(Seq(BoundReference(1, dt, nullable = true)), 42L)

  override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val h = hasher.eval(input).asInstanceOf[Long]
    val m = (h % n).toInt
    Integer.valueOf(if (m < 0) m + n else m)
  }
}

/** Maps a bucket number into the coarser gcd space — exact because
  * bucket numbers are non-negative remainders of the same hash. */
private[graft] final case class GraftBucketReducer(n: Int)
  extends org.apache.spark.sql.connector.catalog.functions
    .Reducer[Integer, Integer] with Serializable {
  override def reduce(b: Integer): Integer =
    Integer.valueOf(b.intValue() % n)
}
