package graft.sources.colf

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

/** A resolved .colf data file plus the directory-listing metadata that
  * came for free with it (FileStatus length + mtime), and any hive-style
  * `k=v` partition values parsed from its directory path. Carrying these
  * avoids a second getFileStatus round trip per file at planning time —
  * at 10⁵–10⁶ part files on a remote FS those RPCs are the driver's
  * wall-clock, not the data.
  *
  * `fileSchema` is the file's header column list when the source already
  * knew it (manifest-recorded schemas, [[ColfVersions.Entry.schema]]);
  * null otherwise. Schema resolution prefers it over opening the file —
  * executors still read the real header at scan time for offsets.
  * `fileNumRows` / `fileStats` likewise carry the manifest-recorded row
  * count and column bounds (-1 / null = unrecorded): stats pruning,
  * LIMIT coverage, and statistics estimation consult them before paying
  * a header fetch. None of the three reach executors — tasks carry only
  * (path, partValues) ([[ColfUtil.binPack]]) and read the real header.
  *
  * `dvPath` / `dvRows`: the file's deletion vector ([[ColfDeletes]]) as
  * an ABSOLUTE path (executors open it directly) masking `dvRows` rows;
  * null/0 = no deletes. Unlike the planning facts above, `dvPath` DOES
  * reach executors (via the input partition) — applying it is the read's
  * correctness, not an optimization.
  */
final case class ColfFileRef(path: String, size: Long, mtime: Long,
    partValues: Map[String, String] = Map.empty,
    fileSchema: Seq[ColfField] = null,
    fileNumRows: Long = -1L,
    fileStats: Map[String, ColfColStats] = null,
    dvPath: String = null,
    dvRows: Long = 0L)
    extends Serializable {
  /** All manifest-recorded facts present — planning can synthesize the
    * header ([[ColfPrune.syntheticHeader]]) instead of fetching it.
    */
  def recorded: Boolean =
    fileNumRows >= 0 && fileSchema != null && fileStats != null
}

/** Hive-layout partition support: `k=v` path segments become typed table
  * columns, and filters on them prune files EXACTLY (no header I/O at
  * all — the decisive difference from stats pruning at 10⁵⁺ files:
  * a `dt = '2024-01-01'` probe touches only that date's files).
  *
  * It also owns the TABLE LAYOUT rule that the reader, the writer and
  * both commit paths share: a directory is part of the table iff its
  * name parses as a segment ([[parseSegment]]), and a file is a data
  * file iff [[isDataFile]]. What one path lists, every other path lists.
  */
private[graft] object ColfPartitions {

  /** Names the layout never reads: Hadoop `.crc` siblings, in-flight
    * `.tmp` parts, `_graft_versions` and other `_`-prefixed metadata.
    */
  def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  def isDataFile(name: String): Boolean = name.endsWith(".colf") && !hidden(name)

  /** A directory name as a partition `(column, value)`: exactly one `=`,
    * a non-empty key, no leading `.`/`_`. Anything else is not part of
    * the table — never descended into, never listed.
    */
  def parseSegment(name: String): Option[(String, String)] = {
    val i = name.indexOf('=')
    if (i <= 0 || name.indexOf('=', i + 1) >= 0 || hidden(name)) None
    else Some(name.substring(0, i) -> name.substring(i + 1))
  }

  /** The `k=v` segment the writer creates for one partition value,
    * validated so [[parseSegment]] reads back exactly `(col, value)` and
    * Hadoop's `Path` takes it as a plain name (a `:` would parse as a URI
    * scheme). Empty values and values that start with `.`/`_` or contain
    * `/`, `=` or `:` fail loudly.
    */
  def segment(col: String, value: String): String = {
    val seg = s"$col=$value"
    require(value.nonEmpty && !hidden(value) && !seg.exists(c => c == '/' || c == ':') &&
      parseSegment(seg).contains(col -> value),
      s"colf partitionBy: value '$value' of column '$col' cannot form " +
        "a k=v path segment")
    seg
  }

  /** Partition column names across a listing, in sorted order (path
    * discovery order is nondeterministic; the schema must not be).
    */
  def partitionCols(refs: Seq[ColfFileRef]): Seq[String] =
    refs.flatMap(_.partValues.keys).distinct.sorted

  /** The listing's partition columns as table fields, appended after the
    * file columns and typed by [[inferType]] over their observed values.
    * A partition column may not share a name with a file column.
    */
  def partitionFields(refs: Seq[ColfFileRef], fileCols: String => Boolean): Seq[ColfField] =
    partitionCols(refs).map { pc =>
      require(!fileCols(pc),
        s"colf: partition directory column '$pc' collides with a file column of " +
          "the same name")
      ColfField(pc, inferType(refs.flatMap(_.partValues.get(pc))), nullable = false)
    }

  /** Narrowest COLF type that parses EVERY observed value of a partition
    * column — the format's own inference lattice (int32 ≺ float64 ≺ utf8)
    * applied to path segments.
    */
  def inferType(values: Iterable[String]): ColfType =
    if (values.forall(v => scala.util.Try(v.toInt).isSuccess)) ColfType.Int32
    else if (values.forall(v => scala.util.Try(v.toDouble).isSuccess)) ColfType.Float64
    else ColfType.Utf8

  def typedValue(raw: String, tpe: ColfType): Any = tpe match {
    case ColfType.Int32   => raw.toInt
    case ColfType.Float64 => raw.toDouble
    case ColfType.Utf8    => raw
  }

  /** Spark-order comparison of a typed value `x` (a partition value or a
    * column's stat bound) against a filter value `v`. None when the pair
    * is incomparable (unexpected runtime type) — exactness claims must
    * then be dropped and pruning must keep the file.
    *
    * Doubles compare in Spark's SQL order: NaN sorts largest and equals
    * itself (Double.compare already does both), and -0.0 == 0.0 — the
    * zeros are normalized on BOTH sides before comparing, else a
    * partition directory `p=-0.0` probed with `p = 0.0` would wrongly
    * prune (Double.compare puts -0.0 strictly below 0.0).
    */
  private[colf] def cmpValues(x: Any, v: Any): Option[Int] = {
    def norm(d: Double): Double = if (d == 0.0d) 0.0d else d
    (x, v) match {
      case (x: Int, y: Number) => y match {
        // fractional probe against an int partition compares in double
        // space (long truncation would mis-prune e.g. p < 4.5 on p=4)
        case _: java.lang.Double | _: java.lang.Float =>
          Some(java.lang.Double.compare(x.toDouble, norm(y.doubleValue())))
        case bd: java.math.BigDecimal =>
          Some(java.math.BigDecimal.valueOf(x.toLong).compareTo(bd))
        case _ => Some(java.lang.Long.compare(x.toLong, y.longValue()))
      }
      case (x: Double, y: Number) =>
        Some(java.lang.Double.compare(norm(x), norm(y.doubleValue())))
      case (x: String, y: String) =>
        Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
      case (x: String, y: UTF8String) => Some(UTF8String.fromString(x).compareTo(y))
      case _ => None
    }
  }

  /** Exact partition pruning: can a file with these typed partition
    * values satisfy the filter? Unlike header-stats pruning this is an
    * exact evaluation, not a bound check — but it must stay conservative
    * for anything it cannot see: filters over non-partition attributes
    * answer true (the stats/residual layers own them).
    */
  def mayMatch(values: Map[String, Any], f: Filter): Boolean = {
    def known(a: String): Boolean = values.contains(a)
    def cmp(a: String, v: Any): Option[Int] = cmpValues(values(a), v)
    f match {
      case And(l, r) => mayMatch(values, l) && mayMatch(values, r)
      case Or(l, r)  => mayMatch(values, l) || mayMatch(values, r)
      case Not(c)    => !evalExact(values, c).contains(true)
      case EqualTo(a, v) if known(a)       => cmp(a, v).forall(_ == 0)
      case EqualNullSafe(a, v) if known(a) => v != null && cmp(a, v).forall(_ == 0)
      case In(a, vs) if known(a) =>
        vs != null && vs.exists(v => v != null && cmp(a, v).forall(_ == 0))
      case GreaterThan(a, v) if known(a)        => cmp(a, v).forall(_ > 0)
      case GreaterThanOrEqual(a, v) if known(a) => cmp(a, v).forall(_ >= 0)
      case LessThan(a, v) if known(a)           => cmp(a, v).forall(_ < 0)
      case LessThanOrEqual(a, v) if known(a)    => cmp(a, v).forall(_ <= 0)
      case IsNull(a) if known(a)    => false // path-derived values are never null
      case IsNotNull(a) if known(a) => true
      case StringStartsWith(a, p) if known(a) => values(a) match {
        case s: String => s.startsWith(p)
        case _         => true
      }
      case _ => true
    }
  }

  /** EXACT truth of a filter for a file whose referenced columns all have
    * the (non-null) constant `values` — None when the shape or a value
    * pair is undecidable. Some(b) means every row of the file evaluates
    * the filter to exactly `b`: the basis for ABSORBING partition-column
    * filters at plan time (files kept by Some(true) need no per-row
    * re-evaluation; Some(false) files are pruned exactly). Unlike
    * [[mayMatch]] there is no conservative default: conservative-keep
    * would emit rows the dropped residual filter should have removed.
    */
  def evalExact(values: Map[String, Any], f: Filter): Option[Boolean] = {
    def known(a: String): Boolean = values.contains(a)
    def cmp(a: String, v: Any): Option[Int] =
      if (v == null) None else cmpValues(values(a), v)
    f match {
      case _: AlwaysTrue  => Some(true)
      case _: AlwaysFalse => Some(false)
      case And(l, r) => (evalExact(values, l), evalExact(values, r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (evalExact(values, l), evalExact(values, r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Not(c) => evalExact(values, c).map(!_)
      // x = null / x IN (…, null) / startsWith(x, null) evaluate to SQL
      // NULL — a third state this two-state Option cannot carry: NULL acts
      // as false at WHERE top level but does NOT negate to true, so
      // collapsing it to Some(false) inverts the absorbed answer under an
      // enclosing Not/Or (e.g. `p NOT IN (1, 2, NULL)` must keep ZERO
      // rows, yet Not(Some(false)) would keep them all). Null probes are
      // therefore undecidable here (None) — and [[exactShape]] rejects
      // them so they stay in Spark's residual set. The one exception is
      // EqualNullSafe: `a <=> null` on a never-null partition value is
      // genuinely false, no tri-state involved.
      case EqualTo(a, v) if known(a) =>
        if (v == null) None else cmp(a, v).map(_ == 0)
      case EqualNullSafe(a, v) if known(a) =>
        if (v == null) Some(false) else cmp(a, v).map(_ == 0)
      case In(a, vs) if known(a) =>
        if (vs == null) None
        else {
          val hasNull = vs.exists(_ == null)
          val cs = vs.toSeq.filter(_ != null).map(v => cmp(a, v))
          if (cs.exists(_.contains(0))) Some(true) // a match dominates NULLs
          else if (!hasNull && cs.forall(_.isDefined)) Some(false)
          else None // no match + null element ⇒ SQL NULL, undecidable
        }
      case GreaterThan(a, v) if known(a)        => cmp(a, v).map(_ > 0)
      case GreaterThanOrEqual(a, v) if known(a) => cmp(a, v).map(_ >= 0)
      case LessThan(a, v) if known(a)           => cmp(a, v).map(_ < 0)
      case LessThanOrEqual(a, v) if known(a)    => cmp(a, v).map(_ <= 0)
      case IsNull(a) if known(a)                => Some(false)
      case IsNotNull(a) if known(a)             => Some(true)
      case StringStartsWith(a, p) if known(a) => values(a) match {
        case s: String => if (p == null) None else Some(s.startsWith(p))
        case _         => None
      }
      case _ => None
    }
  }

  /** Structural guarantee that [[evalExact]] decides this filter for ANY
    * file carrying typed values for `cols` — every referenced attribute is
    * one of `cols` and every node is a shape whose value pair is
    * comparable under the column's Spark type. Checked once at scan
    * planning; filters passing it are absorbed (removed from the residual
    * set Spark re-evaluates).
    */
  def exactShape(f: Filter, cols: Set[String],
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    def comparable(a: String, v: Any): Boolean =
      cols(a) && v != null && schema.fields.find(_.name == a).exists { fd =>
        (fd.dataType, v) match {
          case (IntegerType | DoubleType, _: Number) => true
          case (StringType, _: String)               => true
          case (StringType, _: UTF8String)           => true
          case _                                     => false
        }
      }
    f match {
      case _: AlwaysTrue | _: AlwaysFalse => true
      case And(l, r) => exactShape(l, cols, schema) && exactShape(r, cols, schema)
      case Or(l, r)  => exactShape(l, cols, schema) && exactShape(r, cols, schema)
      case Not(c)    => exactShape(c, cols, schema)
      // Null probe values are REJECTED (the filter stays residual):
      // `a = null` / `a IN (…, null)` evaluate to SQL NULL, a tri-state
      // [[evalExact]]'s Boolean cannot represent under Not/Or. Only
      // EqualNullSafe keeps its null form — `a <=> null` is two-valued.
      case EqualTo(a, v)            => comparable(a, v)
      case EqualNullSafe(a, v)      => cols(a) && (v == null || comparable(a, v))
      case In(a, vs) =>
        cols(a) && vs != null && vs.forall(v => comparable(a, v))
      case GreaterThan(a, v)        => comparable(a, v)
      case GreaterThanOrEqual(a, v) => comparable(a, v)
      case LessThan(a, v)           => comparable(a, v)
      case LessThanOrEqual(a, v)    => comparable(a, v)
      case IsNull(a)                => cols(a)
      case IsNotNull(a)             => cols(a)
      case StringStartsWith(a, p) =>
        cols(a) && p != null &&
          schema.fields.find(_.name == a).exists(_.dataType == StringType)
      case _ => false
    }
  }
}

/** Driver-side header cache + parallel fetch.
  *
  * Every planning decision (COUNT(*) pushdown, LIMIT file coverage,
  * stats-based file pruning, estimateStatistics) needs per-file headers;
  * reading them one at a time on the driver serializes the whole plan on
  * FS latency. This cache (a) fetches misses through a bounded thread
  * pool, and (b) keys entries by (path, size, mtime) so an overwritten
  * file can never serve a stale header, while repeated queries over the
  * same directory pay the FS once.
  */
private[graft] object ColfHeaderCache {
  /** Test instrumentation: number of ACTUAL filesystem header reads. */
  val fetches = new AtomicLong(0)

  /** Entry cap (headers are ~100s of bytes–tens of KB with blooms; the cap
    * bounds driver heap at tens–hundreds of MB). Var so specs can shrink
    * it; production never mutates it.
    */
  @volatile private[graft] var maxEntries: Int = 1 << 17

  /** Access-ordered LRU: filling the cache evicts only the LEAST RECENTLY
    * USED entries, so a directory sweep that overflows the cap no longer
    * wipes the hot working set the next query needs (the previous
    * wholesale clear() evicted everything at exactly the wrong moment).
    * Map operations are microseconds under one lock vs milliseconds of
    * FS I/O per miss — contention is irrelevant next to what a miss costs.
    */
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), ColfHeader](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), ColfHeader]): Boolean =
        size() > maxEntries
    })

  private lazy val pool = Executors.newFixedThreadPool(32, new ThreadFactory {
    private val n = new AtomicLong(0)
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"colf-header-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def get(ref: ColfFileRef, conf: Configuration): ColfHeader = {
    val key = (ref.path, ref.size, ref.mtime)
    val hit = cache.get(key)
    if (hit != null) return hit
    fetches.incrementAndGet()
    val path = new Path(ref.path)
    val in = path.getFileSystem(conf).open(path)
    val h = try ColfCodec.readHeader(in) finally in.close()
    cache.put(key, h) // LRU-bounded: inserts past the cap evict cold entries
    h
  }

  /** Fetch all headers (cache-aware) in parallel, preserving input order. */
  def getAll(refs: Seq[ColfFileRef], conf: Configuration): Seq[ColfHeader] =
    mapParallel(refs)(get(_, conf))

  /** Headers for PLANNING decisions: manifest-recorded refs synthesize
    * one from their facts with zero I/O ([[ColfPrune.syntheticHeader]] —
    * identical planning answers, minus blooms); only unrecorded refs pay
    * a fetch. Not for the read path, whose headers need real offsets.
    */
  def getAllPlanning(refs: Seq[ColfFileRef], conf: Configuration): Seq[ColfHeader] =
    mapParallel(refs) { r =>
      if (r.recorded) ColfPrune.syntheticHeader(r.fileNumRows, r.fileSchema, r.fileStats)
      else get(r, conf)
    }

  /** Order-preserving parallel map on the shared driver pool — for any
    * per-file FS round trip that would otherwise serialize on latency
    * (header fetches, explicit-path status calls).
    */
  def mapParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.lengthCompare(2) < 0) return xs.map(f)
    import scala.jdk.CollectionConverters._
    val tasks = xs.map { x =>
      new java.util.concurrent.Callable[B] { override def call(): B = f(x) }
    }
    pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
  }
}

/** Stats-based file skipping: decides whether a file MAY contain rows
  * matching a pushed filter, from its header alone (per-column min/max +
  * null_count written by our writer; the per-column has-nulls flag and
  * the comp_size==0 all-null convention exist even in reference files).
  *
  * The format has no row groups — one block per column per file — so the
  * file IS the skipping granule: pruning a file skips exactly the blocks
  * a finer-grained reader would have skipped.
  *
  * Everything here is conservative: `mayMatch` returns true whenever
  * stats are absent, the filter shape is unknown, or bounds can't prove
  * emptiness. The engine re-evaluates every filter post-scan (they are
  * all returned as residuals), so pruning is pure I/O avoidance — it can
  * never change results.
  */
private[graft] object ColfPrune {

  /** Can this filter shape ever contribute to file skipping? (Used to
    * decide what to report as "pushed" — and therefore what's worth
    * forcing header loads for at planning time.)
    */
  def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _)            => simpleAttr(a)
    case EqualNullSafe(a, _)      => simpleAttr(a)
    case GreaterThan(a, _)        => simpleAttr(a)
    case GreaterThanOrEqual(a, _) => simpleAttr(a)
    case LessThan(a, _)           => simpleAttr(a)
    case LessThanOrEqual(a, _)    => simpleAttr(a)
    case In(a, _)                 => simpleAttr(a)
    case IsNull(a)                => simpleAttr(a)
    case IsNotNull(a)             => simpleAttr(a)
    case StringStartsWith(a, _)   => simpleAttr(a)
    case And(l, r)                => prunable(l) || prunable(r)
    case Or(l, r)                 => prunable(l) && prunable(r)
    case _                        => false
  }

  /** COLF columns are flat; a dotted name would be a nested reference. */
  private def simpleAttr(a: String): Boolean = !a.contains('.')

  def mayMatch(header: ColfHeader, filters: Seq[Filter]): Boolean = {
    if (header.schema.numRows == 0L) return false // nothing can match
    filters.forall(mayMatchOne(header, _))
  }

  /** Header-stats file pruning over resolved refs, manifest-first: files
    * carrying recorded facts ([[ColfFileRef.recorded]]) are pruned
    * against a synthesized header with ZERO I/O; real headers are
    * fetched (batched, cached) only for unrecorded files — plus
    * recorded SURVIVORS when the filter has a string-equality shape a
    * header-resident Bloom could still skip. A selective non-equality
    * query over a fully-recorded 10⁵-file table therefore plans without
    * a single header RPC. Input order is preserved (LIMIT coverage and
    * streaming offsets consume it). Shared by the batch scan, the
    * row-level scan (via runtime filters), and the streaming source's
    * per-batch pruning.
    */
  def pruneRefs(base: Seq[ColfFileRef], fs: Seq[Filter],
      conf: Configuration): Seq[ColfFileRef] = {
    val wantBloom = fs.exists(bloomEligible)
    // tier 1: recorded facts, zero I/O (per file — mixed manifests prune
    // what they can and fall back for the rest)
    val statsPruned: Set[String] = base.iterator.filter(_.recorded).filterNot { r =>
      mayMatch(syntheticHeader(r.fileNumRows, r.fileSchema, r.fileStats), fs)
    }.map(_.path).toSet
    // tier 2: real headers — unrecorded files always; recorded survivors
    // only when a Bloom probe could out-prune the recorded bounds
    val needHeaders = base.filter(r => !statsPruned(r.path) &&
      (!r.recorded || wantBloom))
    val headerPruned: Set[String] =
      needHeaders.lazyZip(ColfHeaderCache.getAll(needHeaders, conf)).collect {
        case (r, h) if !mayMatch(h, fs) => r.path
      }.toSet
    base.filter(r => !statsPruned(r.path) && !headerPruned(r.path))
  }

  /** A header REBUILT from manifest-recorded facts ([[ColfVersions
    * .Entry]]): same schema, same row count, same per-column stats minus
    * blooms — so [[mayMatch]] runs VERBATIM against recorded data and
    * cannot diverge from what the real header would have decided (the
    * one delta, absent blooms, only weakens pruning — `bloomAllows`
    * keeps the file). compSize encodes the all-null convention so
    * `allNull` answers identically; offsets are fiction (planning never
    * reads them).
    */
  def syntheticHeader(numRows: Long, fields: Seq[ColfField],
      stats: Map[String, ColfColStats]): ColfHeader = {
    val metas = fields.map { f =>
      val nc = stats.get(f.name).map(_.nullCount).getOrElse(0L)
      ColfColumnMeta(0L,
        if (numRows > 0 && nc == numRows) 0L else 1L, 1L, nc > 0)
    }.toIndexedSeq
    ColfHeader(1, littleEndian = true,
      ColfSchema(numRows, fields.toIndexedSeq, stats), metas, 0L)
  }

  /** Could a per-file Bloom filter prune MORE than min/max bounds for
    * this filter? True only for equality shapes over bloom-carrying
    * types — string, int32, float64 ([[bloomAllows]] ignores everything
    * else) — the scan fetches real headers for recorded-stats survivors
    * only when this holds, otherwise recorded bounds are the whole
    * decision and planning does zero header I/O.
    */
  def bloomEligible(f: Filter): Boolean = {
    def probeable(v: Any): Boolean = v match {
      case null => false
      case _: String | _: UTF8String => true
      case _: java.lang.Integer | _: java.lang.Long |
           _: java.lang.Double | _: java.lang.Float => true
      case _ => false
    }
    f match {
      case And(l, r)           => bloomEligible(l) || bloomEligible(r)
      case Or(l, r)            => bloomEligible(l) || bloomEligible(r)
      case EqualTo(_, v)       => probeable(v)
      case EqualNullSafe(_, v) => probeable(v)
      case In(_, vs) => vs != null && vs.exists(probeable)
      case _         => false
    }
  }

  private def mayMatchOne(h: ColfHeader, f: Filter): Boolean = f match {
    case And(l, r) => mayMatchOne(h, l) && mayMatchOne(h, r)
    case Or(l, r)  => mayMatchOne(h, l) || mayMatchOne(h, r)

    case EqualTo(a, v)       => withinBounds(h, a, v)
    case EqualNullSafe(a, v) => if (v == null) mayHaveNull(h, a) else withinBounds(h, a, v)
    case In(a, vs) =>
      // null elements of an IN list never match (ternary logic)
      vs != null && vs.exists(v => v != null && withinBounds(h, a, v))

    case GreaterThan(a, v)        => boundAllows(h, a, v, useMax = true, strict = true)
    case GreaterThanOrEqual(a, v) => boundAllows(h, a, v, useMax = true, strict = false)
    case LessThan(a, v)           => boundAllows(h, a, v, useMax = false, strict = true)
    case LessThanOrEqual(a, v)    => boundAllows(h, a, v, useMax = false, strict = false)

    case IsNull(a)    => mayHaveNull(h, a)
    case IsNotNull(a) => mayHaveNonNull(h, a)

    case StringStartsWith(a, p) => prefixMayMatch(h, a, p)

    case _ => true
  }

  private def fieldIdx(h: ColfHeader, a: String): Int =
    h.schema.fields.indexWhere(_.name == a)

  private def stats(h: ColfHeader, a: String): Option[ColfColStats] =
    h.schema.stats.get(a)

  /** All rows of this column null? True implies no value predicate matches.
    * Known either from stats or from the reference's comp_size==0 encoding.
    */
  private def allNull(h: ColfHeader, a: String): Boolean = {
    val i = fieldIdx(h, a)
    if (i >= 0 && h.metas(i).compSize == 0L && h.schema.numRows > 0) return true
    stats(h, a).exists(_.nullCount == h.schema.numRows)
  }

  private def mayHaveNull(h: ColfHeader, a: String): Boolean = {
    stats(h, a) match {
      case Some(st) => st.nullCount > 0
      case None =>
        val i = fieldIdx(h, a)
        i < 0 || h.metas(i).hasNulls || h.metas(i).compSize == 0L
    }
  }

  private def mayHaveNonNull(h: ColfHeader, a: String): Boolean = !allNull(h, a)

  /** v ∈ [min, max] as far as the (possibly partial) bounds can tell.
    * A string `min` may be a truncated prefix (≤ true min): v < minT still
    * proves v < trueMin, so the prune direction stays sound.
    *
    * For equality probes a per-file Bloom filter (when present) answers
    * beyond min/max: on high-cardinality columns every file spans ~the
    * whole range so bounds never exclude `id = X`, but a definitive
    * Bloom miss proves X was never written to this file. Each probe is
    * hashed under the COLUMN's type with exactly the writer's scheme
    * (utf8 bytes / int32 value / normalized float64 bits — [[ColfBloom]])
    * so a Bloom "no" is exact; a "yes" just keeps the file. Probes whose
    * type can't hash faithfully (e.g. a fractional literal against an
    * int column) simply decline — the bounds verdict stands.
    */
  private def withinBounds(h: ColfHeader, a: String, v: Any): Boolean = {
    if (allNull(h, a)) return false
    stats(h, a) match {
      case None => true
      case Some(st) =>
        val aboveMin = st.min.forall(mn => ColfPartitions.cmpValues(mn, v).forall(_ <= 0))
        val belowMax = st.max.forall(mx => ColfPartitions.cmpValues(mx, v).forall(_ >= 0))
        aboveMin && belowMax && {
          val i = fieldIdx(h, a)
          i < 0 || bloomAllows(h.schema.fields(i).tpe, st, v)
        }
    }
  }

  private def bloomAllows(tpe: ColfType, st: ColfColStats, v: Any): Boolean =
    st.bloom match {
      case None => true
      case Some(bf) =>
        // null = "can't hash this probe faithfully" → keep the file
        val h: java.lang.Long = tpe match {
          case ColfType.Utf8 => v match {
            case s: String =>
              val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              ColfBloom.hash(b, 0, b.length)
            case u: UTF8String =>
              val b = u.getBytes
              ColfBloom.hash(b, 0, b.length)
            case _ => null
          }
          case ColfType.Int32 => v match {
            case i: java.lang.Integer => ColfBloom.hashInt(i.intValue())
            case l: java.lang.Long
                if l.longValue() == l.intValue().toLong =>
              ColfBloom.hashInt(l.intValue())
            // a whole-valued double probe CAN equal a stored int (Spark
            // compares in double space); fractional/out-of-range cannot,
            // but bounds already decide those — decline either way is
            // sound, hash only the exactly-representable case
            case d: java.lang.Double
                if d.doubleValue() == Math.rint(d.doubleValue()) &&
                  d.doubleValue() >= Int.MinValue.toDouble &&
                  d.doubleValue() <= Int.MaxValue.toDouble =>
              ColfBloom.hashInt(d.doubleValue().toInt)
            case _ => null
          }
          case ColfType.Float64 => v match {
            // Spark compares mixed numeric types in double space, so the
            // probe's double CONVERSION is the compared value — hash it
            case x: java.lang.Number => ColfBloom.hashDouble(x.doubleValue())
            case _                   => null
          }
        }
        h == null || bf.mightContain(h.longValue())
    }

  /** Range predicates: keep the file iff some value beyond `v` could exist.
    * useMax → the filter needs values ABOVE v (>, >=): check against max.
    * !useMax → needs values BELOW v (<, <=): check against min.
    */
  private def boundAllows(h: ColfHeader, a: String, v: Any,
      useMax: Boolean, strict: Boolean): Boolean = {
    if (allNull(h, a)) return false
    stats(h, a) match {
      case None => true
      case Some(st) =>
        val bound = if (useMax) st.max else st.min
        bound match {
          case None => true
          case Some(b) => ColfPartitions.cmpValues(b, v) match {
            case None => true
            case Some(c) =>
              if (useMax) { if (strict) c > 0 else c >= 0 }
              else { if (strict) c < 0 else c <= 0 }
          }
        }
    }
  }

  /** startsWith(p): matches lie in [p, succ(p)) in binary order. Keep iff
    * max ≥ p and min < succ(p). succ(p) = p with its last non-0xFF byte
    * incremented (bytes after it dropped); all-0xFF has no successor.
    */
  private def prefixMayMatch(h: ColfHeader, a: String, p: String): Boolean = {
    if (allNull(h, a)) return false
    stats(h, a) match {
      case None => true
      case Some(st) =>
        val pb = UTF8String.fromString(p).getBytes
        val maxOk = st.max.forall { case mx: String =>
          val mb = UTF8String.fromString(mx).getBytes
          ColfCodec.cmpBytes(mb, 0, mb.length, pb) >= 0
        case _ => true
        }
        val minOk = st.min.forall { case mn: String =>
          succ(pb) match {
            case None => true
            case Some(ub) =>
              val nb = UTF8String.fromString(mn).getBytes
              ColfCodec.cmpBytes(nb, 0, nb.length, ub) < 0
          }
        case _ => true
        }
        maxOk && minOk
    }
  }

  private def succ(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = ((out(i) & 0xff) + 1).toByte
      Some(out)
    }
  }
}
