package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.colf.{ColfCodec, ColfInference}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-pipeline extensions), with DuckDB oracle
  * SQL wherever the semantics are ANSI-expressible.
  *
  * Determinism rules that make the Spark result hash-match the DuckDB
  * oracle byte-for-byte:
  *  - cross-row double sums go through a DECIMAL cast (exact, associative)
  *    and back to double at the end — partial-aggregation order can never
  *    perturb a result;
  *  - per-row double math (cosine, ratios, scores) uses a fixed
  *    left-to-right operation order replicated in the oracle SQL;
  *  - every ordering has a unique tie-break column;
  *  - timestamps are rendered to strings (engines disagree on tz-ness of
  *    raw timestamp columns, not on their rendering).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Event time as micros-since-epoch, adaptive to the OBSERVED physical
    * type of the `ts` column. External parquet has shipped event time to
    * this engine in three flavors already:
    *  - parquet TIMESTAMP(NANOS), which Spark reads as INT64 nanos under
    *    `spark.sql.legacy.parquet.nanosAsLong` → integer-truncate to micros
    *    (matching engines that read nanos natively at micro precision);
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false → TIMESTAMP_NTZ:
    *    the file's wall-clock digits taken as-UTC (equal to DuckDB's
    *    `epoch_us(ts)` over the same naive timestamps), computed by
    *    tz-free FIELD EXTRACTION — `unix_date`/`hour`/`minute`/`second`
    *    are wall-clock operations on NTZ, so no session-tz cast appears
    *    anywhere in the expression. The earlier `cast(TimestampType)`
    *    form was correct only under the harness's UTC session pin; a
    *    non-UTC session shifted event time by the zone offset, and the
    *    obvious cast-then-correct repair (`from_utc_timestamp` of the
    *    cast) is still off by 1h for wall times inside the session
    *    zone's DST hole (measured on Spark 4.1.2). Field extraction has
    *    no such edge: NTZ carries no zone, so there is nothing to shift.
    *  - instant-semantics TIMESTAMP → `unix_micros` directly.
    * An engine fronting external data must branch on what the file says,
    * not on what a previous file said — hard-coding any single flavor broke
    * six queries when the upstream generator switched from NANOS to MICROS.
    */
  private[graft] def tsMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType           => expr(s"$c div 1000")
      case TimestampNTZType   =>
        unix_date(col(c).cast(DateType)).cast("long") * lit(86400000000L) +
          (hour(col(c)) * lit(3600L) + minute(col(c)) * lit(60L)) * lit(1000000L) +
          (date_part(lit("SECOND"), col(c)) * lit(1000000L)).cast("long")
      case TimestampType      => unix_micros(col(c))
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for column $c: $other")
    }

  /** Max of an event-time column as a long, with a DESCRIPTIVE failure on
    * empty/all-null input: the streaming entries derive their drain
    * sentinel from this, and `max()` over zero rows is null — `getLong`
    * would throw a bare NullPointerException with no hint at the cause
    * (ADVICE r9). One-row bounded aggregate.
    */
  private def maxEventTime(df: DataFrame, c: Column, table: String): Long = {
    val row = df.agg(max(c)).head()
    if (row.isNullAt(0))
      throw new IllegalStateException(
        s"$table is empty (or its event time is all-null) - cannot derive " +
          "the streaming drain sentinel")
    row.getLong(0)
  }

  /** (min, max) of an event-time column as longs — one bounded aggregate;
    * same descriptive empty-input failure as [[maxEventTime]]. The span
    * (max − min) sizes the multi-batch-safe watermark delay below.
    */
  private[graft] def eventTimeSpan(df: DataFrame, c: Column, table: String): (Long, Long) = {
    val row = df.agg(min(c), max(c)).head()
    if (row.isNullAt(0) || row.isNullAt(1))
      throw new IllegalStateException(
        s"$table is empty (or its event time is all-null) - cannot derive " +
          "the streaming drain sentinel")
    (row.getLong(0), row.getLong(1))
  }

  /** Extra read options for the streaming entries' file sources — empty in
    * production; SentinelMultiBatchSpec sets `maxFilesPerTrigger=1` here to
    * prove the drain-sentinel pattern survives multi-batch processing
    * (VERDICT r10 #8). Package-private test knob, reset by the spec.
    */
  private[graft] var streamReadOptions: Map[String, String] = Map.empty

  /** Multi-batch-safe drain-sentinel write (VERDICT r10 #8): `data` is
    * written first, then the one-row `sentinel` frame is APPENDED and every
    * sentinel part-file's mtime is bumped strictly above all data files' —
    * Spark's file stream source processes files oldest-first (default
    * `latestFirst=false`), so the sentinel lands in the LAST micro-batch
    * even under `maxFilesPerTrigger=1`. Paired with a watermark delay that
    * covers the full data span (see the sentinel entries), NO interleaving
    * of the data files can drop a row: until the sentinel is processed the
    * watermark stays ≤ the earliest event time, so every row buffers; the
    * sentinel then advances it exactly as far as the old single-batch
    * pattern did, and the drain emits everything. This replaces the
    * single-batch ASSUMPTION the r9/r10 entries documented with an
    * arrival-order GUARANTEE.
    */
  private[graft] def writeDataThenSentinel(data: DataFrame, sentinel: DataFrame,
      dir: String): Unit = {
    rmDir(dir)
    data.write.mode("overwrite").parquet(dir)
    def parts = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val dataNames = parts.map(_.getName).toSet
    val dataMaxM = (0L +: parts.map(_.lastModified)).max
    sentinel.write.mode("append").parquet(dir)
    parts.filterNot(f => dataNames(f.getName)).foreach { f =>
      // one minute past the newest data file — far above fs mtime granularity
      if (!f.setLastModified(dataMaxM + 60000L))
        throw new IllegalStateException(
          s"cannot order sentinel file ${f.getName} after the data files")
    }
  }

  /** The events table with `ts` normalized to a session-tz TIMESTAMP at
    * micro precision, whatever physical flavor the file carries (see
    * [[tsMicros]]) — downstream event-time queries see one canonical type.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.withColumn("ts", timestamp_micros(tsMicros(raw)))
  }

  /** Typed row for the streaming-dedup entry (field names match the events
    * parquet columns it selects, so `as[EventRow]` binds by name).
    */
  private[graft] case class EventRow(event_id: Long, user_id: Long, event_type: String)

  /** Scratch dir for sink round-trips (colf/csv write-then-read queries). */
  private def work(name: String): String = s"/tmp/graft_work/$name"

  /** Recursive delete for scratch dirs — write queries that need fresh
    * state (checkpoints, versioned tables) start from nothing.
    */
  private def rmDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  /** Exact 2-dp decimal view of a money-ish double column. */
  private def dec2(c: Column): Column = c.cast("decimal(14,2)")

  /** Scale-adaptive write-width spread (r20 optimization, guide §2.5/§6):
    * a bench-scale table is one row group, so the scan — and therefore a
    * direct sink write — runs as ONE task however many cores exist
    * (measured: the q_colf_scan_full encode ran single-threaded behind a
    * 3-split scan). Round-robin repartition to max(cluster default
    * parallelism, bytes/256 MB) before the write: at bench scale that is
    * the core count (parallel encode); at 100 TB the bytes term takes
    * over and keeps output files in the guide's 128 MB–1 GB band. Only
    * narrow projected rows move.
    */
  /** Scale-adaptive spread for per-row-HEAVY pipelines fed by a
    * single-split scan (r20 optimization, guide §2.5 input skew): a
    * bench-scale table is one row group, so everything map-side downstream
    * of it runs as one task however many cores exist.
    *
    * Width and gate are both derived from the plan's SIZE STATISTIC
    * (r21, VERDICT r20 #1): the r20 fixed `p × 2` width oversubscribed
    * tiny corpora — the driver board read q_fuzzy_join_fastss at 2.85 s
    * on 32 cores vs 0.82 s on 8 (64 tasks over ~1500 customer rows; the
    * per-task dispatch swamped the fan-out win). Now ~8 KB of scan
    * bytes buy one task, capped at cluster default parallelism — small
    * corpora get a handful of tasks, big ones saturate the cluster —
    * and a scan big enough to split itself to ≥ p tasks
    * (bytes ≥ p × maxPartitionBytes) passes through UNTOUCHED, so no
    * extra exchange ever appears at scale. Stats-only: unlike the r20
    * `df.rdd.getNumPartitions` gate this never forces physical planning
    * (ADVICE r20 — under AQE, .rdd on an exchange-bearing input would
    * eagerly execute upstream stages; callers must pass bare scans, but
    * the stats gate is safe even if one day they don't). Hash-partitioned
    * on a caller-chosen high-cardinality key (round-robin would pay
    * sortBeforeRepartition inside the straggler scan task).
    */
  private def spreadScan(df: DataFrame, key: Column): DataFrame = {
    val session = df.sparkSession
    val p = session.sparkContext.defaultParallelism
    val bytes = org.apache.spark.sql.GraftSqlBridge.planSizeInBytes(df)
    val maxPart = org.apache.spark.sql.GraftSqlBridge.filesMaxPartitionBytes(session)
    if (bytes >= p * maxPart) df
    else df.repartition(math.min(p.toLong, bytes / (8L << 10) + 1).toInt, key)
  }

  private def spreadForWrite(df: DataFrame, key: Column): DataFrame = {
    val byBytes = org.apache.spark.sql.GraftSqlBridge.planSizeInBytes(df) /
      (256L << 20) + 1
    // HASH repartition on a high-cardinality key, not round-robin: the
    // keyless form pays sortBeforeRepartition — a local sort of the full
    // rows INSIDE the single straggler scan task, which ate the win
    // (measured: as-is ~2.0 s, round-robin ~1.7-3.0 s, hash ~1.2-1.4 s).
    val out = df.repartition(math.max(
      df.sparkSession.sparkContext.defaultParallelism.toLong, byBytes).toInt, key)
    // write-side plan evidence (r21, VERDICT r20 #4): the plan handed to
    // .write is otherwise invisible in plans/ dumps (no-op unless PlanDump
    // installed a sink)
    operators.PlanCapture.capture("write", out)
    out
  }

  /** Shared by q_funnel AND q_stream_funnel: batch and streaming funnels
    * must produce identical step counts.
    */
  private val FunnelOracleSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
      |SELECT CAST(1 AS INTEGER) AS step, 'signup' AS step_name,
      |  (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin

  /** Order-insensitive exact sum of a 2-dp double, surfaced as double:
    * bit-identical to `cast(sum(decimal(14,2)) AS double)` (GridSum12Spec)
    * with long arithmetic per row instead of a decimal(24,2) BigDecimal
    * buffer. [[operators.GridSum.exactSum]] has no row-count bound.
    */
  private def dsum2(c: Column): Column =
    operators.GridSum.exactSum(operators.GridSum.unscaled(dec2(c)), 2).cast("double")

  /** [[dsum2]] at the events table's 6-dp grid: exact sum of
    * `value.cast(decimal(18,6))`, surfaced as double.
    */
  private def dsum6(c: Column): Column =
    operators.GridSum.exactSum(
      operators.GridSum.unscaled(c.cast("decimal(18,6)")), 6).cast("double")

  /** Shared by q_video_containment, q_audio_containment and
    * q_text_containment: all three planted corpora follow the same
    * doc-id arithmetic (shorts at id % 3 = 0 carry pattern id % 10;
    * everything else is a compilation of (p, p+1 mod 10)), and all three
    * run through the ONE generic containment core.
    */
  /** Shared by q_sim_ann AND q_stream_ann (the streaming-maintained
    * index is bit-identical to the one-shot build): single-table
    * multiprobe LSH top-k recomputed independently — 6 inlined planes
    * sign the bucket for both sides, the query side fans out over the
    * Hamming-1 probe ring (bucket XOR {0, 1<<i}), candidates dedupe on
    * (query, nbr), exact cosine, per-query top-5 with nbr_id tie-break —
    * stage-for-stage the lshTopK pipeline.
    */
  private lazy val SimAnnOracleSql: String = {
    val planes = 6; val k = 5
    val hp = operators.Similarity.hyperplanes(planes, 64, 42L)
    def planeLit(p: Array[Double]) =
      p.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")
    val sig = (0 until planes).map { i =>
      s"(CASE WHEN list_dot_product(e, ${planeLit(hp(i))}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val masks = (0L +: (0 until planes).map(i => 1L << i)).mkString("[", ", ", "]")
    s"""WITH dv AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), cs AS (
       |  SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm, $sig AS bucket FROM dv
       |), qs AS (
       |  SELECT id, e, nrm, bucket FROM cs WHERE id < 8
       |), probes AS (
       |  SELECT q.id, q.e, q.nrm, xor(q.bucket, m.m) AS bucket
       |  FROM qs q, UNNEST($masks) m(m)
       |), cand AS (
       |  SELECT DISTINCT p.id AS query_id, c.id AS nbr_id
       |  FROM probes p JOIN cs c ON c.bucket = p.bucket AND c.id <> p.id
       |), scored AS (
       |  SELECT c.query_id, c.nbr_id,
       |    list_dot_product(q.e, n.e) / (q.nrm * n.nrm) AS cos
       |  FROM cand c JOIN qs q ON q.id = c.query_id JOIN cs n ON n.id = c.nbr_id
       |)
       |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank, cos FROM (
       |  SELECT query_id, nbr_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn
       |  FROM scored WHERE cos IS NOT NULL)
       |WHERE rn <= $k""".stripMargin
  }

  private val ContainmentOracleSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 10 AS p,
      |    (doc_id % 3 = 0) AS s FROM documents)
      |SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
      |  CAST(0 AS BIGINT) AS at_frame
      |FROM d a JOIN d b ON a.s AND b.s AND a.p = b.p AND a.doc_id <> b.doc_id
      |UNION ALL
      |SELECT a.doc_id, b.doc_id, CAST(0 AS BIGINT)
      |FROM d a JOIN d b ON a.s AND NOT b.s AND a.p = b.p
      |UNION ALL
      |SELECT a.doc_id, b.doc_id, CAST(3 AS BIGINT)
      |FROM d a JOIN d b ON a.s AND NOT b.s AND a.p = (b.doc_id + 1) % 10
      |UNION ALL
      |SELECT a.doc_id, b.doc_id, CAST(0 AS BIGINT)
      |FROM d a JOIN d b
      |  ON NOT a.s AND NOT b.s AND a.p = b.p AND a.doc_id <> b.doc_id""".stripMargin

  /** Group-level replay of the same doc-id arithmetic: groups are the
    * (pattern, short?) classes — every member of a class carries a
    * byte-identical frame-hash sequence, so the engine's distinct-
    * sequence groups coincide with them exactly; rep = min(doc_id),
    * member count = class size. Self edges (equal sequences) report the
    * group once; cross edges are short→compilation at the head (0) or
    * tail (3) alignment.
    */
  private val ContainmentGroupsOracleSql: String =
    """WITH d AS (SELECT doc_id, doc_id % 10 AS p,
      |    (doc_id % 3 = 0) AS s FROM documents),
      |g AS (SELECT p, s, min(doc_id) AS rep, count(*) AS members
      |      FROM d GROUP BY p, s)
      |SELECT rep AS inner_rep, rep AS outer_rep,
      |  CAST(0 AS BIGINT) AS at_frame, members AS inner_members,
      |  members AS outer_members
      |FROM g
      |UNION ALL
      |SELECT a.rep, b.rep, CAST(0 AS BIGINT), a.members, b.members
      |FROM g a JOIN g b ON a.s AND NOT b.s AND a.p = b.p
      |UNION ALL
      |SELECT a.rep, b.rep, CAST(3 AS BIGINT), a.members, b.members
      |FROM g a JOIN g b ON a.s AND NOT b.s AND a.p = (b.p + 1) % 10""".stripMargin

  // ------------------------------------------------------------- flagship

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------- relational core

  private def q1Agg(s: SparkSession, dir: String): DataFrame = {
    // Exact decimal sums over codegen'd longs (r20 optimization, guide §4:
    // the straight decimal(24,2)/(33,4)/(42,6) buffers cost a BigDecimal
    // per row, 0.94 s vs 0.64 s at sf0.1): UnscaledValue of the
    // long-backed casts, long multiplies for the exact products, one
    // GridSum.exactSum per metric; no row-count bound per group.
    import operators.GridSum.{exactSum, unscaled}
    val oneMinusDisc = expr("CAST(1.0 - l_discount AS DECIMAL(8,2))")
    val onePlusTax = expr("CAST(1.0 + l_tax AS DECIMAL(8,2))")
    val uQty = unscaled(dec2(col("l_quantity")))                  // scale 2
    val uPrice = unscaled(dec2(col("l_extendedprice")))           // scale 2
    // long multiplies: ANSI-loud once |price·(1−disc)| ≥ 9.2e14 (2⁶³/10⁴)
    // or |price·(1−disc)·(1+tax)| ≥ 9.2e12 (2⁶³/10⁶)
    val uDisc = uPrice * unscaled(oneMinusDisc)                   // scale 4
    val uCharge = uDisc * unscaled(onePlusTax)                    // scale 6
    val sumQty = exactSum(uQty, 2).cast("double")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumQty.as("sum_qty"),
        exactSum(uPrice, 2).cast("double").as("sum_base_price"),
        exactSum(uDisc, 4).cast("double").as("sum_disc_price"),
        exactSum(uCharge, 6).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"),
        (sumQty / count(lit(1))).as("avg_qty"),
      )
  }

  // --------------------------------------------------------------- queries

  /** Queries that are PERMANENTLY rows-only — can't be oracled, by design,
    * not by omission (VERDICT r10 #5). Every one surfaces xxhash64-derived
    * signatures (Spark's 64-bit xxHash with Spark's seed and struct/array
    * serialization) that DuckDB has no equivalent for, so no ANSI SQL can
    * reproduce the values. Each is instead pinned by a deterministic spec:
    * OperatorsSpec/DedupGroupSpec (minhash/simhash signature stability + known-duplicate
    * recall), Fingerprint in TextAnalysisSpec (rolling-hash determinism),
    * and the incremental-dedup convergence specs. Everything NOT in this
    * set must have an `oracleSql` entry — asserted by OracleCoverageSpec.
    */
  val permanentRowsOnly: Set[String] = Set(
    "q_fingerprint",        // xxhash64 rolling document fingerprints
    "q_dedup_minhash",      // minhash signatures = min over xxhash64(shingle, seed_i)
    "q_dedup_simhash",      // simhash bit-vote over xxhash64(token) bits
    "q_dedup_clusters_lsh", // cluster ids derived from minhash band hashes
    "q_dedup_incremental",  // state keyed by minhash band signatures
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation / join / window / sort (Catalyst built-ins over the
    // ---- COLF-extended engine; SURVEY.md §2.2 "free" categories)
    "q1_agg" -> ((s, dir) => q1Agg(s, dir)),

    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum2(col("c_acctbal")).as("total_bal"))),

    "q_join_large" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          // exact discounted revenue: the UNSCALED product at scale 4
          // (q1_agg's idiom), no per-row BigDecimal. The long multiply is
          // ANSI-loud once |price·(1−disc)| ≥ 9.2e14 (2⁶³/10⁴)
          operators.GridSum.exactSum(
            operators.GridSum.unscaled(dec2(col("l_extendedprice"))) *
              operators.GridSum.unscaled(expr("CAST(1.0 - l_discount AS DECIMAL(8,2))")),
            4).cast("double").as("revenue"))),

    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 45 && col("l_discount") >= 0.05)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))),

    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    "q_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    "q_window_funcs" -> ((s, dir) => {
      // Analytic-function breadth over one deterministic ordering
      // (o_orderkey is unique per customer): navigation (lag/lead),
      // frame-based (first_value), and distribution (ntile, cume_dist)
      // functions in a single window pass.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        first("o_totalprice").over(w).as("first_price"),
        row_number().over(w).cast("int").as("rn"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"))
    }),

    "q_distinct" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderpriority").distinct()),

    "q_set_ops" -> ((s, dir) =>
      t(s, dir, "customer").where(col("c_acctbal") < 0).select("c_custkey")
        .except(t(s, dir, "orders").where(col("o_totalprice") > 400000).select("o_custkey"))),

    "q_rollup" -> ((s, dir) => {
      // Dataset-API rollup() over post-join columns trips Spark 4.1's
      // ambiguous-self-join detection (even on a 2-table join); the SQL
      // analyzer path resolves fine, so express the rollup in SQL.
      t(s, dir, "customer").createOrReplaceTempView("graft_customer")
      t(s, dir, "nation").createOrReplaceTempView("graft_nation")
      t(s, dir, "region").createOrReplaceTempView("graft_region")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_cust
          |FROM graft_customer
          |JOIN graft_nation ON c_nationkey = n_nationkey
          |JOIN graft_region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)
    }),

    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))),

    "q_array_funcs" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        array_max(col("embedding")).as("max_v"),
        array_min(col("embedding")).as("min_v"),
        element_at(col("embedding"), 1).as("first_v"))),

    "q_custom_udaf" -> ((s, dir) => {
      // Typed Aggregator UDAF: exact integer-state moments — order-immune
      // merges, one deterministic double at the end. The oracle recomputes
      // the same moments from decimal sums.
      val moments = udaf(functions.ExactMoments, org.apache.spark.sql.Encoders.scalaDouble)
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(moments(col("c_acctbal")).as("m"))
        .select(col("c_mktsegment"), col("m._1").as("n"),
          col("m._2").as("sum_bal"), col("m._3").as("var_bal"))
    }),

    "q_cube" -> ((s, dir) => {
      // same SQL-analyzer route as q_rollup (Dataset-API cube after a join
      // trips the ambiguous-self-join check in Spark 4.1)
      t(s, dir, "customer").createOrReplaceTempView("graft_cube_customer")
      t(s, dir, "nation").createOrReplaceTempView("graft_cube_nation")
      s.sql(
        """SELECT n_name, c_mktsegment, count(*) AS n_cust,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
          |FROM graft_cube_customer
          |JOIN graft_cube_nation ON c_nationkey = n_nationkey
          |GROUP BY CUBE(n_name, c_mktsegment)""".stripMargin)
    }),

    "q_lateral_topk" -> ((s, dir) => {
      // Correlated LATERAL subquery (per-group top-n without a global
      // window): for each nation, its two richest customers. Catalyst
      // decorrelates this into a ranked join — the per-group LIMIT bounds
      // what each group contributes to the shuffle, the same property the
      // TopKByScore aggregate gives the ANN paths.
      t(s, dir, "nation").createOrReplaceTempView("graft_lat_nation")
      t(s, dir, "customer").createOrReplaceTempView("graft_lat_customer")
      s.sql("""SELECT n_name, t.c_custkey, t.c_acctbal
              |FROM graft_lat_nation,
              |LATERAL (SELECT c_custkey, c_acctbal FROM graft_lat_customer
              |         WHERE c_nationkey = n_nationkey
              |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin)
    }),

    "q_unpivot" -> ((s, dir) =>
      // wide→long reshape (Dataset.unpivot / SQL UNPIVOT): value columns
      // must share a type, so the int size column rides as double
      t(s, dir, "part").select("p_partkey", "p_size", "p_retailprice")
        .unpivot(
          Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"), col("p_retailprice")),
          "attr", "val")),

    "q_intersect" -> ((s, dir) =>
      t(s, dir, "orders").where(col("o_totalprice") > 300000).select("o_custkey")
        .intersect(t(s, dir, "customer").where(col("c_acctbal") > 0).select(col("c_custkey").as("o_custkey")))),

    "q_scalar_funcs" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 12).as("name_pfx"),
        concat(col("p_type"), lit("#"), col("p_brand")).as("type_brand"),
        (col("p_size") % 7).as("size_mod"),
        abs(col("p_retailprice") - 1000.0).as("price_diff"))),

    "q_date_funcs" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))),

    "q_events_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum6(col("value")).as("sum_value"))),

    "q_triangles" -> ((s, dir) => {
      // Exact triangle count on the supplier co-occurrence graph
      // (high-quantity lineitems sharing an order), via degree-ordered
      // orientation — O(m^1.5) wedges instead of a celebrity-node
      // quadratic blowup. The quantity filter keeps the graph
      // non-complete (the unfiltered co-occurrence graph is K_100 at
      // sf0.01, where every count is a binomial identity).
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
      val edges = li.join(b, "l_orderkey")
        .where(col("l_suppkey") < col("s2"))
      operators.Graph.triangleCount(edges, col("l_suppkey"), col("s2"))
    }),

    "q_clustering_coef" -> ((s, dir) => {
      // Per-node triangle counts + local clustering coefficient on the
      // co-occurrence graph; degree-1 nodes get NULL (0/0), never 0.0.
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
      val edges = li.join(b, "l_orderkey")
        .where(col("l_suppkey") < col("s2"))
      operators.Graph.clusteringCoefficient(edges, col("l_suppkey"), col("s2"))
    }),

    "q_bfs" -> ((s, dir) => {
      // BFS hop distances from supplier 1 over the co-occurrence graph —
      // iterative frontier expansion, terminating when the frontier
      // empties (the graph's eccentricity), not at a guessed depth.
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
      val edges = li.join(b, "l_orderkey")
        .where(col("l_suppkey") < col("s2"))
      operators.Graph.bfsDistances(edges, col("l_suppkey"), col("s2"),
        s.range(1, 2).toDF(), col("id"))
    }),

    "q_kcore" -> ((s, dir) => {
      // k-core (k=22) of the same co-occurrence graph — the iterative
      // peeling fixpoint (4 rounds at sf0.01): stripping a sub-k node
      // can drop its neighbors below k, so one filter pass is NOT the
      // answer (k=22 peels 11 nodes at sf0.01; a single pass stops at
      // 5). Delta peeling: degrees computed once, each round subtracts
      // removed nodes' incident edges from surviving neighbors' counts.
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
      val edges = li.join(b, "l_orderkey")
        .where(col("l_suppkey") < col("s2"))
      operators.Graph.kCore(edges, col("l_suppkey"), col("s2"), k = 22)
    }),

    "q_hopping_window" -> ((s, dir) =>
      // Sliding (hopping) windows: 1-hour windows every 15 minutes, so
      // each event lands in exactly 4 overlapping windows — Spark's
      // native window(ts, size, slide) explode. The oracle reconstructs
      // the same window set from the 15-minute bucket minus k·15min,
      // k = 0..3 (each such start covers the event because the event sits
      // within 45 minutes of its bucket start).
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum6(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_s"),
          col("event_type"), col("n"), col("sum_value"))),

    "q_rfm" -> ((s, dir) => {
      // RFM segmentation — the standard user-feature rollup: per user,
      // recency (days since last purchase, anchored at the corpus max so
      // the result is a pure function of the data), frequency, monetary;
      // quintile scores via explicit integer rank arithmetic
      // (1 + (rank−1)·5 div n) rather than ntile, whose tie placement is
      // engine-defined — rank ties broken by user_id make every score
      // exactly portable. The three global ranks are the distributed
      // exact row number (Packing.globalRowNumber: range exchange +
      // per-range offsets), NOT a single-partition Window sort — the
      // user table is "one row per user", which at 100 TB is still
      // billions of rows; RfmPlanSpec asserts the plan has no
      // single-partition Sort/Window over it.
      val ev = events(s, dir)
      val pur = ev.where(col("event_type") === "purchase")
      val anchor = pur.agg(max(unix_micros(col("ts"))).as("mx"))
      val base = pur.groupBy(col("user_id"))
        .agg(max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("frequency"),
          // exact 6-dp monetary total, result type and value identical
          // to sum(decimal(18,6)) (r21 sweep)
          operators.GridSum.exactSum(
            operators.GridSum.unscaled(col("value").cast("decimal(18,6)")),
            6).cast("decimal(28,6)").as("mon_d"))
        .crossJoin(broadcast(anchor))
        .select(col("user_id"),
          expr("(mx - last_us) div 86400000000").as("recency_days"),
          col("frequency"), col("mon_d"))
      // floor((rank−1)·5 / n) as a DOUBLE floor on both engines: the
      // operands are small exact integers, the one division is correctly
      // rounded identically, and floor has no tie semantics. n rides in
      // as a broadcast one-row aggregate (the `anchor` idiom), rank as
      // struct(key, user_id) — desc keys negate (recency_days is a
      // non-negative long here).
      val nTot = base.agg(count(lit(1)).as("n_users"))
      def score(in: DataFrame, order: Column, out: String): DataFrame =
        operators.Packing.globalRowNumber(in, struct(order, col("user_id")), "__rk")
          .withColumn(out, (lit(1) + floor((col("__rk").cast("double") - 1.0)
            * 5.0 / col("n_users"))).cast("int"))
          .drop("__rk")
      val s0 = base.crossJoin(broadcast(nTot))
      val s1 = score(s0, -col("recency_days"), "r_score")
      val s2 = score(s1, col("frequency"), "f_score")
      val s3 = score(s2, col("mon_d"), "m_score")
      s3
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("mon_d").cast("double").as("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
            "champion")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk_loyal")
            .when(col("r_score") >= 4 && col("f_score") <= 2, "new_or_light")
            .otherwise("mid").as("segment"))
    }),

    "q_backtest_snaive" -> ((s, dir) => {
      // Seasonal-naive forecast backtest: predict each hour's event count
      // per type with the SAME HOUR YESTERDAY (n(t−24h)), score with
      // MAE / mean-error bias. Gap-safe: the forecast joins on the exact
      // t−24h bucket (a lag window over sorted hours would silently skip
      // across gaps). All counts integer-exact; the two final divisions
      // are fixed-order on identical operands.
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val fc = hourly.select(
        (col("h") + expr("INTERVAL 24 HOURS")).as("h"),
        col("event_type"), col("n").as("n_pred"))
      hourly.join(fc, Seq("h", "event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_points"),
          sum(abs(col("n") - col("n_pred"))).as("abs_err"),
          sum(col("n") - col("n_pred")).as("err"))
        .select(col("event_type"), col("n_points"),
          col("abs_err").cast("long").as("abs_err"),
          (col("abs_err").cast("double") / col("n_points")).as("mae"),
          (col("err").cast("double") / col("n_points")).as("bias"))
    }),

    "q_ohlc_bars" -> ((s, dir) =>
      // Tick-stream downsampling: hourly OHLC bars per event type, open
      // and close tie-broken by event_id — one grouped aggregate, no
      // window, no sort (min_by/max_by over the (ts, event_id) struct).
      operators.Analytics.ohlcBars(events(s, dir),
        keys = Seq(col("event_type")),
        bar = date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss"),
        ts = col("ts"), tieBreak = col("event_id"), value = col("value"))),

    "q_global_order" -> ((s, dir) =>
      // Deterministic training-shuffle order: exact global rank of
      // md5(salt||id) via the distributed prefix sum — the
      // single-partition-window-free total order.
      operators.Sampling.globalShuffleOrder(
        t(s, dir, "documents").select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), col("pos"))),

    "q_sessionize" -> ((s, dir) =>
      operators.Sessionize.sessions(events(s, dir),
        col("user_id"), col("event_id"), col("ts"), col("value"), gapSeconds = 28800)),

    "q_stream_window" -> ((s, dir) => {
      // Structured Streaming parity: the same hourly windowed aggregation as
      // q_events_window, run as a stream (file source → watermark → window
      // agg → memory sink) drained with Trigger.AvailableNow. The oracle is
      // the BATCH SQL — streaming and batch must agree.
      import org.apache.spark.sql.streaming.Trigger
      val inDir = work("q_stream_window_in")
      events(s, dir).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir)
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum6(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("event_type"), col("n"), col("sum_value"))
      val qname = s"graft_stream_window_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname)
    }),

    "q_stream_sessionize" -> ((s, dir) => {
      // STREAMING sessionization via Spark's native session_window — the
      // incremental-state twin of the batch gaps-and-islands Sessionize
      // operator; drained on a finite input both must produce the same
      // sessions, so the oracle is the BATCH SQL (minus the session index,
      // which a merge-as-you-go session window never numbers). A derived
      // sentinel (newest event + 2 days, user −1, filtered back out) pushes
      // the final watermark past every real session so append mode emits
      // them all before AvailableNow drains. Boundary caveat: session_window
      // merges on gap < g where the batch form splits on gap > g — they
      // disagree only on a pair EXACTLY g apart (none exist in any shipped
      // testdata at micro precision; the tie shape is checked out-of-band,
      // and DataContract.check counts exactly-g pairs at Verify startup).
      // MULTI-BATCH SAFE since r11 (was a single-batch assumption): the
      // watermark delay covers the full event-time span, so until the
      // sentinel file — ordered LAST by writeDataThenSentinel's mtime bump
      // — is processed, the watermark stays ≤ the earliest event and no
      // interleaving of data files can drop a row; the sentinel sits the
      // same delay PAST the old (+2 days) drain point, so the final
      // watermark (and the drained output) is unchanged. Pinned under
      // maxFilesPerTrigger=1 by SentinelMultiBatchSpec.
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val inDir = work("q_stream_sessionize_in")
      val (minUs, maxUs) = eventTimeSpan(ev, unix_micros(col("ts")), "events")
      val delayUs = maxUs - minUs + 1000000L
      writeDataThenSentinel(ev,
        s.range(1).select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
          timestamp_micros(lit(maxUs + 2L * 86400L * 1000000L + delayUs)).as("ts"),
          lit(0.0).as("value")),
        inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .options(streamReadOptions).parquet(inDir)
      val agg = stream
        .withWatermark("ts", s"$delayUs microseconds")
        .groupBy(col("user_id"), session_window(col("ts"), "8 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"),
          dsum6(col("value")).as("sum_value"))
      val qname = s"graft_stream_sessionize_${System.nanoTime()}"
      val query = agg.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname).where(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"),
          col("sum_value"))
    }),

    "q_stream_dedup" -> ((s, dir) => {
      // STREAMING exact dedup (StreamingOps.firstPerKey): the events table
      // delivered TWICE — an at-least-once feed — must come out
      // exactly-once, so the oracle is simply the events table. Both
      // deliveries carry identical payloads per key, so "first seen" is
      // deterministic regardless of file/partition arrival order.
      import org.apache.spark.sql.streaming.Trigger
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
      val inDir = work("q_stream_dedup_in")
      ev.unionByName(ev).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir)
      implicit val enc: org.apache.spark.sql.Encoder[EventRow] =
        org.apache.spark.sql.Encoders.product[EventRow]
      implicit val keyEnc: org.apache.spark.sql.Encoder[Long] =
        org.apache.spark.sql.Encoders.scalaLong
      val dd = streaming.StreamingOps.firstPerKey(stream.as[EventRow], (r: EventRow) => r.event_id)
      val qname = s"graft_stream_dedup_${System.nanoTime()}"
      val query = dd.toDF().writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname)
    }),

    "q_json_extract" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    "q_skew_join" -> ((s, dir) => {
      // Salted join (operators.SkewJoin): results must be IDENTICAL to the
      // plain join — the oracle is the unsalted SQL join.
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      operators.SkewJoin.saltedInnerJoin(li, ord, col("l_orderkey"), col("o_orderkey"), factor = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    "q_interval_overlap" -> ((s, dir) => {
      // Interval×interval overlap join via shared bucketization (exactly
      // one emission per pair — no dedup shuffle, no nested loop).
      val a = t(s, dir, "orders").where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("a_id"), col("o_totalprice").as("a_lo"),
          (col("o_totalprice") + 30000).as("a_hi"))
      val b = t(s, dir, "orders").where(col("o_orderkey") % 100 === 50)
        .select(col("o_orderkey").as("b_id"), col("o_totalprice").as("b_lo"),
          (col("o_totalprice") + 30000).as("b_hi"))
      operators.RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        bucketWidth = 30000)
        .select("a_id", "b_id", "a_lo", "b_lo")
    }),

    "q_bucketed_join" -> ((s, dir) => {
      // Co-located join: both fact tables written bucketed (and
      // bucket-sorted) on the join key, so the sort-merge join reads
      // bucket i against bucket i with NO exchange — the shuffle that
      // dominates a 100-TB fact-fact join is paid once at write time and
      // amortized over every subsequent join. (BucketedJoinSpec asserts
      // the exchange-free plan, and that the sorted-bucket-scan flag also
      // elides the defensive per-side sorts; the merge hint keeps Spark
      // from broadcasting the small sf0.01 side, which would dodge the
      // very plan this query exists to exercise.)
      import org.apache.spark.sql.SaveMode
      val loc = work("q_bucketed_join")
      s.sql("DROP TABLE IF EXISTS graft_li_b")
      s.sql("DROP TABLE IF EXISTS graft_ord_b")
      // repartition(n, key) = the bucket hash (murmur3 pmod n), so each
      // bucket lands in ONE file — the layout Spark requires before it
      // trusts the written sort order and elides the merge-join sorts.
      t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.mode(SaveMode.Overwrite).option("path", s"$loc/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_li_b")
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).option("path", s"$loc/ord")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("graft_ord_b")
      s.table("graft_li_b").hint("merge")
        .join(s.table("graft_ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    "q_outer_join" -> ((s, dir) => {
      // Full outer: positive-balance customers vs their big-order rollup —
      // unmatched rows survive on BOTH sides (customers without big
      // orders; big-order custkeys whose customer row was filtered out).
      val cust = t(s, dir, "customer").where(col("c_acctbal") > 0)
        .select("c_custkey", "c_name")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_big"), dsum2(col("o_totalprice")).as("sum_big"))
      cust.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
        .select("c_custkey", "c_name", "o_custkey", "n_big", "sum_big")
    }),

    "q_asof_join" -> ((s, dir) => {
      // Point-in-time join: each event picks up the user's most recent
      // purchase at-or-before it (AsOfJoin union-window form — one keyed
      // shuffle, no range-join pair blowup). Times compare as integer
      // micros, derived type-adaptively from the observed `ts` flavor
      // (tsMicros); the oracle computes the same via DuckDB's epoch_us.
      val evRaw = t(s, dir, "events")
      val evs = evRaw
        .select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
      val purRaw = t(s, dir, "events")
      val purchases = purRaw
        .where(col("event_type") === "purchase")
        .select(col("user_id"), tsMicros(purRaw).as("p_us"), col("event_id").as("pe"))
        .groupBy("user_id", "p_us").agg(min("pe").as("purchase_id"))
      operators.AsOfJoin.asOfJoin(evs, purchases, Seq("user_id"), "t_us", "p_us", "left")
    }),

    "q_asof_tolerance" -> ((s, dir) => {
      // As-of with max staleness (pandas merge_asof tolerance): the match
      // is kept only when the purchase is within 2 hours before the
      // event — a stale enrichment is worse than none. Identical plan to
      // q_asof_join plus one map-side bound on the matched struct.
      val evRaw = t(s, dir, "events")
      val evs = evRaw
        .select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
      val purRaw = t(s, dir, "events")
      val purchases = purRaw
        .where(col("event_type") === "purchase")
        .select(col("user_id"), tsMicros(purRaw).as("p_us"), col("event_id").as("pe"))
        .groupBy("user_id", "p_us").agg(min("pe").as("purchase_id"))
      operators.AsOfJoin.asOfJoin(evs, purchases, Seq("user_id"), "t_us", "p_us",
        "left", tolerance = Some(7.2e9 /* 2 h in µs */))
    }),

    "q_stream_asof" -> ((s, dir) => {
      // STREAMING point-in-time join (StreamingOps.asOfJoinStream): the
      // same enrichment as q_asof_join, run as two file streams →
      // watermarks → stateful as-of join → memory sink, drained with
      // AvailableNow. Times compare at millisecond precision (the
      // watermark's granularity) on both engines. Sentinel rows one day
      // past the newest event push the final watermark over every real
      // left so the whole result finalizes before the stream drains; the
      // sentinels themselves are filtered back out. The oracle is DuckDB's
      // native ASOF LEFT JOIN over the same millisecond-truncated times.
      import org.apache.spark.sql.streaming.Trigger
      val evRaw = t(s, dir, "events")
      val evs = evRaw.select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
        .select(col("event_id"), col("user_id"),
          expr("timestamp_millis(t_us div 1000)").as("t_ts"))
      val purRaw = t(s, dir, "events")
      val pur = purRaw.where(col("event_type") === "purchase")
        .select(col("user_id"), tsMicros(purRaw).as("p_us"), col("event_id").as("pe"))
        .select(col("user_id"), expr("timestamp_millis(p_us div 1000)").as("p_ts"),
          col("pe"))
        .groupBy("user_id", "p_ts").agg(min("pe").as("purchase_id"))
      // Sentinel time is DERIVED (newest event + 1 day), not a literal: a
      // hard-coded "far future" is exactly the environment-drift trap the
      // ts-flavor breakage was — a regenerated dataset past the literal
      // would silently stop finalizing rows. One-row bounded aggregate.
      // Multi-batch safe since r11 (see q_stream_sessionize): both sides'
      // watermark delays cover the full event span, both sentinels are
      // mtime-ordered last in their directories, and both sit the delay
      // past the old drain point — final watermark unchanged.
      val (minMs, maxMs) = eventTimeSpan(evs, unix_millis(col("t_ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentinel = timestamp_millis(lit(maxMs + 86400000L + delayMs))
      val lIn = work("q_stream_asof_l")
      val rIn = work("q_stream_asof_r")
      writeDataThenSentinel(evs,
        s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          sentinel.as("t_ts")), lIn)
      writeDataThenSentinel(pur,
        s.range(1).select(lit(-1L).as("user_id"), sentinel.as("p_ts"),
          lit(-1L).as("purchase_id")), rIn)
      val lS = s.readStream.schema(s.read.parquet(lIn).schema)
        .options(streamReadOptions).parquet(lIn)
        .withWatermark("t_ts", s"$delayMs milliseconds")
      val rS = s.readStream.schema(s.read.parquet(rIn).schema)
        .options(streamReadOptions).parquet(rIn)
        .withWatermark("p_ts", s"$delayMs milliseconds")
      val joined = streaming.StreamingOps.asOfJoinStream(lS, rS, Seq("user_id"), "t_ts", "p_ts")
      val qname = s"graft_stream_asof_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname).where(col("event_id") >= 0)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("t_ts")).as("t_ms"), unix_millis(col("p_ts")).as("p_ms"),
          col("purchase_id"))
    }),

    "q_stream_interval_join" -> ((s, dir) => {
      // Spark's NATIVE watermarked stream-stream join
      // (StreamingSymmetricHashJoinExec) — the one streaming join the
      // as-of entry's custom stateful operator does NOT exercise: each
      // event inner-joins every purchase by the same user within the
      // following hour, both sides file streams with event-time
      // watermarks, drained with AvailableNow. Inner-join matches emit
      // the moment both sides have arrived — the watermark only GATES
      // STATE EVICTION — so no drain sentinel is needed for
      // completeness; the delay must only keep state alive across
      // micro-batches, and covering the full event span does exactly
      // that under any file interleaving (maxFilesPerTrigger included).
      // At production scale the same delay would be the business bound
      // (here 1 hour + slack) instead of the data span, and state decays
      // continuously. The oracle is the BATCH SQL join verbatim —
      // streaming and batch must produce the identical pair set.
      import org.apache.spark.sql.streaming.Trigger
      val evRaw = t(s, dir, "events")
      val evs = evRaw.select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
        .select(col("event_id"), col("user_id"),
          expr("timestamp_millis(t_us div 1000)").as("t_ts"))
      val purRaw = t(s, dir, "events")
      val pur = purRaw.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          tsMicros(purRaw).as("p_us"))
        .select(col("p_user"), col("purchase_id"),
          expr("timestamp_millis(p_us div 1000)").as("p_ts"))
      val (minMs, maxMs) = eventTimeSpan(evs, unix_millis(col("t_ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val lIn = work("q_stream_ij_l")
      val rIn = work("q_stream_ij_r")
      evs.write.mode("overwrite").parquet(lIn)
      pur.write.mode("overwrite").parquet(rIn)
      val lS = s.readStream.schema(s.read.parquet(lIn).schema)
        .options(streamReadOptions).parquet(lIn)
        .withWatermark("t_ts", s"$delayMs milliseconds")
      val rS = s.readStream.schema(s.read.parquet(rIn).schema)
        .options(streamReadOptions).parquet(rIn)
        .withWatermark("p_ts", s"$delayMs milliseconds")
      val joined = lS.join(rS,
        lS("user_id") === rS("p_user") &&
          rS("p_ts") >= lS("t_ts") &&
          rS("p_ts") <= lS("t_ts") + expr("INTERVAL 1 HOUR"))
      val qname = s"graft_stream_ij_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname).select(col("event_id"), col("user_id"),
        unix_millis(col("t_ts")).as("t_ms"), unix_millis(col("p_ts")).as("p_ms"),
        col("purchase_id"))
    }),

    "q_stream_interval_join_left" -> ((s, dir) => {
      // The LEFT OUTER variant of the native stream-stream join — the
      // case that DOES need the drain sentinel: an unmatched left row can
      // only emit (with nulls) once the watermark proves no matching
      // right row can still arrive, i.e. passes t_ts + 1 hour. The
      // sentinels (one per side, same derived time, mtime-ordered last)
      // push the final watermark one day past the newest event, and the
      // no-data-batch mechanism flushes the outer state before
      // AvailableNow terminates — the same machinery every sentinel
      // entry relies on, exercised here through Spark's symmetric hash
      // join state instead of an aggregation. Oracle: the batch LEFT
      // JOIN verbatim.
      import org.apache.spark.sql.streaming.Trigger
      val evRaw = t(s, dir, "events")
      val evs = evRaw.select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
        .select(col("event_id"), col("user_id"),
          expr("timestamp_millis(t_us div 1000)").as("t_ts"))
      val purRaw = t(s, dir, "events")
      val pur = purRaw.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          tsMicros(purRaw).as("p_us"))
        .select(col("p_user"), col("purchase_id"),
          expr("timestamp_millis(p_us div 1000)").as("p_ts"))
      val (minMs, maxMs) = eventTimeSpan(evs, unix_millis(col("t_ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentinel = timestamp_millis(lit(maxMs + 86400000L + delayMs))
      val lIn = work("q_stream_ijl_l")
      val rIn = work("q_stream_ijl_r")
      writeDataThenSentinel(evs,
        s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          sentinel.as("t_ts")), lIn)
      writeDataThenSentinel(pur,
        s.range(1).select(lit(-1L).as("p_user"), lit(-1L).as("purchase_id"),
          sentinel.as("p_ts")), rIn)
      val lS = s.readStream.schema(s.read.parquet(lIn).schema)
        .options(streamReadOptions).parquet(lIn)
        .withWatermark("t_ts", s"$delayMs milliseconds")
      val rS = s.readStream.schema(s.read.parquet(rIn).schema)
        .options(streamReadOptions).parquet(rIn)
        .withWatermark("p_ts", s"$delayMs milliseconds")
      val joined = lS.join(rS,
        lS("user_id") === rS("p_user") &&
          rS("p_ts") >= lS("t_ts") &&
          rS("p_ts") <= lS("t_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      val qname = s"graft_stream_ijl_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname).where(col("event_id") >= 0)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("t_ts")).as("t_ms"), unix_millis(col("p_ts")).as("p_ms"),
          col("purchase_id"))
    }),

    "q_stream_interval_join_full" -> ((s, dir) => {
      // FULL OUTER completes the stream-stream join-mode matrix: BOTH
      // sides' unmatched rows emit null-padded once the watermark clears
      // their window (a purchase outside every event's hour emits with a
      // null left). The two sentinels match EACH OTHER (same derived
      // time), so neither emits unmatched; real unmatched rows carry a
      // null on the opposite side, which the >= 0 filters must not drop —
      // hence the coalesce-to-0 guards. Oracle: the batch FULL JOIN.
      import org.apache.spark.sql.streaming.Trigger
      // LEFT side = NON-purchase events: a purchase trivially matches
      // itself as a left event (p ∈ [t, t+1h] at t = p), so with all
      // events on the left no right row is ever unmatched and the full
      // join degenerates to the left join. Excluding purchases makes
      // both outer paths fire (1,843 unmatched rights at sf0.01).
      val evRaw = t(s, dir, "events")
      val evs = evRaw.where(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), tsMicros(evRaw).as("t_us"))
        .select(col("event_id"), col("user_id"),
          expr("timestamp_millis(t_us div 1000)").as("t_ts"))
      val purRaw = t(s, dir, "events")
      val pur = purRaw.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          tsMicros(purRaw).as("p_us"))
        .select(col("p_user"), col("purchase_id"),
          expr("timestamp_millis(p_us div 1000)").as("p_ts"))
      val (minMs, maxMs) = eventTimeSpan(evs, unix_millis(col("t_ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentinel = timestamp_millis(lit(maxMs + 86400000L + delayMs))
      val lIn = work("q_stream_ijf_l")
      val rIn = work("q_stream_ijf_r")
      writeDataThenSentinel(evs,
        s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          sentinel.as("t_ts")), lIn)
      writeDataThenSentinel(pur,
        s.range(1).select(lit(-1L).as("p_user"), lit(-1L).as("purchase_id"),
          sentinel.as("p_ts")), rIn)
      val lS = s.readStream.schema(s.read.parquet(lIn).schema)
        .options(streamReadOptions).parquet(lIn)
        .withWatermark("t_ts", s"$delayMs milliseconds")
      val rS = s.readStream.schema(s.read.parquet(rIn).schema)
        .options(streamReadOptions).parquet(rIn)
        .withWatermark("p_ts", s"$delayMs milliseconds")
      val joined = lS.join(rS,
        lS("user_id") === rS("p_user") &&
          rS("p_ts") >= lS("t_ts") &&
          rS("p_ts") <= lS("t_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      val qname = s"graft_stream_ijf_${System.nanoTime()}"
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      s.table(qname)
        .where(coalesce(col("event_id"), lit(0L)) >= 0 &&
          coalesce(col("purchase_id"), lit(0L)) >= 0)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("t_ts")).as("t_ms"), unix_millis(col("p_ts")).as("p_ms"),
          col("purchase_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      // Point-in-interval join via bucketized equi-join (RangeJoin): each
      // customer balance finds the overlapping nation-derived bands. The
      // naive BETWEEN formulation would run as a nested-loop join; this
      // runs as a hash join on (bucket) + exact filter.
      val pts = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val bands = t(s, dir, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 400.0 - 1000.0).as("lo"))
        .withColumn("hi", col("lo") + 600.0)
      operators.RangeJoin.pointInInterval(pts, bands, "c_acctbal", "lo", "hi",
        bucketWidth = 400.0)
        .select("c_custkey", "c_acctbal", "n_nationkey", "lo", "hi")
    }),

    "q_fuzzy_join" -> ((s, dir) =>
      // Approximate string join (record linkage): customer-name pairs
      // within edit distance 1, via COMPLETE length-band blocking + a
      // threshold-bounded levenshtein — a hash equi-join on the bucket,
      // never an all-pairs nested loop. The oracle recomputes the same
      // pairs with DuckDB's levenshtein over an explicit pair join.
      operators.FuzzyJoin.selfJoin(t(s, dir, "customer"),
        col("c_custkey"), col("c_name"), maxDist = 1)),

    "q_langid_eval" -> ((s, dir) => {
      // Classifier evaluation against gold labels — the confusion matrix
      // + per-gold-class recall for the langId heuristic, the measurement
      // step a pipeline needs before trusting any filter built on the
      // prediction. One scan, one |classes|²-row aggregate.
      val pred = t(s, dir, "documents").select(col("lang").as("lang_gold"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      val m = pred.groupBy("lang_gold", "lang_pred").agg(count(lit(1)).as("n"))
      val tot = pred.groupBy("lang_gold").agg(count(lit(1)).as("n_gold"))
      m.join(tot, "lang_gold")
        .select(col("lang_gold"), col("lang_pred"), col("n"), col("n_gold"),
          (col("n").cast("double") / col("n_gold")).as("frac"))
    }),

    "q_entity_resolution" -> ((s, dir) => {
      // Entity resolution composed from the round's machinery, with the
      // STANDARD scale discipline: resolve DISTINCT surface forms, never
      // rows — the part corpus is 64 distinct names repeated up to
      // thousands of times, and running candidate generation on raw rows
      // is exactly the exact-dup flood the Dedup operators guard
      // against (a first attempt here did, and went quadratic at sf1).
      // exact-group first (one aggregate) → deletion-neighborhood
      // candidates over the distinct names (complete at distance 1) →
      // connected components over the tiny match graph → labels
      // broadcast back onto rows; sizes counted over PARTS. Component
      // label = min p_partkey of the cluster (group minima of minima).
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val names = parts.groupBy("p_name")
        .agg(min(col("p_partkey")).as("rep_id"))
      val pairs = operators.FuzzyJoin.selfJoinDeletions(
        names, col("rep_id"), col("p_name"), maxDist = 1)
      val comp = operators.Dedup.connectedComponents(
        pairs.select(col("id_a"), col("id_b")))
      // singleton names (no near-dup neighbor) keep their own rep label
      val labels = names
        .join(comp.withColumnRenamed("id", "rep_id"), Seq("rep_id"), "left")
        .select(col("p_name"),
          coalesce(col("component"), col("rep_id")).as("component"))
      val labeled = parts.join(broadcast(labels), "p_name")
      val sizes = labeled.groupBy("component").agg(count(lit(1)).as("n_members"))
      labeled.join(sizes, "component")
        .select(col("p_partkey"), col("component"), col("n_members"))
    }),

    "q_string_distances" -> ((s, dir) => {
      // The engine's full string-distance family side by side on the same
      // pairs: Damerau-Levenshtein (typo-class: transposition = 1) vs
      // Spark's builtin Levenshtein vs Jaro-Winkler, over adjacent names
      // and a transposed variant (swap chars 10/11 — DL counts 1 where
      // Levenshtein says 2). Map-only after one keyed self-join.
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val next = c.select((col("c_custkey") - 1).as("k2"), col("c_name").as("name_b"))
      // swap the LAST two digits — the leading digits are zeros, so a
      // swap there exchanges identical characters and discriminates
      // nothing ("...01" -> "...10" gives DL 1, Levenshtein 2)
      val swapped = concat(substring(col("c_name"), 1, 16),
        substring(col("c_name"), 18, 1), substring(col("c_name"), 17, 1))
      c.join(next, col("c_custkey") === col("k2"))
        .select(col("c_custkey"),
          graft.functions.DamerauLevenshteinFunctions
            .damerauLevenshtein(col("c_name"), col("name_b")).as("dl_next"),
          levenshtein(col("c_name"), col("name_b")).as("lev_next"),
          graft.functions.DamerauLevenshteinFunctions
            .damerauLevenshtein(col("c_name"), swapped).as("dl_swap"),
          levenshtein(col("c_name"), swapped).as("lev_swap"),
          graft.functions.JaroWinklerFunctions
            .jaroWinkler(col("c_name"), swapped).as("jw_swap"))
    }),

    "q_jw_similarity" -> ((s, dir) => {
      // The codegen'd JaroWinkler expression over three pair shapes per
      // row: adjacent-key names (high similarity, prefix boost + the
      // digit-transposition path), the name against its reversal (low
      // similarity, no boost — exercises the jaro<=0.7 branch), and the
      // name against its market segment (unrelated strings, different
      // lengths). Map-only after one keyed self-join; the oracle is
      // DuckDB's native jaro_winkler_similarity, to which the kernel is
      // bit-identical (270k-random-pair sweep, raw-bit compare).
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val next = c.select((col("c_custkey") - 1).as("k2"), col("c_name").as("name_b"))
      val jw = graft.functions.JaroWinklerFunctions.jaroWinkler _
      c.join(next, col("c_custkey") === col("k2"))
        .select(col("c_custkey"), col("c_name").as("name_a"), col("name_b"),
          jw(col("c_name"), col("name_b")).as("jw_next"),
          jw(col("c_name"), reverse(col("c_name"))).as("jw_rev"),
          jw(col("c_name"), col("c_mktsegment")).as("jw_seg"))
    }),

    "q_fuzzy_join_fastss" -> ((s, dir) =>
      // Same pairs as q_fuzzy_join via deletion-neighborhood (FastSS)
      // blocking — the scale path for THIS corpus shape: every c_name is
      // exactly 18 chars, so the length-band join above degenerates to
      // one all-pairs bucket (quadratic in the table), while the variant
      // equi-join's buckets are deletion co-neighborhoods (output-sized).
      // The oracle recomputes the pairs with DuckDB's levenshtein over
      // the explicit length-filtered pair join — an INDEPENDENT
      // formulation, so blocking incompleteness cannot cancel out.
      // spreadScan (r20): the deletion fan-out (×19 variants per name)
      // and the neighborhood join otherwise run behind the customer
      // table's single scan split — measured 2.6 s → 1.0 s at sf0.1
      operators.FuzzyJoin.selfJoinDeletions(
        spreadScan(t(s, dir, "customer"), col("c_custkey")),
        col("c_custkey"), col("c_name"), maxDist = 1)),

    "q_vec_dot_sql" -> ((s, dir) => {
      // The custom codegen DotProduct expression exposed to SQL users via
      // GraftFunctions/GraftExtensions (SparkSessionExtensions hook).
      GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_sql")
      s.sql("""SELECT vec_id,
              |  vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
              |          CAST(embedding AS ARRAY<DOUBLE>)) AS self_dot
              |FROM graft_emb_sql""".stripMargin)
    }),

    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").where(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")),

    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_totalprice") > 400000),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")),

    // ---- COLF format surface (SURVEY.md §2.1 O1–O9)
    "q_colf_write_roundtrip" -> ((s, dir) => {
      val out = work("q_colf_write_roundtrip")
      t(s, dir, "nation").write.format("colf").mode("overwrite").save(out)
      s.read.format("colf").load(out).select("n_nationkey", "n_name", "n_regionkey")
    }),

    // Built-in source/sink breadth beyond parquet+colf+csv: JSON-lines and
    // ORC roundtrips. Explicit read schemas — inference is a scan of its
    // own and non-deterministic on corner types; a 100-TB pipeline always
    // pins the schema.
    "q_json_roundtrip" -> ((s, dir) => {
      val out = work("q_json_roundtrip")
      t(s, dir, "nation").write.mode("overwrite").json(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").json(out)
    }),

    "q_orc_roundtrip" -> ((s, dir) => {
      val out = work("q_orc_roundtrip")
      t(s, dir, "supplier").write.mode("overwrite").orc(out)
      s.read.orc(out).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum2(col("s_acctbal")).as("total_bal"))
    }),

    // DPP-style runtime filtering: the broadcast dim's surviving join
    // keys re-prune colf FILES at execution (SupportsRuntimeFiltering;
    // plan+metric evidence in ColfStatsSpec — here the oracle pins the
    // joined results).
    "q_colf_runtime_prune" -> ((s, dir) => {
      val out = work("q_colf_runtime_prune")
      t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("int").as("l_orderkey"),
          col("l_quantity"), col("l_extendedprice"))
        .write.format("colf").option("sortBy", "l_orderkey").option("numFiles", 4)
        .mode("overwrite").save(out)
      val dim = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") < 3000)
        .select(col("o_orderkey").cast("int").as("o_orderkey"))
      s.read.format("colf").load(out)
        .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    // Multi-dimensional clustering: write orders z-ordered on
    // (o_custkey, o_totalprice), then probe a rectangle in that space —
    // the scan prunes files on BOTH dimensions (ZOrderSpec pins the
    // files-planned evidence; here the oracle pins the results).
    "q_colf_zorder" -> ((s, dir) => {
      val out = work("q_colf_zorder")
      val src = t(s, dir, "orders").select(
        col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_custkey").cast("int").as("o_custkey"),
        col("o_totalprice"))
      operators.ZOrder.cluster(src, Seq("o_custkey", "o_totalprice"),
        bits = 4, numPartitions = 8)
        .write.format("colf").mode("overwrite").save(out)
      s.read.format("colf").load(out)
        .where(col("o_custkey") >= 100 && col("o_custkey") < 400 &&
          col("o_totalprice") >= 50000 && col("o_totalprice") < 150000)
    }),

    "q_colf_project" -> ((s, dir) => {
      val out = work("q_colf_project")
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        .write.format("colf").mode("overwrite").save(out)
      // Column pruning reaches the COLF scan (SupportsPushDownRequiredColumns):
      // only these two blocks are decompressed.
      s.read.format("colf").load(out).select("c_custkey", "c_acctbal")
    }),

    "q_colf_scan_full" -> ((s, dir) => {
      val out = work("q_colf_scan_full")
      spreadForWrite(t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("int").as("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate_s")),
        col("l_orderkey"))
        .write.format("colf").mode("overwrite").save(out)
      s.read.format("colf").load(out)
    }),

    "q_colf_agg" -> ((s, dir) => {
      // Aggregation DIRECTLY over the colf source: the vectorized scan
      // prunes to 3 columns, ColumnarToRow feeds codegen'd hash aggregation
      // — the engine querying its own format, not just round-tripping it.
      val out = work("q_colf_agg")
      spreadForWrite(t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("int").as("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag")),
        col("l_orderkey"))
        .write.format("colf").mode("overwrite").save(out)
      s.read.format("colf").load(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    "q_colf_filter" -> ((s, dir) => {
      // Data skipping on a NATURALLY-written table: option("sortBy")
      // declares write-side clustering (DSv2 RequiresDistributionAndOrdering
      // — Spark plans the range-exchange + sort itself), so part files
      // carry disjoint o_orderkey ranges in their header min/max stats;
      // the filtered read then PRUNES most files at planning time
      // (SupportsPushDownFilters + ColfPrune) — the scan's I/O is
      // proportional to the selected key range, not the table.
      val out = work("q_colf_filter")
      t(s, dir, "orders")
        .select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority"))
        .write.format("colf").option("sortBy", "o_orderkey")
        .option("numFiles", 4) // small table: pin 4 range-disjoint files
        .mode("overwrite").save(out)
      s.read.format("colf").load(out)
        .where(col("o_orderkey") < 1500)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
    }),

    "q_colf_partitioned" -> ((s, dir) => {
      // Hive-layout partitioned table: write customers partitioned by
      // market segment (k=v subdirs, values not stored in the files),
      // then read back ONE segment — the filter prunes whole partition
      // directories with zero header I/O and the path value rejoins the
      // rows as a typed column.
      val out = work("q_colf_partitioned")
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
        .write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(out)
      s.read.format("colf").load(out)
        .where(col("c_mktsegment") === "BUILDING")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"))
    }),

    "q_colf_compact" -> ((s, dir) => {
      // Small-file residue (4 appends per partition) compacted through
      // the SQL procedure surface: `CALL colf.compact` rewrites per
      // partition directory (hive layout preserved), sort_by re-clusters
      // within partitions, and contents must come through untouched —
      // the oracle recomputes straight from the source parquet.
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_compact")
      rmDir(out)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
      (0 until 4).foreach { i =>
        cust.where(col("c_custkey") % 4 === i)
          .write.format("colf").option("partitionBy", "c_mktsegment")
          .mode("append").save(out)
      }
      s.sql(s"CALL colf_cat.compact('$out', sort_by => 'c_custkey')")
      s.read.format("colf").load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"),
          min("c_custkey").as("min_ck"), max("c_custkey").as("max_ck"))
    }),

    "q_colf_overwrite" -> ((s, dir) => {
      // SQL INSERT OVERWRITE with a static partition spec: exactly one
      // partition's files are replaced (file-granular, crash-safe
      // rename-first commit); every other partition must come through
      // byte-identical. The idempotent re-ingestion primitive — at 100 TB
      // "recompute one day/segment" must never rewrite the other 99%.
      val out = work("q_colf_overwrite")
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
        .write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(out)
      val tbl = "graft_colf_overwrite_t"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING colf OPTIONS (path '$out', partitionBy 'c_mktsegment')")
      try {
        t(s, dir, "customer").createOrReplaceTempView("graft_ow_src")
        s.sql(s"""INSERT OVERWRITE $tbl PARTITION (c_mktsegment = 'BUILDING')
                 |SELECT CAST(c_custkey + 100000 AS INT), c_acctbal * 2
                 |FROM graft_ow_src WHERE c_mktsegment = 'BUILDING'""".stripMargin)
      } finally s.sql(s"DROP TABLE $tbl")
      s.read.format("colf").load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"),
          min("c_custkey").as("min_ck"), max("c_custkey").as("max_ck"))
    }),

    "q_colf_merge" -> ((s, dir) => {
      // MERGE through the CLI surface (ColfTools.merge): a partitioned
      // customer table, updates restating ONE partition — even keys'
      // balances doubled (matched ⇒ update), odd keys re-keyed +200000
      // (not matched ⇒ insert). Only the BUILDING partition is
      // rewritten; the oracle recomputes the merge relationally.
      val out = work("q_colf_merge")
      val upd = work("q_colf_merge_upd")
      rmDir(out); rmDir(upd)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
      cust.write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(out)
      val bldg = cust.where(col("c_mktsegment") === "BUILDING")
      bldg.where(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .unionByName(bldg.where(col("c_custkey") % 2 === 1)
          .select((col("c_custkey") + 200000).cast("int").as("c_custkey"),
            col("c_acctbal"), col("c_mktsegment")))
        .write.mode("overwrite").parquet(upd)
      sources.colf.ColfTools.merge(s, out, upd, Seq("c_custkey"), "parquet")
      s.read.format("colf").load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"),
          min("c_custkey").as("min_ck"), max("c_custkey").as("max_ck"))
    }),

    "q_colf_merge_sql" -> ((s, dir) => {
      // Pure-SQL MERGE INTO through the row-level (copy-on-write) path:
      // updates double the balances of even BUILDING keys (matched) and
      // insert re-keyed odd BUILDING rows (not matched). Runtime group
      // filtering on _file rewrites only files holding matched rows; the
      // oracle recomputes the merge relationally.
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_merge_sql")
      rmDir(out)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
      cust.write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(out)
      val bldg = cust.where(col("c_mktsegment") === "BUILDING")
      bldg.where(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
        .unionByName(bldg.where(col("c_custkey") % 2 === 1)
          .select((col("c_custkey") + 300000).cast("int").as("c_custkey"),
            col("c_acctbal"), col("c_mktsegment")))
        .createOrReplaceTempView("graft_merge_sql_src")
      s.sql(
        s"""MERGE INTO colf_cat.`$out` t USING graft_merge_sql_src s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.read.format("colf").load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"),
          min("c_custkey").as("min_ck"), max("c_custkey").as("max_ck"))
    }),

    "q_colf_delete" -> ((s, dir) => {
      // SQL DELETE FROM at file granularity: the predicate is provably
      // constant per partition directory, so whole partitions vanish with
      // zero data reads and zero rewrites of surviving files.
      val out = work("q_colf_delete")
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
        .write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(out)
      val tbl = "graft_colf_delete_t"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl USING colf OPTIONS (path '$out', partitionBy 'c_mktsegment')")
      try s.sql(s"DELETE FROM $tbl WHERE c_mktsegment IN ('MACHINERY', 'FURNITURE')")
      finally s.sql(s"DROP TABLE $tbl")
      s.read.format("colf").load(out)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"))
    }),

    "q_colf_meta_agg" -> ((s, dir) => {
      // Metadata-only aggregation: COUNT(*)/COUNT(col)/MIN/MAX grouped by
      // the partition column are answered from file headers alone — the
      // plan carries no data-block reads at all (ColfMetaAggSpec proves it
      // by destroying the blocks; here the oracle pins the values). At
      // 100 TB this is the difference between a catalog lookup and a
      // full-table scan for the daily "how much data / what id range"
      // profile query.
      val out = work("q_colf_meta_agg")
      t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("int").as("l_orderkey"),
          col("l_quantity"), col("l_linestatus"), col("l_returnflag"))
        .write.format("colf").option("partitionBy", "l_returnflag")
        .option("maxRowsPerFile", "100000").mode("overwrite").save(out)
      s.read.format("colf").load(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), count(col("l_quantity")).as("n_qty"),
          min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_linestatus").as("min_mode"), max("l_linestatus").as("max_mode"))
    }),

    "q_colf_stream_sink" -> ((s, dir) => {
      // Structured Streaming INTO the colf format: a file-source stream
      // drained with AvailableNow through the DSv2 streaming sink (one
      // rename-first commit per epoch, epoch-scoped file names), then read
      // back through the batch reader. Oracle = the source table itself.
      import org.apache.spark.sql.streaming.Trigger
      val in = work("q_colf_stream_sink_in")
      val out = work("q_colf_stream_sink_out")
      val ckpt = work("q_colf_stream_sink_ckpt")
      rmDir(ckpt) // fresh checkpoint: reprocess from scratch
      rmDir(out)
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_name"), col("c_acctbal"))
        .write.mode("overwrite").parquet(in)
      val stream = s.readStream.schema(s.read.parquet(in).schema).parquet(in)
      val q = stream.writeStream.format("colf")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start(out)
      q.awaitTermination()
      s.read.format("colf").load(out)
    }),

    "q_colf_versioned" -> ((s, dir) => {
      // Snapshot versioning end-to-end: v1 = even doc ids (manifest
      // created), v2 = an OVERWRITE with ids divisible by 3 — old files
      // retained, new manifest appended. The query reads BOTH snapshots
      // (versionAsOf + latest) and the oracle recomputes each from the
      // source parquet, value-checking that time travel returns exactly
      // the overwritten-away rows.
      val out = work("q_colf_versioned")
      rmDir(out)
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"), col("lang"))
      docs.where(col("doc_id") % 2 === 0).write.format("colf")
        .option("manifest", "true").mode("append").save(out)
      docs.where(col("doc_id") % 3 === 0).write.format("colf")
        .mode("overwrite").save(out)
      val v1 = s.read.format("colf").option("versionAsOf", 1).load(out)
        .withColumn("snap", lit("v1"))
      val v2 = s.read.format("colf").load(out).withColumn("snap", lit("v2"))
      v1.unionByName(v2)
    }),

    "q_colf_timetravel" -> ((s, dir) => {
      // PURE-SQL time travel via the path catalog: v1 = even doc ids,
      // v2 = OVERWRITE with div-3 ids. The query never touches the Scala
      // option surface — `VERSION AS OF 1` and a far-future `TIMESTAMP
      // AS OF` resolve through ColfCatalog.loadTable, and the oracle
      // recomputes both snapshots from the source parquet.
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_timetravel")
      rmDir(out)
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"), col("lang"))
      docs.where(col("doc_id") % 2 === 0).write.format("colf")
        .option("manifest", "true").mode("append").save(out)
      docs.where(col("doc_id") % 3 === 0).write.format("colf")
        .mode("overwrite").save(out)
      s.sql(
        s"""SELECT doc_id, source, lang, 'v1' AS snap
           |FROM colf_cat.`$out` VERSION AS OF 1
           |UNION ALL
           |SELECT doc_id, source, lang, 'latest' AS snap
           |FROM colf_cat.`$out` TIMESTAMP AS OF '2099-01-01'""".stripMargin)
    }),

    "q_colf_ddl" -> ((s, dir) => {
      // Catalog DDL end-to-end, metadata-only schema evolution: CREATE
      // TABLE declares an empty partitioned table in its own manifest,
      // INSERT fills it, ALTER TABLE ADD COLUMN makes a column visible
      // with zero data reads (old files read null), a second INSERT
      // carries values, DROP COLUMN projects one away (bytes untouched,
      // recoverable via VERSION AS OF). The oracle recomputes the final
      // projection relationally from the source parquet.
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_ddl")
      rmDir(out)
      s.sql(
        s"""CREATE TABLE colf_cat.`$out`
           |(c_custkey INT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING)
           |PARTITIONED BY (c_mktsegment)""".stripMargin)
      t(s, dir, "customer").createOrReplaceTempView("graft_ddl_src")
      s.sql(
        s"""INSERT INTO colf_cat.`$out`
           |SELECT CAST(c_custkey AS INT), c_name, c_acctbal, c_mktsegment
           |FROM graft_ddl_src WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE colf_cat.`$out` ADD COLUMN c_nationkey INT")
      s.sql(
        s"""INSERT INTO colf_cat.`$out`
           |SELECT CAST(c_custkey AS INT), c_name, c_acctbal, c_mktsegment,
           |  CAST(c_nationkey AS INT)
           |FROM graft_ddl_src WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql(s"ALTER TABLE colf_cat.`$out` DROP COLUMN c_name")
      // RENAME is metadata-only column mapping: files keep storing
      // c_nationkey (physical); the logical surface becomes nation_id
      s.sql(s"ALTER TABLE colf_cat.`$out` RENAME COLUMN c_nationkey TO nation_id")
      s.sql(s"SELECT c_custkey, c_acctbal, c_mktsegment, nation_id FROM colf_cat.`$out`")
    }),

    "q_colf_dv" -> ((s, dir) => {
      // Merge-on-read row-level DML (deletion vectors): a DELETE and an
      // UPDATE against a multi-file table record position-delete files in
      // the manifest — NO data file is rewritten (ColfDeleteVectorSpec
      // asserts byte/mtime identity; here the oracle pins the visible
      // rows) — and the pre-DML snapshot stays exactly readable.
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_dv")
      rmDir(out)
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"))
        .write.format("colf").option("manifest", "true")
        .option("maxRowsPerFile", "400").mode("append").save(out)   // v1, multi-file
      s.conf.set("spark.colf.dml.mode", "merge-on-read")
      try {
        s.sql(s"DELETE FROM colf_cat.`$out` WHERE c_custkey % 10 = 3")          // v2: DV only
        s.sql(s"UPDATE colf_cat.`$out` SET c_acctbal = c_acctbal * 2 " +
          s"WHERE c_custkey % 10 = 4")                                          // v3: DV + insert
      } finally s.conf.unset("spark.colf.dml.mode")
      val v1 = s.read.format("colf").option("versionAsOf", 1).load(out)
        .withColumn("snap", lit("v1"))
      val cur = s.read.format("colf").load(out).withColumn("snap", lit("cur"))
      v1.unionByName(cur)
    }),

    "q_colf_spj" -> ((s, dir) => {
      // Storage-partitioned join: two colf tables hive-partitioned on
      // c_mktsegment, joined ON the partition column under v2 bucketing
      // with preservePartitioning — ZERO shuffles on either side
      // (ColfSpjSpec asserts the plan; here the oracle pins the values).
      // Confs are scoped: the join materializes inside, then they reset.
      val a = work("q_colf_spj_a")
      val b = work("q_colf_spj_b")
      val outP = work("q_colf_spj_out")
      rmDir(a); rmDir(b); rmDir(outP)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
      cust.write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(a)
      cust.where(col("c_custkey") % 2 === 0)
        .write.format("colf").option("partitionBy", "c_mktsegment")
        .mode("overwrite").save(b)
      val keys = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val old = keys.map { case (k, _) => k -> s.conf.getOption(k) }
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val l = s.read.format("colf").option("preservePartitioning", "true").load(a)
          .select(col("c_mktsegment"), col("c_acctbal").as("bal_a"))
        val r = s.read.format("colf").option("preservePartitioning", "true").load(b)
          .select(col("c_mktsegment"), col("c_acctbal").as("bal_b"))
        l.join(r, Seq("c_mktsegment"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            dsum2(col("bal_a") + col("bal_b")).as("sum_bal"))
          .write.mode("overwrite").parquet(outP)
      } finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      s.read.parquet(outP)
    }),

    "q_colf_cdf" -> ((s, dir) => {
      // Streaming change feed: the version history of q_colf_dv's table
      // (append → DV delete → DV update) drained as a stream of tagged
      // row changes — inserts AND retractions, offsets = manifest
      // versions. The oracle recomputes every (change, version) row
      // relationally.
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_colf_cdf")
      val sink = work("q_colf_cdf_sink")
      val ckpt = work("q_colf_cdf_ckpt")
      rmDir(out); rmDir(sink); rmDir(ckpt)
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"))
        .write.format("colf").option("manifest", "true")
        .option("maxRowsPerFile", "400").mode("append").save(out)   // v1
      s.conf.set("spark.colf.dml.mode", "merge-on-read")
      try {
        s.sql(s"DELETE FROM colf_cat.`$out` WHERE c_custkey % 10 = 3")          // v2
        s.sql(s"UPDATE colf_cat.`$out` SET c_acctbal = c_acctbal * 2 " +
          s"WHERE c_custkey % 10 = 4")                                          // v3
      } finally s.conf.unset("spark.colf.dml.mode")
      val q = s.readStream.format("colf").option("readChangeFeed", "true").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(sink)
    }),

    "q_incremental_agg" -> ((s, dir) => {
      // Incremental view maintenance over the CDC surface: a versioned
      // table (append → DV delete → DV update), a grouped aggregate
      // computed at v1, then MAINTAINED from the row-level diff instead
      // of re-aggregated — O(changed rows) refresh. The oracle
      // recomputes the aggregate from the FINAL state; the maintained
      // result must equal it bit-for-bit (decimal sums end to end).
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val out = work("q_incremental_agg")
      rmDir(out)
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"))
        .write.format("colf").option("manifest", "true")
        .option("maxRowsPerFile", "400").mode("append").save(out)   // v1
      s.conf.set("spark.colf.dml.mode", "merge-on-read")
      try {
        s.sql(s"DELETE FROM colf_cat.`$out` WHERE c_custkey % 10 = 3")          // v2
        s.sql(s"UPDATE colf_cat.`$out` SET c_acctbal = c_acctbal * 2 " +
          s"WHERE c_custkey % 10 = 4")                                          // v3
      } finally s.conf.unset("spark.colf.dml.mode")
      val base = s.read.format("colf").option("versionAsOf", 1).load(out)
      val changes = sources.colf.ColfMaintenance.diffVersions(s, out, from = 1)
      operators.Incremental.maintainSumCount(base, changes, col("change"),
        col("c_custkey") % 10, col("c_acctbal"))
        .select(col("grp"), col("n"), col("sum_val").as("sum_bal"))
    }),

    "q_stream_incremental_agg" -> ((s, dir) => {
      // STREAMING IVM: the same versioned-DML scenario as
      // q_incremental_agg, but the base snapshot (as synthetic `added`
      // rows) and the CDC diff are streamed through a Complete-mode
      // maintained aggregate — the final state must equal the batch
      // recompute (same oracle SQL). Two-batch feed: the parquet dir gets
      // base rows and diff rows as separate files, consumed with
      // maxFilesPerTrigger=1 so maintenance provably folds ACROSS
      // microbatches rather than in one big fold.
      import org.apache.spark.sql.streaming.Trigger
      s.conf.set("spark.sql.catalog.colf_cat",
        classOf[sources.colf.ColfCatalog].getName)
      val tbl = work("q_stream_incr_tbl")
      rmDir(tbl)
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"), col("c_acctbal"))
        .write.format("colf").option("manifest", "true")
        .option("maxRowsPerFile", "400").mode("append").save(tbl)   // v1
      s.conf.set("spark.colf.dml.mode", "merge-on-read")
      try {
        s.sql(s"DELETE FROM colf_cat.`$tbl` WHERE c_custkey % 10 = 3")
        s.sql(s"UPDATE colf_cat.`$tbl` SET c_acctbal = c_acctbal * 2 " +
          s"WHERE c_custkey % 10 = 4")
      } finally s.conf.unset("spark.colf.dml.mode")
      val feedDir = work("q_stream_incr_feed")
      rmDir(feedDir)
      s.read.format("colf").option("versionAsOf", 1).load(tbl)
        .select(col("c_custkey"), col("c_acctbal"), lit("added").as("change"))
        .coalesce(1).write.mode("overwrite").parquet(feedDir)
      sources.colf.ColfMaintenance.diffVersions(s, tbl, from = 1)
        .select(col("c_custkey"), col("c_acctbal"), col("change"))
        .coalesce(1).write.mode("append").parquet(feedDir)
      val stream = s.readStream.schema(s.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
      val res = streaming.StreamingOps.maintainSumCountStream(stream,
        col("change"), col("c_custkey") % 10, col("c_acctbal"))
      val qname = s"graft_stream_incr_${System.nanoTime()}"
      res.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table(qname).where(col("n") > 0)
        .select(col("grp"), col("n"),
          col("s").cast("decimal(26,2)").cast("double").as("sum_bal"))
    }),

    "q_colf_version_diff" -> ((s, dir) => {
      // Snapshot diff: v1 = even ids, v2 = OVERWRITE with div-3 ids.
      // diffVersions(1) must tag exactly the odd div-3 rows `added` and
      // the even non-div-3 rows `removed`; the oracle recomputes both
      // sets from the source parquet.
      val out = work("q_colf_version_diff")
      rmDir(out)
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"))
      docs.where(col("doc_id") % 2 === 0).write.format("colf")
        .option("manifest", "true").mode("append").save(out)
      docs.where(col("doc_id") % 3 === 0).write.format("colf")
        .mode("overwrite").save(out)
      sources.colf.ColfMaintenance.diffVersions(s, out, from = 1)
    }),

    "q_colf_changes" -> ((s, dir) => {
      // Incremental recompute primitive: v1 = even doc ids, an APPEND
      // adds the div-3 ids as v2; changesSinceVersion=1 must read
      // EXACTLY the appended files — the "process what arrived since my
      // last run" pattern without a streaming checkpoint. Oracle = the
      // appended rows recomputed from the source parquet.
      val out = work("q_colf_changes")
      rmDir(out)
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("int").as("doc_id"), col("source"), col("lang"))
      docs.where(col("doc_id") % 2 === 0).write.format("colf")
        .option("manifest", "true").mode("append").save(out)
      docs.where(col("doc_id") % 3 === 0).write.format("colf")
        .mode("append").save(out)
      s.read.format("colf").option("changesSinceVersion", 1).load(out)
    }),

    "q_colf_stream_source" -> ((s, dir) => {
      // Structured Streaming FROM the colf format (MICRO_BATCH_READ): an
      // aggregation over the streamed directory, drained with AvailableNow
      // into a complete-mode memory sink. Oracle = the same aggregation in
      // batch SQL — streaming and batch must agree.
      import org.apache.spark.sql.streaming.Trigger
      val in = work("q_colf_stream_source_in")
      t(s, dir, "customer")
        .select(col("c_custkey").cast("int").as("c_custkey"),
          col("c_mktsegment"), col("c_acctbal"))
        .write.format("colf").mode("overwrite").save(in)
      val agg = s.readStream.format("colf").load(in)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("sum_bal"))
      val qname = s"graft_colf_stream_src_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qname)
    }),

    "q_csv_write_roundtrip" -> ((s, dir) => {
      val out = work("q_csv_write_roundtrip")
      t(s, dir, "nation").write.option("header", "true").mode("overwrite").csv(out)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT").csv(out)
    }),

    "q_csv_scan" -> ((s, dir) => {
      // Reference O1: CSV loaded with every cell as a string.
      val out = work("q_csv_scan")
      t(s, dir, "nation").write.option("header", "true").mode("overwrite").csv(out)
      s.read.option("header", "true").csv(out)
    }),

    "q_infer_schema" -> ((s, dir) => {
      // Reference O2: COLF type inference (int32 ≺ float64 ≺ utf8,
      // blank ⇒ nullable) over a raw-string CSV load.
      val out = work("q_infer_schema")
      t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.option("header", "true").mode("overwrite").csv(out)
      val raw = s.read.option("header", "true").csv(out)
      val fields = ColfInference.inferFields(raw)
      import s.implicits._
      fields.zipWithIndex
        .map { case (f, i) => (i, f.name, f.tpe.name, f.nullable) }
        .toDF("ordinal", "col_name", "colf_type", "nullable")
    }),

    "q_header_schema" -> ((s, dir) => {
      // Reference O5: header/metadata parse of an on-disk .colf file.
      val out = work("q_header_schema")
      t(s, dir, "nation").coalesce(1).write.format("colf").mode("overwrite").save(out)
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).head
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(part))
      val header = try ColfCodec.readHeader(in) finally in.close()
      import s.implicits._
      header.schema.fields.zipWithIndex
        .map { case (f, i) => (i, f.name, f.tpe.name, f.nullable, header.schema.numRows.toInt) }
        .toDF("ordinal", "col_name", "colf_type", "nullable", "num_rows")
    }),

    // ---- training-data pipeline: dedup
    "q_upsert" -> ((s, dir) => {
      // MERGE semantics as one shuffle (union + min_by winner): every
      // 10th customer's balance is restated, every 100th appears again
      // under a new key as an insert; untouched rows pass through
      // byte-identical.
      val target = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val updates = target.where(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" (updated)")).as("c_name"),
          (col("c_acctbal") + 1000.0).as("c_acctbal"))
        .unionByName(target.where(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
            lit(0.0).as("c_acctbal")))
      operators.Upsert(target, updates, Seq("c_custkey"))
    }),

    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), substring(col("text"), 1, 40), col("doc_id"))),

    "q_dedup_normalized" -> ((s, dir) => {
      // Exact dedup over the CCNet-style canonical form: planted casing /
      // punctuation / whitespace variants of the corpus's duplicate docs
      // collapse back into one group; raw exact dedup would miss them
      // all. Normalization is map-side codegen'd built-ins — the dedup
      // shuffle itself is unchanged (one groupBy on the normalized key).
      val docs = t(s, dir, "documents")
      val planted = docs.withColumn("text2",
        when(col("doc_id") % 3 === 0, upper(col("text")))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" !!!  ")))
          .otherwise(col("text")))
      planted
        .select(col("doc_id"),
          operators.TextAnalysis.normalizeForDedup(substring(col("text2"), 1, 40))
            .as("norm"))
        .groupBy("norm")
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_id"))
    }),

    "q_dedup_keep_first" -> ((s, dir) =>
      Dedup.exactKeepFirst(t(s, dir, "documents"), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source")),

    "q_dedup_report" -> ((s, dir) => {
      // curation impact report: per source, how many docs (and how much
      // text) exact text-dedup removes — the number a data owner actually
      // reviews before signing off a dedup pass. Composes exactKeepFirst
      // (min-id winner per text) with one grouped count.
      val docs = t(s, dir, "documents")
      val kept = Dedup.exactKeepFirst(docs, Seq("text"), "doc_id")
        .select(col("doc_id"), lit(1).as("keep"))
      docs.join(kept, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep").isNull, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("keep").isNull, col("n_chars")).otherwise(0L)).as("chars_dropped"))
    }),

    "q_span_dedup" -> ((s, dir) => {
      // Exact substring (duplicate n-gram span) removal, Lee et al. 2021:
      // a 10-token boilerplate tail planted on every 4th doc generates
      // cross-document duplicate 8-grams; every occurrence but the
      // globally first is erased IN PLACE while each doc's unique text
      // survives. Only (id, pos, hash) rows shuffle — never text.
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val planted = docs.withColumn("text2",
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" graft span alpha beta gamma delta epsilon zeta eta theta")))
          .otherwise(col("text")))
      Dedup.removeDuplicateSpans(planted, col("doc_id"), col("text2"), n = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), col("doc_id"), col("text"),
        Dedup.MinHashParams(jaccardThreshold = 0.4))),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), col("doc_id"), col("text"), maxHamming = 3)),

    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.blockedTokenJaccard(t(s, dir, "documents"), col("doc_id"), col("text"),
        col("source"), threshold = 0.5)),

    // Embedding-cosine near-dup: exact all-pairs baseline and the
    // banded-hyperplane LSH scale path — BOTH oracle-checked bit-for-bit
    // since r10: the band keys are deterministic given the seeded planes,
    // so DuckDB recomputes candidate generation independently from plane
    // literals inlined in the SQL (the q_dedup_semantic precedent,
    // extended to banding). "Probabilistic recall" describes the
    // pair-vs-θ collision law, not run-to-run nondeterminism.
    "q_dedup_cosine" -> ((s, dir) =>
      Dedup.cosineNearDups(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.35)),

    "q_dedup_cosine_lsh" -> ((s, dir) =>
      Dedup.cosineNearDupsLSH(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.35)),

    "q_dedup_semantic" -> ((s, dir) =>
      // SemDeDup: coarse hyperplane buckets → within-bucket exact cosine
      // pairs → connected components → keep the min id per component.
      // coarseBits = 4 exercises REAL bucketing and stays oracle-checkable:
      // the planes are deterministic, rendered as literals in the oracle
      // SQL, so DuckDB independently recomputes bucket assignment, the
      // within-bucket pair set, and the components.
      Dedup.semanticDedup(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        threshold = 0.35, coarseBits = 4)),

    "q_contamination" -> ((s, dir) => {
      // Decontamination: which corpus docs verbatim-duplicate an "eval
      // set"? The eval set here is every 20th document re-keyed into its
      // own id space — each of its texts must be found at exactly its
      // corpus source.
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("eval_id"), col("text"))
      Dedup.contamination(docs, col("doc_id"), col("text"),
        evalSet, col("eval_id"), col("text"))
    }),

    "q_ngram_contamination" -> ((s, dir) => {
      // N-gram decontamination: eval set = every 20th doc's text; any
      // corpus doc sharing ≥1 distinct 5-gram is flagged with the shared
      // count (catches partial/quoted leaks, not just verbatim copies).
      val docs = t(s, dir, "documents")
      val evalSet = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("eval_id"), col("text"))
      Dedup.ngramContamination(docs, col("doc_id"), col("text"),
        evalSet, col("eval_id"), col("text"), n = 5)
    }),

    "q_sample_split" -> ((s, dir) =>
      // Deterministic 80/10/10 split: membership is a pure function of
      // (doc_id, salt) via md5 hex buckets — reproducible by any engine,
      // proven by the DuckDB oracle recomputing the identical assignment.
      operators.Sampling.assignSplits(t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),

    "q_stratified_sample" -> ((s, dir) =>
      // Per-stratum deterministic downsampling (keep 25% of src0, 100% of
      // src1, 50% of everything else) — membership is a pure function of
      // (doc_id, salt), so the DuckDB oracle recomputes the identical
      // selection from the same md5 buckets.
      operators.Sampling.stratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        Map("src0" -> 0.25, "src1" -> 1.0), defaultFraction = 0.5)),

    "q_per_source_cap" -> ((s, dir) =>
      // Curation cap: at most 12 docs per source, chosen deterministically
      // by md5 rank (not arrival order) — "cap the boilerplate-heavy
      // domain" without a partitioning-dependent result. WindowGroupLimit
      // keeps the shuffle bounded at ~n rows per group per map task.
      operators.Sampling.capPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), n = 12)),

    "q_dedup_clusters" -> ((s, dir) => {
      // Pairwise near-dups → per-doc canonical component (connected
      // components). Edges are the EXACT cosine pairs so the whole chain
      // stays oracle-checkable (DuckDB recursive CTE computes the same
      // components).
      val emb = t(s, dir, "embeddings")
      val pairs = Dedup.cosineNearDups(emb, col("vec_id"), col("embedding"), threshold = 0.35)
      Dedup.assignClusters(emb, col("vec_id"), pairs)
    }),

    "q_dedup_image" -> ((s, dir) => {
      // Perceptual-hash image dedup END TO END on planted PNGs: one
      // deterministic synthetic image per document (base pattern =
      // doc_id mod 10; each variant flips ≤3 controlled dHash bits;
      // byte-level noise defeats exact-dup shortcuts), then real PNG
      // decode → integer dHash → pigeonhole chunk blocking → connected
      // components (Multimodal.dHash64 + Dedup.hammingClusters). Ground
      // truth is closed-form — clusters ARE the pattern groups
      // (MultimodalSpec pins the cross-pattern Hamming margin) — so the
      // oracle replays it without decoding an image.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedImageTable(ids, patterns = 10)
      val hashes = operators.Multimodal.imageHashes(media)
      Dedup.hammingClusters(hashes, col("doc_id"), col("dhash"), maxHamming = 3)
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    "q_dedup_video" -> ((s, dir) => {
      // Perceptual-hash VIDEO dedup END TO END on planted MJPEG/AVI
      // clips (VERDICT r14 #4): one real RIFF container per document
      // (3 JPEG frames of the pattern grid; flips move <= 3 controlled
      // bits; per-frame byte noise defeats exact-dup shortcuts), then
      // real per-frame JPEG decode -> dHash -> per-bit majority vote ->
      // pigeonhole blocking -> connected components. Ground truth is
      // closed-form (MultimodalSpec pins every (pattern, flips) hash
      // and the cross-pattern margin), so the oracle replays the
      // clustering without decoding a frame.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedVideoTable(ids, patterns = 10)
      val hashes = operators.Multimodal.videoHashes(media)
      Dedup.hammingClusters(hashes, col("doc_id"), col("vhash"), maxHamming = 3)
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    "q_video_containment" -> ((s, dir) => {
      // CLIP CONTAINMENT over planted compilations: short clips embedded
      // verbatim inside longer videos — the duplicate class whole-clip
      // signatures cannot see (a 3-frame clip and the 6-frame
      // compilation carrying it vote to distant majority hashes).
      // Real per-frame decode -> frame-hash sequences -> first-shingle
      // blocked, alignment-carrying containment join. Ground truth is
      // doc-id arithmetic (the plantedClipTable contract), replayed by
      // the oracle without touching a frame.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedClipTable(ids, patterns = 10)
      val frames = operators.Multimodal.videoFrameHashes(media)
      operators.Multimodal.clipContainment(frames, minFrames = 3)
    }),

    "q_dedup_audio" -> ((s, dir) => {
      // Perceptual AUDIO dedup end to end — the q_dedup_image analogue
      // over real PCM WAV decode: planted tones (pattern = doc_id mod 10,
      // ≤3 controlled energy-envelope bit flips per variant, energy-exact
      // byte noise) → Multimodal.audioHash64 → the same hammingClusters
      // backend. Ground truth is closed-form (pattern groups), so the
      // oracle replays it without decoding audio.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedAudioTable(ids, patterns = 10)
      val hashes = operators.Multimodal.audioHashes(media)
      Dedup.hammingClusters(hashes, col("doc_id"), col("ahash"), maxHamming = 3)
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    "q_audio_containment" -> ((s, dir) => {
      // AUDIO CONTAINMENT through the generic containment core (VERDICT
      // r15 #2): a jingle embedded verbatim in a podcast is a duplicate
      // of part of it, but whole-recording envelope hashes sit far apart
      // — real PCM WAV decode -> per-window envelope hashes
      // (Multimodal.audioWindowHashes) -> the SAME first-shingle blocked,
      // alignment-carrying containment join as video. Planted
      // jingle/podcast fixtures follow the video corpus's doc-id
      // arithmetic exactly, so the two queries share one oracle.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedAudioClipTable(ids, patterns = 10)
      val frames = operators.Multimodal
        .audioWindowHashes(media, operators.Multimodal.ToneWindowSamples)
        .toDF("doc_id", "frame_idx", "fhash")
      operators.Multimodal.clipContainment(frames, minFrames = 3)
    }),

    "q_text_containment" -> ((s, dir) => {
      // TEXT-BLOCK CONTAINMENT (VERDICT r15 stretch): a document quoted
      // verbatim inside an article is a paragraph-hash RUN — the
      // granularity span-dedup's fixed n-gram shingles miss. Planted
      // quote-inside-article fixtures (3 paragraphs of pattern p; /
      // articles: those + 3 of pattern (p+1) mod 10), paragraphs built
      // as codegen'd Spark expressions, hashed with xxhash64 (exact
      // semantics — hashes never surface in the output), then the same
      // generic containment core. Same doc-id-arithmetic oracle.
      def para(pat: Column, j: Int): Column =
        concat(lit("para-"), pat, lit(s"-$j lorem ipsum dolor sit amet"))
      val p = col("doc_id") % 10
      val q = (col("doc_id") + 1) % 10
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("qtext",
          when(col("doc_id") % 3 === 0,
            concat_ws("\n\n", para(p, 0), para(p, 1), para(p, 2)))
          .otherwise(concat_ws("\n\n", para(p, 0), para(p, 1), para(p, 2),
            para(q, 0), para(q, 1), para(q, 2))))
      val frames = TextAnalysis.paragraphHashes(docs, col("doc_id"), col("qtext"))
        .toDF("doc_id", "frame_idx", "fhash")
      operators.Multimodal.clipContainment(frames, minFrames = 3)
    }),

    "q_containment_groups" -> ((s, dir) => {
      // GROUP-LEVEL containment over the same planted clip corpus as
      // q_video_containment — the scale-default surface (VERDICT r17
      // #3): one row per (inner-group, outer-group) containment edge
      // with rep ids and member counts, LINEAR in distinct sequences.
      // The member-expanded q_video_containment output is quadratic in
      // dup-group size by construction (sf10: 25 B rows); a 100-TB
      // pipeline consumes THIS surface and joins the member map for
      // exactly the groups it expands. Same doc-id-arithmetic ground
      // truth, replayed by the oracle at group level.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedClipTable(ids, patterns = 10)
      val frames = operators.Multimodal.videoFrameHashes(media)
      operators.Multimodal.clipContainmentGroups(frames, minFrames = 3)
    }),

    "q_dedup_mp4_exact" -> ((s, dir) => {
      // The MP4 exact-dup BRIDGE (VERDICT r15 #6): codec'd video gets no
      // perceptual dedup (no pure-JVM H.264/AV1 decoder — the declared
      // boundary), but re-muxed copies of the same encoded stream carry
      // byte-identical mdat sample data inside byte-different files.
      // Digesting ONLY the mdat payload collapses exactly those: planted
      // MP4s re-wrap one payload per pattern group under 3 mux variants
      // (brand/timescale/free-box padding), so clusters are the pattern
      // groups — the q_dedup_image oracle shape.
      val ids = t(s, dir, "documents").select("doc_id")
      val media = operators.Multimodal.plantedMp4Table(ids, patterns = 10)
      val digs = operators.Multimodal.mdatDigests(media)
      val reps = digs.groupBy(col("pdigest")).agg(min(col("doc_id")).as("cluster"))
      digs.join(reps, "pdigest").select(col("doc_id"), col("cluster"))
    }),

    "q_weighted_mix" -> ((s, dir) =>
      // Corpus assembly: src0 upsampled 2.5x (2 full epochs + a
      // deterministic md5 half), src1 cut to a quarter, everything else
      // kept once. Map-only; the oracle reproduces the exact multiset.
      operators.Sampling.weightedMix(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        Map("src0" -> 2.5, "src1" -> 0.25), defaultWeight = 1.0)),

    "q_temperature_mix" -> ((s, dir) =>
      // T=0.5 temperature rebalancing toward a row budget: small sources
      // keep a larger share than their natural proportion (rate ∝
      // 1/sqrt(count)); selection is the standard md5 bucket with the
      // per-source threshold DERIVED from the counts inside the plan —
      // the oracle replays the exact sqrt/floor/divide chain.
      operators.Sampling.temperatureMixSqrt(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), targetRows = 200)),

    "q_split_safe" -> ((s, dir) => {
      // Leakage-safe splitting: exact-duplicate texts MUST share a split
      // (a per-document split leaks paraphrase/dup content into eval).
      // Edges star each doc to its md5-group representative; components
      // over those edges are exactly the duplicate groups; the split is
      // then a pure function of the component id.
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val g = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val reps = g.groupBy("h").agg(min("doc_id").as("rep"))
      val edges = g.join(reps, "h").where(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("id_a"), col("rep").as("id_b"))
      operators.Sampling.leakageSafeSplits(docs, col("doc_id"), edges,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    "q_sample_budget" -> ((s, dir) =>
      // Budget-bounded deterministic subset: the largest md5-priority
      // prefix whose running character total stays within budget —
      // "give me an N-token slice" as a pure function of (id, salt),
      // prefix-closed under budget growth. Distributed prefix sum via
      // Packing.globalCumsum, never a one-task global window.
      operators.Sampling.sampleToBudget(t(s, dir, "documents"),
        col("doc_id"), col("n_chars"), budget = 100000L)),

    "q_group_budget" -> ((s, dir) =>
      // Domain-balanced corpus assembly: per source, keep md5-priority
      // docs until 3k characters (≈40% of each shipped source — the cap
      // REALLY cuts at every sf) — one keyed exchange + per-group
      // running sum, no global ordering anywhere.
      operators.Sampling.capPerGroupBudget(t(s, dir, "documents"),
        col("source"), col("doc_id"), col("n_chars"), budget = 3000L)),

    "q_dedup_incremental" -> ((s, dir) => {
      // Continuous-ingestion dedup: the corpus is 80% of documents; the
      // arriving batch is built from corpus docs verbatim (-> exact),
      // with an appended token (-> near), and as md5 gibberish
      // (-> novel). Statuses are deterministic for exact/novel; the
      // near tier is LSH-recall-dependent -> rows-only check here, with
      // the planted-statuses behavior pinned in DedupGroupSpec.
      val docs = t(s, dir, "documents")
      val corpus = docs.where(col("doc_id") % 10 < 8)
      val sample = docs.where(col("doc_id") % 10 < 8 && col("doc_id") % 4 === 0)
      val delta = sample.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" appended-tail-token")))
          .otherwise(md5(col("text"))).as("text"))
      Dedup.incrementalDedup(corpus, col("doc_id"), col("text"),
        delta, col("doc_id"), col("text"),
        Dedup.MinHashParams(jaccardThreshold = 0.4))
    }),

    "q_dedup_clusters_lsh" -> ((s, dir) => {
      // The end-to-end composition a real corpus dedup runs at 100 TB:
      // MinHash-banded candidate pairs (no all-pairs stage anywhere) →
      // connected components over REPRESENTATIVE pairs → members inherit
      // through the fingerprint map (r20: the member-level pair surface
      // is quadratic in exact-dup multiplicity and clustering never
      // needed it — the sf10 probe read 197–249 s through the pair
      // surface, 3.3–3.7 s through this path, labels identical). LSH
      // recall is probabilistic → rows-only check here; equality with
      // the pair-surface composition and with clusters-over-exact-pairs
      // at recall-1.0 parameters is spec'd in DedupGroupSpec.
      val docs = t(s, dir, "documents")
      Dedup.minhashClusters(docs, col("doc_id"), col("text"),
        Dedup.MinHashParams(jaccardThreshold = 0.4))
    }),

    "q_dedup_clusters_exact" -> ((s, dir) => {
      // q_dedup_clusters_lsh's recall-1.0 verification twin (r21, VERDICT
      // r20 #7): the identical grouping/threshold/component/label
      // machinery over the EXPLICIT all-pairs exact-Jaccard surface, so
      // the one semantic rewrite that is oracle-blind through the LSH
      // query (xxhash band keys) gets an independently recomputable
      // oracle entry — DuckDB replays word shingles, pair Jaccard and
      // recursive components from the raw documents. Quadratic in
      // distinct texts by construction: a verification query, never the
      // scale path.
      val docs = t(s, dir, "documents")
      Dedup.jaccardClusters(docs, col("doc_id"), col("text"),
        minJaccard = 0.4, shingleSize = 3)
    }),

    // ---- training-data pipeline: text analysis
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"),
        TextAnalysis.punctCount(col("text")).as("n_punct"))),

    "q_quality_score" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.stopwordRatio(col("text")).as("stop_ratio"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),

    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.regexTokenCount(col("text")).as("n_regex_tokens"))),

    // Model-based quality filtering (fastText-style hashed linear scorer):
    // map-only, bit-reproducible scores via integer-numerator weights.
    "q_quality_classifier" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        dim = 65536, seed = 7L, threshold = 0.0)),

    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.shingleFingerprint(col("text")).as("shingle_fp"))),

    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), col("doc_id"), col("text"), k = 5)),

    "q_lm_score" -> ((s, dir) =>
      // CCNet-style unigram surprisal filter. The oracle checks the
      // integer-exact quantized column; the real-valued xent_bits is
      // log2-based (not correctly-rounded IEEE → not cross-engine
      // hashable) and is spec-pinned instead, so the harness projection
      // drops it here.
      TextAnalysis.lmScore(t(s, dir, "documents"), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("bits_q"))),

    "q_lm_score_bigram" -> ((s, dir) =>
      // Conditional (order-sensitive) surprisal: catches common-words-in-
      // improbable-order documents the unigram filter scores as normal.
      TextAnalysis.lmScoreBigram(t(s, dir, "documents"), col("doc_id"), col("text"))),

    "q_dedup_unicode" -> ((s, dir) => {
      // Canonical-equivalence dedup — the pipeline UnicodeNormalize
      // exists for: the same document arriving NFC-composed and
      // NFD-decomposed must dedupe to ONE digest key. Each document is
      // unioned with a decomposed-suffix twin of itself; keying on
      // md5(NFC(text)) collapses every twin pair (keying on the raw
      // bytes would not — q_dedup_exact's digest splits them). Shape is
      // exact dedup: map-only normalize+digest, one keyed aggregate.
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull).select(col("doc_id"), col("text"))
      val composedSfx = " caf\u00e9"
      val decomposedSfx = " cafe\u0301"
      val base = docs.select(col("doc_id"),
        concat(col("text"), lit(composedSfx)).as("text"))
      val twin = docs.select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(decomposedSfx)).as("text"))
      base.unionByName(twin)
        .select(col("doc_id"),
          md5(graft.functions.StringNormalizeFunctions
            .unicodeNormalize(col("text")).cast("binary")).as("k"))
        .groupBy("k")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
    }),

    "q_bpe_token_count" -> ((s, dir) =>
      // Whitespace vs BPE-ish pre-tokenizer counts + chars/token — the
      // packing cost model. Map-only regex pass; the pattern is
      // Java/RE2-portable so the oracle checks exact counts.
      TextAnalysis.bpeTokenCount(t(s, dir, "documents"), col("doc_id"), col("text"))),

    "q_bpe_encode" -> ((s, dir) => {
      // REAL BPE encode (operators.Bpe): min-rank merge loop over the
      // inlined valid merge table, per pre-token, code-point initial
      // alphabet. The oracle replays the merges as a delimited
      // replace-chain (sequential-replay equivalence — Bpe scaladoc).
      operators.Bpe.validateMerges(operators.Bpe.DemoMerges)
      operators.Bpe.tokenCounts(t(s, dir, "documents"), col("doc_id"), col("text"),
        operators.Bpe.DemoMerges)
    }),

    "q_bpe_train" -> ((s, dir) => {
      // Distributed BPE TRAINING on the corpus itself: one corpus pass
      // builds the pre-token frequency table (bounded by vocabulary),
      // then 12 rounds of weighted pair counting + UTF8-binary-tie-broken
      // argmax + map-only merge application. The oracle replays the
      // training EXACTLY as 12 unrolled materialized-CTE stages over the
      // same delimited form — every chosen pair, ties included.
      val merges = operators.Bpe.trainMergesTable(
        t(s, dir, "documents"), col("text"), nMerges = 12)
      merges
    }),

    "q_bpe_pipeline" -> ((s, dir) => {
      // END-TO-END tokenizer lifecycle: TRAIN the merge table on the
      // corpus (12 merges, the delta trainer), PERSIST the learned
      // vocabulary as a real table (parquet round-trip — the artifact a
      // production pipeline ships between its train and apply jobs),
      // LOAD it back in rank order, ENCODE the same corpus with it, and
      // emit per-doc TRUE token counts (one row per non-null-text doc,
      // zero-token docs included). The oracle replays training AND
      // encoding: the shared q_bpe_train CTE chain derives m0..m11,
      // then the sequential-replay replace chain runs with those
      // CTE-computed merges as scalar subqueries.
      val docs = t(s, dir, "documents")
      val vocabDir = work("q_bpe_pipeline_vocab")
      rmDir(vocabDir)
      operators.Bpe.trainMergesTable(docs, col("text"), nMerges = 12)
        .write.mode("overwrite").parquet(vocabDir)
      val vocab = s.read.parquet(vocabDir).orderBy("merge_rank")
        .select("lhs", "rhs").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      operators.Bpe.validateMerges(vocab) // trained tables replay-valid
      operators.Bpe.tokenCounts(docs, col("doc_id"), col("text"), vocab)
    }),

    "q_pack_bpe" -> ((s, dir) =>
      // Sequence packing on TRUE BPE token counts (budget measured in
      // merged tokens, not whitespace pieces) — the Bpe-counter wiring of
      // packCounted, end to end. Zero-token docs (empty text) occupy no
      // pack. Oracle: q_pack's global-window replay over the q_bpe_encode
      // counting expression.
      operators.Bpe.packTokenStream(t(s, dir, "documents"),
        col("doc_id"), col("text"), operators.Bpe.DemoMerges, budget = 48)),

    "q_chunk_bpe" -> ((s, dir) =>
      // Overlapping chunking over REAL BPE token streams: budget counts
      // merged tokens and chunk_text reassembles by plain concatenation
      // (BPE tokens carry their own leading spaces). Oracle: DuckDB
      // rebuilds the token ARRAYS from the delimited replace-chain and
      // replays the slicing.
      TextAnalysis.chunkBpeTokens(t(s, dir, "documents"), col("doc_id"),
        col("text"), operators.Bpe.DemoMerges, maxTokens = 32, overlap = 8)),

    "q_dsir_select" -> ((s, dir) => {
      // DSIR data selection: the 100 documents whose hashed-unigram
      // features look most like the English subset (the "target") relative
      // to the whole corpus. Quantized integer log-ratios throughout, so
      // the oracle replays every weight exactly.
      val docs = t(s, dir, "documents")
      TextAnalysis.importanceSelect(docs, docs.where(col("lang") === "en"),
        col("doc_id"), col("text"), k = 100, buckets = 4096)
    }),

    "q_nfc_normalize" -> ((s, dir) => {
      // The custom codegen'd UnicodeNormalize expression over a column
      // that mixes corpus text with a DECOMPOSED suffix ("e" + combining
      // acute U+0301) — NFC composes it to U+00E9, so n_nfc = n_raw − 1
      // on every row and the normalized string itself is hash-compared
      // against DuckDB's nfc_normalize. Exercised through the SQL
      // registry (unicode_normalize) to cover both activation paths.
      GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_nfc")
      // 'e' + COMBINING ACUTE ACCENT as an ESCAPE, not a raw combining
      // char in source (which any editor or tool normalizing the file to
      // NFC would silently compose, making the query a no-op)
      val dec = " cafe\u0301"
      s.sql(s"""SELECT doc_id,
               |  unicode_normalize(concat(substring(text, 1, 24), '$dec')) AS nfc,
               |  length(concat(substring(text, 1, 24), '$dec')) AS n_raw,
               |  length(unicode_normalize(concat(substring(text, 1, 24), '$dec'))) AS n_nfc
               |FROM graft_docs_nfc""".stripMargin)
    }),

    // Vocabulary building: corpus-wide token frequencies, top-k. The
    // explode shuffles (token, partial-count) pairs thanks to map-side
    // combine, not raw tokens.
    "q_repetition" -> ((s, dir) =>
      operators.TextAnalysis.repetitionStats(
        t(s, dir, "documents"), col("doc_id"), col("text"))),

    "q_word_freq" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)),

    "q_heavy_hitters" -> ((s, dir) =>
      // Exact heavy hitters (tokens with count > n/(capacity+1)) via the
      // two-pass Misra-Gries plan: bounded sketch -> candidate superset ->
      // exact counts of candidates only. Deterministic despite the
      // merge-order-dependent sketch, so fully oracle-checkable.
      TextAnalysis.heavyHitters(t(s, dir, "documents"), col("text"), capacity = 50)),

    "q_profile" -> ((s, dir) =>
      // Column profiling in ONE aggregation pass (rows, nulls, exact
      // distinct per column). maybe_lang plants real nulls so the null
      // accounting is exercised; the oracle recomputes every number.
      operators.Profile.profile(
        t(s, dir, "documents").withColumn("maybe_lang",
          when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang"))),
        Seq("doc_id", "lang", "source", "maybe_lang"))),

    "q_inverted_index" -> ((s, dir) =>
      // Postings build with df-band vocabulary pruning: hapax terms
      // (df < 2) and the stopword tier (df > 400 of 500 docs) dropped.
      TextAnalysis.invertedIndex(t(s, dir, "documents"), col("doc_id"), col("text"),
        minDf = 2, maxDf = 400)),

    // Pre-training chunking: ≤32 whitespace tokens per training example,
    // 8-token overlap. Map-only explode — no shuffle anywhere.
    "q_chunk" -> ((s, dir) =>
      TextAnalysis.chunkTokens(t(s, dir, "documents"), col("doc_id"), col("text"),
        maxTokens = 32, overlap = 8)),

    // The text operators through their SQL registry names — a pure-SQL
    // user gets the same codegen'd kernels (GraftFunctions / the
    // spark.sql.extensions hook).
    "q_sql_text_funcs" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      s.sql("""SELECT doc_id, token_count(text) AS n_tokens,
               |  quality_score(text) AS quality, lang_id(text) AS lang_pred
               |FROM graft_docs_v""".stripMargin)
    }),

    // CCNet-style line-level boilerplate removal. The synthetic docs are
    // single-line, so the harness plants structure (identically in the
    // oracle): an 8-token line split, a banner line on every doc and a
    // second one on even ids — those cross the doc-frequency threshold
    // and are removed; body lines survive in order.
    "q_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val body = array_join(transform(
        sequence(lit(0), ((size(toks) - lit(1)) / lit(8)).cast("int")),
        i => array_join(slice(toks, i * lit(8) + 1, lit(8)), " ")), "\n")
      val planted = docs.select(col("doc_id"), concat(
        lit("terms of service apply\n"),
        when(col("doc_id") % 2 === 0, lit("subscribe to the newsletter\n")).otherwise(lit("")),
        body).as("text"))
      TextAnalysis.dropBoilerplateLines(planted, col("doc_id"), col("text"), minDocFreq = 5)
    }),

    // Sequence packing: concat-and-chunk the whole corpus token stream at
    // a 64-token budget (docs span pack boundaries). The global prefix
    // sum underneath runs distributed (range exchange + per-range window
    // + bounded per-partition offsets) — NOT a one-task global window —
    // but its value is partitioning-invariant, so DuckDB's true global
    // window is an exact oracle.
    "q_pack" -> ((s, dir) =>
      operators.Packing.packTokenStream(t(s, dir, "documents"),
        col("doc_id"), col("text"), budget = 64)),

    // PII scrubbing. The synthetic corpus carries no PII, so the harness
    // plants a deterministic email/IP/phone per doc (identically in the
    // oracle SQL) — the compare then verifies actual redaction and
    // counting, not a no-op pass-through.
    "q_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), concat(
          col("text"), lit(" reach u"), col("doc_id"), lit("@example.com or 10.0."),
          col("doc_id") % 256, lit(".7 tel +1415555"), col("doc_id") % 9000 + 1000
        ).as("planted"))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("planted")).as("redacted"),
          TextAnalysis.emailCount(col("planted")).as("n_emails"),
          TextAnalysis.ipv4Count(col("planted")).as("n_ips"),
          TextAnalysis.phoneCount(col("planted")).as("n_phones"))),

    "q_histogram" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50.0).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          dsum6(col("value")).as("sum_value"))),

    "q_percentile" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          max(col("o_totalprice")).as("mx"))),

    // Sketch aggregates: HyperLogLog++ distinct counts and a quantile
    // sketch — at 100 TB these replace their exact forms wherever a
    // bounded-memory one-pass answer is enough (the exact percentile
    // holds every value per group; the sketch holds ~KBs). Error bounds
    // vs exact are also pinned in OperatorsSpec.
    // Sketch estimates themselves are engine-specific (HLL++ register
    // layout, quantile-summary merge order) — but their ERROR BOUNDS are
    // deterministic claims any engine can verify (VERDICT r9 #4): emit the
    // exact values plus bound-check booleans, and the oracle recomputes
    // the exact side and literal TRUEs. hll_ok allows 3×rsd relative
    // error (rsd=0.02 → 6%; HLL++'s standard error is rsd, so 3σ);
    // p50_ok brackets the sketch median between the exact 0.495/0.505
    // percentiles — 50× approx_percentile's ±1/accuracy rank guarantee,
    // so the booleans are stable under any partitioning while still
    // catching a broken sketch outright.
    "q_sketches" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          count(lit(1)).as("n"),
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_sketch"),
          expr("percentile(l_extendedprice, 0.495)").as("p_lo"),
          expr("percentile(l_extendedprice, 0.505)").as("p_hi"))
        .select(col("l_returnflag"), col("exact_orders"), col("n"),
          (abs(col("approx_orders") - col("exact_orders"))
            <= col("exact_orders") * lit(0.06)).as("hll_ok"),
          (col("p50_sketch") >= col("p_lo") && col("p50_sketch") <= col("p_hi"))
            .as("p50_ok"))),

    // End-to-end curation composition: score -> filter -> dedup, the whole
    // path a corpus takes before training. One scan, one shuffle (the
    // dedup groupBy); scoring and filtering stay map-side.
    "q_curation_pipeline" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("text"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        substring(col("text"), 1, 40).as("key"))
      scored
        .where(col("quality") >= 0.5 && col("lang_pred") === "en")
        .groupBy("key")
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("quality"), col("doc_id")).as("quality"),
          count(lit(1)).as("n_dups"))
    }),

    "q_curation_pipeline_v2" -> ((s, dir) => {
      // The r11 curation path end to end: NFC-normalize → exact dedup on
      // the canonical digest (keep-first, representative text carried by
      // min_by) → DSIR-select the 200 most target-like survivors → BPE
      // token counts for the packing cost model. Stage shapes: map-only
      // normalize+digest, one dedup aggregate, the DSIR count/broadcast/
      // agg shape, one top-k sort, map-only regex — no all-pairs, no
      // driver state.
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("lang"))
      val deduped = docs
        .groupBy(md5(graft.functions.StringNormalizeFunctions
          .unicodeNormalize(col("text")).cast("binary")).as("k"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("text"), col("doc_id")).as("text"),
          min_by(col("lang"), col("doc_id")).as("lang"))
        .drop("k")
      val selected = TextAnalysis.importanceSelect(deduped,
        deduped.where(col("lang") === "en"), col("doc_id"), col("text"),
        k = 200, buckets = 4096)
      selected
        .join(deduped.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"), col("rank"), col("score"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.BpeTokenPattern), lit(0)))
            .cast("long").as("n_bpe_tokens"))
    }),

    // ---- training-data pipeline: similarity search
    "q_sim_bruteforce" -> ((s, dir) => {
      val corpus = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(corpus, corpus.where(col("id") < 8), k = 5)
    }),

    // The harness similarity entries PIN their knobs (planes / coarse
    // bits / nProbe) so the whole LSH and IVF machinery is oracle-checked
    // bit-for-bit from plane literals — a static SQL cannot mirror the
    // library's corpus-size auto-planning across scale factors. The auto
    // path (the actual default) is exercised by OperatorsSpec
    // (auto == explicit identity) and trended by Bench's ann_recall.
    "q_sim_ann" -> ((s, dir) => {
      val corpus = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(corpus, corpus.where(col("id") < 8), k = 5, planes = 6,
        tables = 1) // pinned with the other knobs: the r15 recall-aware
                    // default (4 tables) is trended by ann_recall instead
    }),

    "q_sim_ivf" -> ((s, dir) => {
      val corpus = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(corpus, corpus.where(col("id") < 8), k = 5,
        coarseBits = 3, nProbe = 2,
        spill = 1) // pinned like q_sim_ann's tables: the spill default
                   // changes reachable lists, which a static oracle
                   // cannot mirror across scale factors
    }),

    "q_sim_pq" -> ((s, dir) => {
      // Product-quantization ANN (ADC + exact refine): candidates scored
      // by per-query lookup tables over m-byte codes — the memory-
      // bandwidth-optimal full-sweep path at 100 TB of embeddings.
      val corpus = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqTopK(corpus, corpus.where(col("id") < 8), k = 5,
        m = 8, bits = 6, refine = 8)
    }),

    "q_embed_stats" -> ((s, dir) =>
      Similarity.normStats(t(s, dir, "embeddings"), col("label"), col("embedding"))),

    // The operators return array columns (that's their real shape); the
    // harness queries explode to one row per vector component because the
    // driver's compare sorts rows with pandas, and array cells are
    // unhashable there (r4 `err` rows). Exploded scalars ARE the stronger
    // check anyway: every component is hash-compared, not just the array
    // as an opaque value. posexplode drops null arrays (zero-norm /
    // all-zero vectors) — the oracle filters the same rows out.
    "q_embed_normalize" -> ((s, dir) =>
      Similarity.l2Normalize(t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
        .select(col("vec_id"), col("norm"), posexplode(col("unit")))
        .select(col("vec_id"), (col("pos") + 1).as("idx"), col("norm"), col("col").as("u"))),

    "q_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
        .select(col("vec_id"), col("scale"), posexplode(col("q")))
        .select(col("vec_id"), (col("pos") + 1).as("idx"), col("scale"), col("col").as("qv"))),

    "q_sim_int8_rescore" -> ((s, dir) => {
      // The quantized similarity path end to end: int8 codes from
      // quantizeInt8, EXACT integer dot products via the codegen'd
      // DotProductInt (a long — any integer-capable engine reproduces
      // it), one dequantizing division per pair. This is the memory-4×
      // rescoring stage ANN systems run between the index probe and the
      // exact float refine.
      val q = Similarity.quantizeInt8(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
      val b = q.select((col("vec_id") - 1).as("vid2"),
        col("scale").as("scale_b"), col("q").as("q_b"))
      q.join(b, col("vec_id") === col("vid2"))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.vecDotInt(col("q"), col("q_b")).as("dot_q"),
          (graft.functions.VectorFunctions.vecDotInt(col("q"), col("q_b"))
            .cast("double") / (col("scale") * col("scale_b"))).as("approx_dot"))
    }),

    // JL dimensionality reduction 64 -> 8; the deterministic ±1 matrix is
    // reproduced literally in the oracle SQL, so projections are
    // bit-exact. Exploded like the other embedding queries.
    "q_embed_project" -> ((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
        outDims = 8)
        .select(col("id").as("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), (col("pos") + 1).as("idx"), col("col").as("p"))),

    // ---- training-data pipeline: multimodal plumbing
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.decodeStub(Multimodal.toMediaTable(t(s, dir, "documents"))).toDF()),

    // ---- event analytics: funnel / retention / gap-fill / anomalies.
    // All take epoch-micros event time (tz-free integral arithmetic);
    // counts are integers and moments go through exact decimal sums, so
    // every number hash-matches the oracle.
    "q_funnel" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.funnel(ev, col("user_id"), col("event_type"),
        unix_micros(col("ts")), Seq("signup", "click", "purchase"))
    }),

    "q_retention" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.retention(ev, col("user_id"), unix_micros(col("ts")))
    }),

    "q_gap_fill" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.gapFillDaily(ev, col("user_id"), unix_micros(col("ts")))
    }),

    "q_anomaly" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.zscoreOutliers(ev, col("event_id"), col("event_type"),
        col("value"), z = 2.0)
        .select(col("event_id"), col("grp").as("event_type"),
          col("v").as("value"), col("z"))
    }),

    "q_stream_funnel" -> ((s, dir) => {
      // STREAMING ordered funnel (StreamingOps.funnelStream): per-user
      // deepest in-order step via watermark-bounded state, drained with
      // the sentinel pattern (derived time; multi-batch safe since r11 —
      // see q_stream_sessionize), then step counts aggregated from
      // the per-user depths. The oracle is the BATCH funnel SQL —
      // streaming and batch must agree. Micros ride alongside the
      // watermarked ts so strict-after comparisons keep full precision.
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir)
      val steps = Seq("signup", "click", "purchase")
      val base = ev.select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("t_us"))
      val (minMs, maxMs) = eventTimeSpan(base, unix_millis(col("ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentMs = maxMs + 86400000L + delayMs
      val inDir = work("q_stream_funnel_in")
      writeDataThenSentinel(base.where(col("event_type").isin(steps: _*)),
        s.range(1).select(lit(-1L).as("user_id"),
          lit(steps.head).as("event_type"),
          timestamp_millis(lit(sentMs)).as("ts"),
          lit(sentMs * 1000L).as("t_us")),
        inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .options(streamReadOptions).parquet(inDir)
        .withWatermark("ts", s"$delayMs milliseconds")
      val res = streaming.StreamingOps.funnelStream(stream,
        "user_id", "event_type", "ts", "t_us", steps)
      val qname = s"graft_stream_funnel_${System.nanoTime()}"
      val query = res.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      query.awaitTermination()
      // depth rows are emitted per INCREASE; max per user = final depth
      val deep = s.table(qname).where(col("user_id") >= 0)
        .groupBy("user_id").agg(max("deepest").as("deepest"))
      steps.zipWithIndex.map { case (name, i) =>
        deep.where(col("deepest") >= i + 1).agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("step"), lit(name).as("step_name"), col("n_users"))
      }.reduce(_.union(_))
    }),

    "q_funnel_window" -> ((s, dir) => {
      // same funnel, each conversion confined to a 3-day horizon after
      // the previous step's first completion
      val ev = events(s, dir)
      operators.Analytics.funnel(ev, col("user_id"), col("event_type"),
        unix_micros(col("ts")), Seq("signup", "click", "purchase"),
        horizonMicros = Some(259200000000L))
    }),

    "q_moving_avg" -> ((s, dir) => {
      // 7-day RANGE-frame moving sum/avg per event type over the daily
      // series — the frame is day-VALUE based (range), not row based, so
      // missing days genuinely shrink the window. Decimal sums inside the
      // frame, one double division at the end.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val daily = ev
        .select(col("event_type"), unix_micros(col("ts")).as("tus"), col("value"))
        .select(col("event_type"), expr("tus div 86400000000").as("day"), col("value"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          // exact sum(decimal(18,6)) — the window re-sums over s below
          // run over ≤7 day-rows per frame, not corpus rows
          operators.GridSum.exactSum(
            operators.GridSum.unscaled(col("value").cast("decimal(18,6)")),
            6).cast("decimal(28,6)").as("s"))
      val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
      daily.select(col("event_type"), col("day"),
        sum("n").over(w).as("n7"),
        sum(col("s")).over(w).cast("double").as("sum7"),
        (sum(col("s")).over(w).cast("double") / sum("n").over(w)).as("avg7"))
    }),

    "q_expectations" -> ((s, dir) =>
      // ingest-gate checks over documents: three row predicates in ONE
      // scan + a key-uniqueness constraint; lang_known is deliberately
      // narrow so the report exercises a FAILING check too
      operators.Expectations.check(t(s, dir, "documents"),
        rowChecks = Seq(
          "text_not_null" -> col("text").isNotNull,
          "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
          "lang_known" -> col("lang").isin("en", "zh")),
        uniqueKeys = Seq("doc_id_unique" -> Seq(col("doc_id"))))),

    "q_skyline" -> ((s, dir) =>
      operators.Analytics.skyline2D(t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
        .select(col("grp").as("l_returnflag"), col("x").as("qty"),
          col("y").as("price"))),

    "q_abtest" -> ((s, dir) => {
      // A/B: even- vs odd-id users; "success" = the user's biggest
      // purchase tops 300 (every user HAS a purchase at this event
      // density, so plain did-purchase conversion is the degenerate
      // 100%/100% case the z-test guard nulls out)
      val ev = events(s, dir)
      val users = ev.groupBy("user_id").agg(
        max(when(col("event_type") === "purchase", col("value"))).as("mpv"))
      operators.Analytics.twoProportionZTest(users,
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        col("mpv") > 300.0, labelA = "even", labelB = "odd")
    }),

    "q_corr" -> ((s, dir) =>
      operators.Analytics.pearson(t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_quantity"), col("l_discount"))
        .select(col("grp").as("l_returnflag"), col("n"), col("corr"))),

    // ---- sequence / basket / dimension-history analytics (wave 3).
    // All event-time inputs go through the normalized `events` view; every
    // per-user ordering is made strict and total with event_id as the
    // tie-break (equal timestamps otherwise make lead() pairing
    // partitioning-dependent — the counts would flap run to run).
    "q_transitions" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.transitions(ev, col("user_id"), col("event_type"),
        unix_micros(col("ts")), col("event_id"))
    }),

    "q_basket_lift" -> ((s, dir) =>
      operators.Analytics.cooccurrence(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minPairs = 2L)),

    "q_scd2" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.scd2(ev, col("user_id"), unix_micros(col("ts")),
        col("event_id"),
        Seq("event_type" -> col("event_type"), "value" -> col("value")))
        .withColumnRenamed("k", "user_id")
    }),

    "q_twap" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.timeWeightedAvg(ev, col("user_id"),
        unix_micros(col("ts")), col("event_id"), col("value"))
        .withColumnRenamed("k", "user_id")
    }),

    "q_cusum" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.cusumDaily(ev, col("event_type"),
        unix_micros(col("ts")), col("value"))
        .withColumnRenamed("grp", "event_type")
    }),

    "q_winsorize" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Profile.winsorize(ev, col("event_id"), col("event_type"),
        col("value"), pLow = 0.05, pHigh = 0.95)
        .withColumnRenamed("grp", "event_type")
    }),

    "q_mad_outliers" -> ((s, dir) => {
      // robust per-type outlier report: |v - median| > 3 * MAD, both
      // medians rank-selected (percentile_disc) — the 50%-breakdown
      // complement of the z-score report (q_anomaly)
      val ev = events(s, dir)
      operators.Profile.madOutliers(ev, col("event_id"), col("event_type"),
        col("value"), k = 3.0)
        .withColumnRenamed("row_id", "event_id")
        .withColumnRenamed("grp", "event_type")
        .withColumnRenamed("v", "value")
    }),

    "q_phrase_search" -> ((s, dir) =>
      operators.Retrieval.phraseSearch(t(s, dir, "documents"),
        col("doc_id"), col("text"), Seq("table", "hash"))),

    "q_components" -> ((s, dir) => {
      // connected components over the SPARSE co-purchase graph (parts
      // together in >= 3 baskets) — real multi-hop chains, so the oracle
      // (recursive min-reachability CTE) genuinely exercises label
      // convergence, which the exact-dup cluster queries' star-shaped
      // components never do. Same large-star/small-star machinery as the
      // dedup cluster paths (driver fast path at this edge count).
      val b = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("it")).distinct()
      val edges = b.as("a").join(b.as("b"), "bk")
        .where(col("a.it") < col("b.it"))
        .groupBy(col("a.it").as("id_a"), col("b.it").as("id_b"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 3).select("id_a", "id_b")
      operators.Dedup.connectedComponents(edges)
    }),

    "q_trend" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.trendSpearman(ev, col("event_type"),
        unix_micros(col("ts")), col("value"))
        .withColumnRenamed("grp", "event_type")
    }),

    "q_fk_orphans" -> ((s, dir) =>
      // referential integrity across the TPC-H spine: all three
      // relationships hold in the shipped data, so the report's value is
      // the exact child-row counts + literal-zero orphans + pass flags
      operators.Expectations.fkOrphans(Seq(
        ("lineitem.orderkey->orders", t(s, dir, "lineitem"), col("l_orderkey"),
          t(s, dir, "orders"), col("o_orderkey")),
        ("orders.custkey->customer", t(s, dir, "orders"), col("o_custkey"),
          t(s, dir, "customer"), col("c_custkey")),
        ("lineitem.partkey->part", t(s, dir, "lineitem"), col("l_partkey"),
          t(s, dir, "part"), col("p_partkey"))))),

    "q_kanon" -> ((s, dir) =>
      // re-identification surface: (source, n_chars) combos carried by
      // fewer than 2 documents — the length quasi-identifier is what
      // makes short corpora re-identifiable even with PII redacted
      operators.Expectations.kAnonymityViolations(t(s, dir, "documents"),
        Seq(col("source"), col("n_chars")), k = 2L)),

    "q_skew_report" -> ((s, dir) =>
      // pre-join diagnostic over the lineitem part key: exact integer
      // stats, rank-selected percentiles, one double share at the end
      operators.Profile.joinKeySkew(t(s, dir, "lineitem"), col("l_partkey"))),

    "q_drift" -> ((s, dir) => {
      // distribution drift between the view-value and purchase-value
      // slices: 16-bin integral histogram compare + exact-numerator TVD
      val ev = events(s, dir)
      operators.Profile.histogramDrift(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        col("value"), nBins = 16)
    }),

    "q_rate_cap" -> ((s, dir) => {
      // ingest throttle: at most 3 events per user per 6-hour bucket
      val ev = events(s, dir)
      operators.Sampling.capPerKeyWindow(
        ev.select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        windowMicros = 21600000000L, n = 3)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("bucket"), col("rn"))
    }),

    "q_stream_rate_cap" -> ((s, dir) => {
      // STREAMING rate cap over the same feed: admission ranks must equal
      // the batch window's row_number (q_rate_cap's oracle SQL verbatim).
      // Sentinel-drain pattern as in the other stream entries (multi-batch
      // safe since r11, documented at q_stream_sessionize).
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir)
      val base = ev.select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("t_us"))
      val (minMs, maxMs) = eventTimeSpan(base, unix_millis(col("ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentMs = maxMs + 86400000L + delayMs
      val inDir = work("q_stream_rate_cap_in")
      writeDataThenSentinel(base,
        s.range(1).select(lit(-1L).as("event_id"),
          lit(-1L).as("user_id"), lit("view").as("event_type"),
          timestamp_millis(lit(sentMs)).as("ts"),
          lit(sentMs * 1000L).as("t_us")),
        inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .options(streamReadOptions).parquet(inDir)
        .withWatermark("ts", s"$delayMs milliseconds")
      val res = streaming.StreamingOps.rateCapStream(stream, "user_id", "ts",
        "t_us", "event_id", windowMicros = 21600000000L, n = 3)
      val qname = s"graft_stream_rate_cap_${System.nanoTime()}"
      res.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table(qname).where(col("user_id") >= 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("bucket"), col("rn"))
    }),

    "q_stream_scd2" -> ((s, dir) => {
      // STREAMING SCD2 maintenance over the same change log as q_scd2:
      // closed intervals emit in-stream, the drain sentinel advances the
      // watermark past the close horizon so every open version flushes as
      // current — the drained output must equal the batch scd2 verbatim
      // (same oracle SQL). Sentinel-drain pattern, multi-batch safe since
      // r11 (documented at q_stream_sessionize).
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir)
      val base = ev.select(col("user_id"), col("event_type"), col("value"),
        col("ts"), unix_micros(col("ts")).as("t_us"),
        col("event_id"))
      val (minMs, maxMs) = eventTimeSpan(base, unix_millis(col("ts")), "events")
      val delayMs = maxMs - minMs + 1000L
      val sentMs = maxMs + 86400000L + delayMs
      val inDir = work("q_stream_scd2_in")
      writeDataThenSentinel(base,
        s.range(1).select(lit(-1L).as("user_id"),
          lit("view").as("event_type"), lit(0.0).as("value"),
          timestamp_millis(lit(sentMs)).as("ts"),
          lit(sentMs * 1000L).as("t_us"),
          lit(-1L).as("event_id")),
        inDir)
      val stream = s.readStream.schema(s.read.parquet(inDir).schema)
        .options(streamReadOptions).parquet(inDir)
        .withWatermark("ts", s"$delayMs milliseconds")
      val res = streaming.StreamingOps.scd2Stream(stream, "user_id", "ts",
        "t_us", "event_id", Seq("event_type", "value"),
        closeHorizonMicros = 3600000000L)
      val qname = s"graft_stream_scd2_${System.nanoTime()}"
      res.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table(qname).where(col("k") >= 0)
        .select(col("k").as("user_id"), col("valid_from_us"),
          col("valid_to_us"), col("is_current"), col("event_type"), col("value"))
    }),

    "q_temporal_split" -> ((s, dir) => {
      // 70% time-prefix train, 1-day embargo band dropped, rest eval
      val ev = events(s, dir)
      operators.Sampling.temporalSplit(ev.select(col("event_id"), col("ts")),
        unix_micros(col("ts")), trainPermille = 700,
        embargoMicros = 86400000000L)
        .select(col("event_id"), col("split"))
    }),

    "q_pit_join" -> ((s, dir) => {
      // feature-store point-in-time lookup: each purchase picks up the
      // user's profile value (SCD2 over signup events) as of purchase time
      val ev = events(s, dir)
      val dim = operators.Analytics.scd2(ev.where(col("event_type") === "signup"),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        Seq("profile_value" -> col("value")))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("fact_tus"), col("value"))
      operators.Analytics.pitJoin(facts, col("user_id"), col("fact_tus"),
        dim, col("k"), col("valid_from_us"), col("valid_to_us"))
        .select(col("user_id"), col("event_id"), col("fact_tus"), col("value"),
          col("profile_value"), col("valid_from_us"), col("is_current"))
    }),

    "q_top_paths" -> ((s, dir) => {
      val ev = events(s, dir)
      operators.Analytics.topPaths(ev, col("user_id"), col("event_type"),
        unix_micros(col("ts")), col("event_id"), maxLen = 5, k = 10)
    }),

    "q_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      // clicks within 3 days before each purchase share its value equally
      operators.Analytics.attributionLinear(ev, col("user_id"),
        col("event_type"), unix_micros(col("ts")), col("event_id"),
        col("value"), convType = "purchase", touchType = "click",
        horizonMicros = 259200000000L)
        .withColumnRenamed("k", "user_id")
    }),

    // ---- graph: PageRank over the symmetric customer↔supplier trade
    // graph (who trades with whom via lineitem⋈orders). Key spaces are
    // mapped to disjoint ids (cust → 2k, supp → 2k+1). 2 power
    // iterations, both replayed in the oracle SQL.
    "q_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val or = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
      val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
        .union(pairs.select(col("sp").as("src"), col("c").as("dst")))
      operators.Graph.pagerank(edges, col("src"), col("dst"), iters = 2)
    }),

    // ---- graph: label-propagation communities over the same trade
    // graph — 2 deterministic synchronous rounds (min tie-break), both
    // replayed in the oracle SQL round for round.
    "q_label_prop" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val or = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      operators.Graph.labelPropagation(pairs, col("src"), col("dst"), rounds = 2)
    }),

    // ---- retrieval & corpus association
    "q_bm25" -> ((s, dir) =>
      operators.Retrieval.bm25(t(s, dir, "documents"), col("doc_id"), col("text"),
        terms = Seq("join", "filter", "vector"), k1 = 1.2, b = 0.75, k = 5)),

    "q_pmi" -> ((s, dir) =>
      operators.Retrieval.pmiPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
        topN = 50, limit = 20)),

    // ---- clustering: 2 Lloyd iterations from the deterministic
    // lowest-id init; the oracle replays both iterations in SQL from the
    // same init, decimal centroid means and all.
    "q_kmeans" -> ((s, dir) =>
      operators.Clustering.kmeansAssign(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = 4, iters = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("d2"))),

    // ---- round-11 late wave: statistical process + recommender surface

    "q_ewma" -> ((s, dir) => {
      // EWMA smoothing of the daily per-type event volume — the standard
      // trend line a monitoring pipeline draws over raw counts. The
      // recurrence folds per type over the calendar-bounded daily series
      // (Analytics.ewma); the oracle replays the identical multiply-add
      // chain with a recursive CTE.
      val ev = events(s, dir)
      val daily = ev
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      operators.Analytics.ewma(daily, col("event_type"), col("day"),
          col("n"), alpha = 0.25)
        .select(col("k").as("event_type"), col("ord").as("day"),
          col("x").cast("long").as("n"), col("ewma"))
    }),

    "q_survival_km" -> ((s, dir) => {
      // Kaplan–Meier user-lifetime curves per acquisition cohort (the
      // user's FIRST event type): duration = days between a user's first
      // and last event; a user still active in the final 14 days of the
      // log is right-censored. Product-limit fold — pure (÷,−,×), no
      // exp/ln — so survival is bit-portable across engines.
      val ev = events(s, dir)
      val us = unix_micros(col("ts"))
      val ue = ev.groupBy(col("user_id")).agg(
        min(us).as("first_us"), max(us).as("last_us"),
        min_by(col("event_type"), struct(us, col("event_id"))).as("cohort"))
      val m = ev.agg(max(us).as("m_us"))
      val subj = ue.crossJoin(broadcast(m)).select(
        col("cohort"),
        expr("(last_us - first_us) div 86400000000").as("dur"),
        (col("last_us") < col("m_us") - lit(1209600000000L)).as("obs"))
      operators.Analytics.kaplanMeier(subj, col("cohort"), col("dur"),
        col("obs"))
    }),

    "q_chisq_indep" -> ((s, dir) => {
      // Chi-square independence report for event_type × weekday: observed
      // count, expected count under independence, and the per-cell χ²
      // contribution — the drill-down table behind the test statistic
      // (per-cell rows, so no cross-cell float sum anywhere). Weekday is
      // integral epoch-day arithmetic ((day+4) mod 7; 1970-01-01 was a
      // Thursday), tz-free by construction.
      val ev = events(s, dir)
      val o = ev
        .groupBy(col("event_type"),
          expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = o.groupBy("event_type").agg(sum("o").as("rt"))
      val ct = o.groupBy("dow").agg(sum("o").as("ct"))
      val n = o.agg(sum("o").as("n"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("n").cast("double")
      o.join(broadcast(rt), "event_type").join(broadcast(ct), "dow")
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("dow"), col("o"), e.as("e"),
          ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
            .as("contrib"))
    }),

    "q_ks_test" -> ((s, dir) =>
      // Two-sample Kolmogorov–Smirnov D between the finished-order and
      // open-order price distributions. CDFs are exact integer running
      // counts over the pooled values via the range-partitioned
      // distributed prefix sum (no global single-partition window).
      operators.Analytics.ksTest2(
        t(s, dir, "orders").where(col("o_orderstatus").isin("F", "O")),
        col("o_totalprice"), col("o_orderstatus") === "F")),

    "q_item_cf" -> ((s, dir) =>
      // Item-based collaborative filtering: top-5 co-occurrence-cosine
      // neighbors of every part, baskets = orders. Candidate pairs come
      // from the basket-keyed self-join (work ∝ Σ|basket|², never
      // catalog²), the same scale shape as q_basket_lift.
      operators.Analytics.itemNeighbors(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), k = 5, minPairs = 2)),

    "q_stream_item_cf" -> ((s, dir) => {
      // STREAMING item-CF: the same lineitem baskets as q_item_cf arrive
      // as three basket-atomic microbatches (split by l_orderkey % 3 —
      // baskets never straddle a file; maxFilesPerTrigger=1 so
      // maintenance provably folds ACROSS batches); foreachBatch
      // maintains pair/item counts incrementally, then neighbors come
      // off the maintained state. Must equal the one-shot computation —
      // shares q_item_cf's oracle.
      val feedDir = work("q_stream_item_cf_feed")
      val stateDir = work("q_stream_item_cf_state")
      rmDir(feedDir); rmDir(stateDir)
      // ONE partitionBy pass writes the same one-file-per-residue feed
      // the old three sequential coalesce(1) jobs did: repartition(3, r)
      // routes each residue to exactly one task, so each r= dir holds
      // one file, and maxFilesPerTrigger=1 keeps batches basket-atomic.
      // Batch ORDER is irrelevant: count maintenance is commutative and
      // replay-guarded per batch id.
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      streaming.StreamingOps.prof("itemcf feed write") {
        li.withColumn("r", (col("l_orderkey") % 3).cast("int"))
          .repartition(3, col("r"))
          .write.partitionBy("r").mode("append").parquet(feedDir)
      }
      val feed = s.readStream.schema(s.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
      streaming.StreamingOps.prof("itemcf stream total") {
        streaming.StreamingOps.maintainItemCF(feed, "l_orderkey", "l_partkey", stateDir)
          .awaitTermination()
      }
      streaming.StreamingOps.itemCFFromState(s, stateDir, k = 5, minPairs = 2)
    }),

    "q_stream_item_cf_colf" -> ((s, dir) => {
      // The PRODUCTION state shape of streaming item-CF, promoted to the
      // harness (VERDICT r14 #3): the same three basket-atomic
      // microbatches, but the pair/item counts MERGE INTO the engine's
      // own colf tables through the row-level copy-on-write path —
      // per-batch write cost O(files touched by the delta), not
      // O(state) like the parquet read-modify-write. Must equal the
      // one-shot batch computation — shares q_item_cf's oracle.
      val feedDir = work("q_stream_item_cf_colf_feed")
      val stateDir = work("q_stream_item_cf_colf_state")
      rmDir(feedDir); rmDir(stateDir)
      // Same one-pass partitionBy feed as q_stream_item_cf (see there).
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      streaming.StreamingOps.prof("itemcf-colf feed write") {
        li.withColumn("r", (col("l_orderkey") % 3).cast("int"))
          .repartition(3, col("r"))
          .write.partitionBy("r").mode("append").parquet(feedDir)
      }
      val feed = s.readStream.schema(s.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
      streaming.StreamingOps.prof("itemcf-colf stream total") {
        streaming.StreamingOps.maintainItemCFColf(feed, "l_orderkey", "l_partkey", stateDir)
          .awaitTermination()
      }
      streaming.StreamingOps.itemCFFromColfState(s, stateDir, k = 5, minPairs = 2)
    }),

    "q_stream_ann" -> ((s, dir) => {
      // STREAMING-MAINTAINED ANN INDEX (VERDICT r15 #3): the embeddings
      // corpus arrives as three microbatches (vec_id % 3 splits;
      // maxFilesPerTrigger=1 so maintenance provably accumulates ACROSS
      // batches); each batch signs only its new vectors against the
      // PINNED q_sim_ann plane set and lands one immutable index
      // segment. The drained index is bit-identical to the one-shot
      // lshBuild, so searching it with q_sim_ann's knobs shares
      // q_sim_ann's oracle verbatim.
      val feedDir = work("q_stream_ann_feed")
      val stateDir = work("q_stream_ann_state")
      rmDir(feedDir); rmDir(stateDir)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      for (r <- 0 until 3)
        emb.where(col("id") % 3 === r)
          .coalesce(1).write.mode("append").parquet(feedDir)
      val feed = s.readStream.schema(s.read.parquet(feedDir).schema)
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
      streaming.StreamingOps.maintainLshIndex(feed, "id", "vec", stateDir,
        planes = 6, dim = 64, seed = 42L, tables = 1).awaitTermination()
      val index = streaming.StreamingOps.lshIndexFromState(s, stateDir,
        planes = 6, dim = 64, seed = 42L, tables = 1)
      Similarity.lshSearch(index, emb.where(col("id") < 8), k = 5)
    }),

    "q_golden_record" -> ((s, dir) => {
      // Survivorship / golden-record consolidation of each customer's
      // order history under per-attribute rules: modal status (ties →
      // lexical min), latest priority by (date, orderkey), exact decimal
      // lifetime spend, first/last order day, order count — the master-
      // data "best view" merge. One aggregate + one mode window.
      import org.apache.spark.sql.expressions.Window
      val raw = t(s, dir, "orders")
      val o = raw.withColumn("__d_us", tsMicros(raw, "o_orderdate"))
        .withColumn("__day", expr("__d_us div 86400000000"))
      val sc = o.groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
      val wMode = Window.partitionBy("o_custkey")
        .orderBy(col("cnt").desc, col("o_orderstatus"))
      val mode = sc.withColumn("rn", row_number().over(wMode))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderstatus").as("status_mode"))
      val agg = o.groupBy(col("o_custkey")).agg(
        count(lit(1)).as("n_orders"),
        max_by(col("o_orderpriority"), struct(col("__d_us"), col("o_orderkey")))
          .as("latest_priority"),
        min(col("__day")).as("first_day"),
        max(col("__day")).as("last_day"),
        operators.GridSum.exactSum(
          operators.GridSum.unscaled(col("o_totalprice").cast("decimal(14,2)")),
          2).cast("decimal(24,2)").as("spend_dec"))
      agg.join(mode, "o_custkey")
        .select(col("o_custkey"), col("status_mode"), col("latest_priority"),
          col("n_orders"), col("first_day"), col("last_day"),
          col("spend_dec").cast("double").as("total_spend"))
    }),

    "q_benford" -> ((s, dir) => {
      // Benford first-digit audit of order totals: observed digit counts
      // and fractions against the Benford expectation. The log10
      // constants are computed ONCE in JVM code and embedded as shortest-
      // round-trip literals on both sides — no row-dependent
      // transcendental anywhere, so the report is bit-portable. Digits
      // come from exact cent integers (the q_drift idiom), never from
      // printing a double.
      val o = t(s, dir, "orders")
      val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long")
      val counts = o.where(cents > 0)
        .groupBy(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum("n").as("total"))
      val expDf = s.createDataFrame(BenfordExpected).toDF("digit", "expected")
      val frac = col("n").cast("double") / col("total").cast("double")
      counts.crossJoin(broadcast(tot)).join(broadcast(expDf), "digit")
        .select(col("digit"), col("n"), frac.as("frac"), col("expected"),
          (frac - col("expected")).as("dev"))
    }),

    "q_l_diversity" -> ((s, dir) =>
      // privacy release gate one step past q_kanon: (source, length-band)
      // groups whose documents carry fewer than 3 distinct languages —
      // large-but-homogeneous groups k-anonymity waves through while
      // membership alone discloses the sensitive attribute.
      operators.Expectations.lDiversityViolations(
        t(s, dir, "documents"),
        Seq(col("source"), expr("n_chars div 100").as("len_band")),
        col("lang"), l = 3L)),

    "q_holt" -> ((s, dir) => {
      // Holt level+trend smoothing of the daily per-type event volume —
      // the drift-aware upgrade of q_ewma's trend line, with the one-
      // step-ahead `fitted` column a forecast backtest scores. Exact-
      // binary alpha/beta keep the fold bit-portable; the oracle replays
      // it as a recursive CTE.
      val ev = events(s, dir)
      val daily = ev
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      operators.Analytics.holtLinear(daily, col("event_type"), col("day"),
          col("n"), alpha = 0.5, beta = 0.25)
        .select(col("k").as("event_type"), col("ord").as("day"),
          col("x").cast("long").as("n"), col("level"), col("trend"),
          col("fitted"))
    }),

    "q_holt_winters" -> ((s, dir) => {
      // Holt-Winters ADDITIVE seasonal smoothing of the same daily
      // volume, weekly cycle (m = 7) — q_holt plus the seasonal
      // component a volume forecaster actually needs. Exact-binary
      // alpha/beta/gamma; the oracle replays the triple recursion as a
      // recursive CTE carrying the seasonal LIST.
      val ev = events(s, dir)
      val daily = ev
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("n"))
      operators.Analytics.holtWinters(daily, col("event_type"), col("day"),
          col("n"), m = 7, alpha = 0.5, beta = 0.25, gamma = 0.5)
        .select(col("k").as("event_type"), col("ord").as("day"),
          col("x").cast("long").as("n"), col("level"), col("trend"),
          col("seasonal"), col("fitted"))
    }),

    "q_sssp" -> ((s, dir) => {
      // Cheapest supplier-affinity paths within 3 hops from supplier 1:
      // the co-occurrence graph of q_triangles with an integral affinity
      // distance w = max(1, 50 − cooc) (strong co-shippers are close).
      // Bounded Bellman–Ford — per round one edge join + one min agg —
      // and the hop bound makes the answer exact BY DEFINITION, so the
      // oracle unrolls the same 3 rounds.
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
      val edges = li.join(b, "l_orderkey")
        .where(col("l_suppkey") < col("s2"))
        .groupBy(col("l_suppkey"), col("s2"))
        .agg(count(lit(1)).as("cooc"))
        .withColumn("w", greatest(lit(1L), lit(50L) - col("cooc")))
      operators.Graph.ssspBounded(edges, col("l_suppkey"), col("s2"),
        col("w"), s.range(1, 2).toDF(), col("id"), rounds = 3)
    }),

    "q_rrf_fusion" -> ((s, dir) => {
      // Hybrid-search merge: BM25 top-20 for 'vector' fused with a
      // document-length prior top-20 by reciprocal-rank fusion (c=60) —
      // rank-space fusion, so the two systems' incommensurable scores
      // never mix. Absent-side ranks surface as 0 (never in-band: real
      // ranks are 1-based) to keep the report columns integral.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val rankA = operators.Retrieval.bm25(docs, col("doc_id"), col("text"),
        terms = Seq("vector"), k = 20).select(col("doc_id"), col("rank"))
      // distributed top-k FIRST (TakeOrderedAndProject), then the rank
      // window runs over 20 rows — never a full-corpus global sort.
      val rankB = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      operators.Retrieval.rrfFuse(rankA, rankB, c = 60, topK = 10)
        .select(col("doc_id"), coalesce(col("rank_a"), lit(0L)).as("rank_a"),
          coalesce(col("rank_b"), lit(0L)).as("rank_b"), col("rrf"),
          col("rank_fused").cast("int").as("rank_fused"))
    }),
  )

  /** Benford's-law expected first-digit fractions, log10(1 + 1/d). JVM-
    * computed once; `Double.toString` is shortest-round-trip, so the same
    * values embed as exact literals in the oracle SQL (q_benford).
    */
  private[graft] val BenfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))

  // ---------------------------------------------------------------- oracle

  private val StopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  /** The per-language marker-score expressions used by the q_lang_id oracle. */
  private def langScoreSql(words: Seq[String]): String = {
    val set = words.map(w => s"'$w'").mkString("(", ",", ")")
    s"len(list_filter(string_split(lower(text), ' '), t -> t IN $set))"
  }

  // Idiom note — `CAST(CAST(SUM(<decimal>) AS VARCHAR) AS DOUBLE)`:
  // DuckDB's direct DECIMAL→DOUBLE cast double-rounds (int128 → double,
  // then ÷10^scale), so once a sum carries ≥17 significant digits it can
  // land 1 ulp off the correctly-rounded value; its VARCHAR→DOUBLE parse
  // IS correctly rounded, matching Spark's Decimal.toDouble
  // (BigDecimal.doubleValue). Found at sf1 where q1_agg's sum_charge
  // (Σ ≈ 5.2e10 at 6 dp) split the two paths on 2 of 6 groups; the
  // string hop is a no-op at smaller magnitudes.
  /** Shared by q_item_cf and q_stream_item_cf: the maintained streaming
    * state is REQUIRED to equal the one-shot batch computation, so both
    * verify against the identical recompute.
    */
  private val ItemCfOracleSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      |           FROM lineitem),
      |cnt AS (SELECT it, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
      |p AS (SELECT a.it AS ia, bb.it AS ib, CAST(count(*) AS BIGINT) AS cooc
      |  FROM b a JOIN b bb ON a.bk = bb.bk AND a.it < bb.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |bidir AS (SELECT ia AS item, ib AS nbr, cooc FROM p
      |  UNION ALL SELECT ib AS item, ia AS nbr, cooc FROM p),
      |sc AS (SELECT item, nbr, cooc,
      |    CAST(cooc AS DOUBLE) / sqrt(CAST(ci.cnt * cn.cnt AS DOUBLE)) AS cos
      |  FROM bidir JOIN cnt ci ON ci.it = bidir.item
      |            JOIN cnt cn ON cn.it = bidir.nbr)
      |SELECT item, nbr, cooc, cos, CAST("rank" AS INTEGER) AS "rank" FROM (
      |  SELECT item, nbr, cooc, cos, row_number() OVER (
      |      PARTITION BY item ORDER BY cos DESC, cooc DESC, nbr) AS "rank"
      |  FROM sc) WHERE "rank" <= 5""".stripMargin

  /** The BPE merge replay shared by the q_bpe_encode / q_pack_bpe /
    * q_chunk_bpe oracles: each pre-token exploded to delimited code
    * points, then the merge table applied as a chain of plain replace()
    * calls in rank order — exact for a VALID table (operators.Bpe
    * scaladoc proves the equivalence).
    */
  private def bpeOracleChain: String =
    operators.Bpe.DemoMerges.foldLeft(
      "regexp_replace(pt, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g')") {
      case (acc, (a, b)) =>
        s"replace($acc, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), chr(1)||'$a$b'||chr(2))"
    }

  /** The BPE TRAINING replay CTE block shared by the q_bpe_train and
    * q_bpe_pipeline oracles: w0 = the delimited pre-token frequency
    * table, then per round k the weighted adjacent-pair counts (p_k),
    * the argmax under (n DESC, a, b) binary collation (m_k — ties
    * replayed exactly), and the merged word table (w_{k+1}).
    */
  private def bpeTrainCtes(nM: Int): String = {
    val pat = operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
    val toks = "list_transform(string_split(word, chr(1))[2:], t -> replace(t, chr(2), ''))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""w0 AS MATERIALIZED (
         |  SELECT regexp_replace(pt, '(?s)(.)', chr(1)||'\\1'||chr(2), 'g') AS word,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(regexp_extract_all(
         |          replace(replace(text, chr(1), ''), chr(2), ''), '$pat')) AS pt
         |        FROM documents WHERE text IS NOT NULL)
         |  GROUP BY 1)""".stripMargin)
    for (k <- 0 until nM) {
      ctes += s"""p$k AS MATERIALIZED (
         |  SELECT z[1] AS a, z[2] AS b, SUM(cnt) AS n FROM (
         |    SELECT cnt, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS z
         |    FROM (SELECT cnt, $toks AS toks FROM w$k))
         |  GROUP BY 1, 2)""".stripMargin
      ctes += s"m$k AS MATERIALIZED (SELECT a, b FROM p$k ORDER BY n DESC, a, b LIMIT 1)"
      ctes += s"""w${k + 1} AS MATERIALIZED (
         |  SELECT replace(word,
         |    chr(1)||(SELECT a FROM m$k)||chr(2)||chr(1)||(SELECT b FROM m$k)||chr(2),
         |    chr(1)||(SELECT a FROM m$k)||(SELECT b FROM m$k)||chr(2)) AS word, cnt
         |  FROM w$k)""".stripMargin
    }
    ctes.mkString(",\n")
  }

  /** DuckDB expression: the full BPE token ARRAY of `text` — flattened
    * per-pre-token token lists recovered from the delimited replay.
    */
  private def bpeOracleToks: String = {
    val pat = operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
    s"flatten(list_transform(regexp_extract_all(" +
      s"replace(replace(text, chr(1), ''), chr(2), ''), '$pat'), " +
      s"pt -> list_transform(string_split($bpeOracleChain, chr(1))[2:], " +
      "t -> replace(t, chr(2), ''))))"
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2)) * CAST(1.0 + l_tax AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        | count(*) AS count_order,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,

    "q_join_large" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_filter_pushdown" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity >= 45 AND l_discount >= 0.05
        |GROUP BY l_returnflag""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    "q_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment, o_orderpriority
        |FROM customer JOIN orders ON o_custkey = c_custkey""".stripMargin,

    "q_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal < 0
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        | count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        | count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS n_dims,
        | list_max(embedding) AS max_v, list_min(embedding) AS min_v,
        | embedding[1] AS first_v
        |FROM embeddings""".stripMargin,

    "q_custom_udaf" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2)) * CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) / count(*)
        |   - (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) / count(*))
        |     * (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) / count(*)) AS var_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_cube" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_cust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE(n_name, c_mktsegment)""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 0""".stripMargin,

    "q_lateral_topk" ->
      """SELECT n_name, t.c_custkey, t.c_acctbal
        |FROM nation,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part""".stripMargin,

    "q_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        | CAST(length(p_name) AS INTEGER) AS name_len,
        | substr(p_name, 1, 12) AS name_pfx,
        | concat(p_type, '#', p_brand) AS type_brand,
        | p_size % 7 AS size_mod,
        | abs(p_retailprice - 1000.0) AS price_diff
        |FROM part""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(month(o_orderdate) AS INTEGER) AS mo,
        | strftime(o_orderdate, '%Y-%m-%d') AS od
        |FROM orders""".stripMargin,

    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        | event_type, count(*) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY hour_s, event_type""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        | min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |               > 28800000000 THEN 1 ELSE 0 END AS s
        |    FROM events))
        |GROUP BY user_id, session_idx""".stripMargin,

    "q_stream_dedup" ->
      "SELECT event_id, user_id, event_type FROM events",

    "q_stream_sessionize" ->
      """SELECT user_id, count(*) AS n_events,
        | min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    SUM(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |            OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |               > 28800000000 THEN 1 ELSE 0 END AS s
        |    FROM events))
        |GROUP BY user_id, session_idx""".stripMargin,

    "q_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        | event_type, count(*) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY hour_s, event_type""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,

    // Per-node triangle credit via the same unoriented cubic join as
    // q_triangles, each triangle unioned to its three corners. Operands
    // of the coefficient are small exact integers, so the one division
    // is correctly rounded identically in both engines.
    "q_clustering_coef" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_quantity >= 45),
        |pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs)
        |  GROUP BY 1),
        |tris AS MATERIALIZED (
        |  SELECT p1.u AS a, p1.v AS b, p2.v AS c FROM pairs p1
        |  JOIN pairs p2 ON p2.u = p1.u AND p2.v > p1.v
        |  JOIN pairs p3 ON p3.u = p1.v AND p3.v = p2.v),
        |pt AS (SELECT n, count(*) AS t FROM (
        |  SELECT a AS n FROM tris UNION ALL SELECT b AS n FROM tris
        |  UNION ALL SELECT c AS n FROM tris) GROUP BY 1)
        |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
        |  CAST(coalesce(pt.t, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN deg.d >= 2 THEN
        |    2.0 * coalesce(pt.t, 0) / (CAST(deg.d AS DOUBLE) * (deg.d - 1))
        |  END AS coeff
        |FROM deg LEFT JOIN pt ON deg.n = pt.n""".stripMargin,

    // BFS as a recursive CTE: UNION-dedup on (node, dist) pairs bounds
    // the walk, min(dist) is the BFS distance; dist < 10 caps recursion
    // far past the graph's eccentricity (2-3 on this dense graph) — the
    // kcore margin convention.
    "q_bfs" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_quantity >= 45),
        |pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        |sym AS MATERIALIZED (
        |  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
        |walk(node, dist) AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
        |  UNION
        |  SELECT e.v AS node, w.dist + 1 AS dist
        |  FROM walk w JOIN sym e ON e.u = w.node WHERE w.dist < 10)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1""".stripMargin,

    // Peeling unrolled 12 rounds (the fixpoint takes 4 at sf0.01, 3 at
    // sf1; extra rounds are no-ops, too FEW would loudly hash-mismatch),
    // generated as a CTE chain — the pagerank-oracle iteration-replay
    // idiom applied to a data-dependent round count with safety margin.
    "q_kcore" -> {
      val rounds = (1 to 12).map { i =>
        s""",
           |d${i - 1} AS MATERIALIZED (
           |  SELECT n FROM (SELECT u AS n FROM e${i - 1}
           |                 UNION ALL SELECT v AS n FROM e${i - 1})
           |  GROUP BY 1 HAVING count(*) >= 22),
           |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
           |        WHERE u IN (SELECT n FROM d${i - 1})
           |          AND v IN (SELECT n FROM d${i - 1}))""".stripMargin
      }.mkString
      s"""WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
         |            WHERE l_quantity >= 45),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey)$rounds
         |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
         |FROM (SELECT u AS n FROM e12 UNION ALL SELECT v AS n FROM e12)
         |GROUP BY 1 HAVING count(*) >= 22""".stripMargin
    },

    // An UNORIENTED cubic join over canonical u<v edges — an independent
    // formulation: each triangle a<b<c counted once as (a,b)+(a,c)+(b,c),
    // no degree ordering anywhere, so an orientation bug cannot cancel.
    "q_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_quantity >= 45),
        |pairs AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        |deg AS (SELECT n FROM (
        |  SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs)
        |  GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs p1
        |     JOIN pairs p2 ON p2.u = p1.u AND p2.v > p1.v
        |     JOIN pairs p3 ON p3.u = p1.v AND p3.v = p2.v) AS n_triangles""".stripMargin,

    // Window starts reconstructed as 15-min-bucket − k·15min, k=0..3;
    // every such start covers the event (it sits within 45 min of its
    // bucket start), which is exactly Spark's window(ts, 1h, 15m) set.
    "q_hopping_window" ->
      """SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
        |    - k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS win_s,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
        |    AS sum_value
        |FROM events, LATERAL unnest(generate_series(0, 3)) AS g(k)
        |GROUP BY 1, 2""".stripMargin,

    // Quintiles replayed with the same floor((rank−1)·5/n) double
    // arithmetic; the monetary double goes through the VARCHAR hop
    // (DuckDB's direct DECIMAL→DOUBLE cast double-rounds — the q1_agg
    // class).
    "q_rfm" ->
      """WITH pur AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |base AS (
        |  SELECT user_id,
        |    ((SELECT max(t_us) FROM pur) - max(t_us)) // 86400000000 AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS mon_d
        |  FROM pur GROUP BY 1),
        |scored AS (
        |  SELECT user_id, recency_days, frequency, mon_d,
        |    CAST(1 + floor((CAST(row_number() OVER (
        |      ORDER BY recency_days DESC, user_id) AS DOUBLE) - 1.0) * 5.0
        |      / (SELECT count(*) FROM base)) AS INTEGER) AS r_score,
        |    CAST(1 + floor((CAST(row_number() OVER (
        |      ORDER BY frequency, user_id) AS DOUBLE) - 1.0) * 5.0
        |      / (SELECT count(*) FROM base)) AS INTEGER) AS f_score,
        |    CAST(1 + floor((CAST(row_number() OVER (
        |      ORDER BY mon_d, user_id) AS DOUBLE) - 1.0) * 5.0
        |      / (SELECT count(*) FROM base)) AS INTEGER) AS m_score
        |  FROM base)
        |SELECT user_id, recency_days, frequency,
        |  CAST(CAST(mon_d AS VARCHAR) AS DOUBLE) AS monetary,
        |  r_score, f_score, m_score,
        |  CASE
        |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
        |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
        |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_light'
        |    ELSE 'mid' END AS segment
        |FROM scored""".stripMargin,

    // Forecast = same hour yesterday, joined on the exact t−24h bucket.
    "q_backtest_snaive" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(SUM(abs(a.n - f.n)) AS BIGINT) AS abs_err,
        |  CAST(CAST(SUM(abs(a.n - f.n)) AS BIGINT) AS DOUBLE) / count(*) AS mae,
        |  CAST(CAST(SUM(a.n - f.n) AS BIGINT) AS DOUBLE) / count(*) AS bias
        |FROM hourly a JOIN hourly f
        |  ON a.event_type = f.event_type
        |  AND f.h = a.h - INTERVAL 24 HOURS
        |GROUP BY 1""".stripMargin,

    // open/close via rank-1 conditional aggregation — an independent
    // formulation of the engine's min_by/max_by-over-struct picks.
    "q_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar,
        |    ts, event_id, value,
        |    row_number() OVER (
        |      PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (
        |      PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, bar, CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close
        |FROM e GROUP BY 1, 2""".stripMargin,

    // row_number over the same md5-scatter key the engine ranks with the
    // distributed prefix sum.
    "q_global_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY
        |    md5('shuffle-v1' || CAST(doc_id AS VARCHAR))
        |      || '|' || CAST(doc_id AS VARCHAR)) - 1 AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    "q_skew_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // Bucketing changes the plan, never the result: same oracle join.
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_outer_join" ->
      """SELECT c.c_custkey, c.c_name, o.o_custkey, o.n_big, o.sum_big
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0) c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, count(*) AS n_big,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_big
        |  FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey""".stripMargin,

    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, l.t_us, r.p_us, r.purchase_id
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events) l
        |ASOF LEFT JOIN (
        |  SELECT user_id, epoch_us(ts) AS p_us, min(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_us(ts)) r
        |ON l.user_id = r.user_id AND l.t_us >= r.p_us""".stripMargin,

    // Tolerance nulls the asof match beyond the 2-hour bound; "latest
    // within [t - tol, t]" equals "asof match, bounded" — any in-window
    // right row would itself be the asof match.
    "q_asof_tolerance" ->
      """SELECT l.event_id, l.user_id, l.t_us,
        |  CASE WHEN l.t_us - r.p_us <= 7200000000 THEN r.p_us END AS p_us,
        |  CASE WHEN l.t_us - r.p_us <= 7200000000
        |    THEN r.purchase_id END AS purchase_id
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events) l
        |ASOF LEFT JOIN (
        |  SELECT user_id, epoch_us(ts) AS p_us, min(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_us(ts)) r
        |ON l.user_id = r.user_id AND l.t_us >= r.p_us""".stripMargin,

    "q_stream_asof" ->
      """SELECT l.event_id, l.user_id, l.t_ms, r.p_ms, r.purchase_id
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events) l
        |ASOF LEFT JOIN (
        |  SELECT user_id, epoch_ms(ts) AS p_ms, min(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_ms(ts)) r
        |ON l.user_id = r.user_id AND l.t_ms >= r.p_ms""".stripMargin,

    // The BATCH form of the streaming symmetric-hash join — streaming and
    // batch must produce the identical pair set. Same millisecond
    // truncation as q_stream_asof; the +3600000 is the INTERVAL 1 HOUR.
    "q_stream_interval_join" ->
      """SELECT l.event_id, l.user_id, l.t_ms, r.p_ms, r.purchase_id
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events) l
        |JOIN (SELECT user_id AS p_user, event_id AS purchase_id,
        |        epoch_ms(ts) AS p_ms
        |      FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.p_user
        |  AND r.p_ms BETWEEN l.t_ms AND l.t_ms + 3600000""".stripMargin,

    "q_stream_interval_join_left" ->
      """SELECT l.event_id, l.user_id, l.t_ms, r.p_ms, r.purchase_id
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events) l
        |LEFT JOIN (SELECT user_id AS p_user, event_id AS purchase_id,
        |        epoch_ms(ts) AS p_ms
        |      FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.p_user
        |  AND r.p_ms BETWEEN l.t_ms AND l.t_ms + 3600000""".stripMargin,

    "q_stream_interval_join_full" ->
      """SELECT l.event_id, l.user_id, l.t_ms, r.p_ms, r.purchase_id
        |FROM (SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events
        |      WHERE event_type <> 'purchase') l
        |FULL JOIN (SELECT user_id AS p_user, event_id AS purchase_id,
        |        epoch_ms(ts) AS p_ms
        |      FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.p_user
        |  AND r.p_ms BETWEEN l.t_ms AND l.t_ms + 3600000""".stripMargin,

    "q_range_join" ->
      """SELECT c_custkey, c_acctbal, n_nationkey, lo, hi
        |FROM customer JOIN (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 400.0 - 1000.0 AS DOUBLE) AS lo,
        |    CAST(n_nationkey * 400.0 - 1000.0 + 600.0 AS DOUBLE) AS hi
        |  FROM nation) bands
        |ON c_acctbal BETWEEN lo AND hi""".stripMargin,

    "q_interval_overlap" ->
      """SELECT a.o_orderkey AS a_id, b.o_orderkey AS b_id,
        |  a.o_totalprice AS a_lo, b.o_totalprice AS b_lo
        |FROM (SELECT * FROM orders WHERE o_orderkey % 100 = 0) a
        |JOIN (SELECT * FROM orders WHERE o_orderkey % 100 = 50) b
        |  ON a.o_totalprice <= b.o_totalprice + 30000
        | AND b.o_totalprice <= a.o_totalprice + 30000""".stripMargin,

    "q_fuzzy_join" ->
      """SELECT id_a, id_b, dist FROM (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |) WHERE dist <= 1""".stripMargin,

    "q_fuzzy_join_fastss" ->
      """SELECT id_a, id_b, dist FROM (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |   AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |) WHERE dist <= 1""".stripMargin,

    "q_vec_dot_sql" ->
      """SELECT vec_id,
        | list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS self_dot
        |FROM embeddings""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,

    "q_colf_write_roundtrip" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q_json_roundtrip" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        | CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    "q_colf_runtime_prune" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey, count(*) AS n,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 3000
        |GROUP BY l_orderkey""".stripMargin,

    "q_colf_zorder" ->
      """SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey,
        | CAST(o_custkey AS INTEGER) AS o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey < 400
        |  AND o_totalprice >= 50000 AND o_totalprice < 150000""".stripMargin,

    "q_colf_project" ->
      "SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_acctbal FROM customer",

    "q_colf_scan_full" ->
      """SELECT CAST(l_orderkey AS INTEGER) AS l_orderkey, l_linenumber, l_quantity,
        | l_extendedprice, l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate_s
        |FROM lineitem""".stripMargin,

    "q_colf_filter" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey < 1500
        |GROUP BY o_orderpriority""".stripMargin,

    "q_colf_partitioned" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment""".stripMargin,

    "q_colf_compact" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal,
        | CAST(min(c_custkey) AS INTEGER) AS min_ck,
        | CAST(max(c_custkey) AS INTEGER) AS max_ck
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_colf_overwrite" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal,
        | min(ck) AS min_ck, max(ck) AS max_ck
        |FROM (
        |  SELECT c_mktsegment, c_acctbal, CAST(c_custkey AS INTEGER) AS ck
        |  FROM customer WHERE c_mktsegment <> 'BUILDING'
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal * 2, CAST(c_custkey + 100000 AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |) GROUP BY c_mktsegment""".stripMargin,

    "q_colf_merge_sql" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal,
        | min(ck) AS min_ck, max(ck) AS max_ck
        |FROM (
        |  SELECT c_mktsegment, c_acctbal, CAST(c_custkey AS INTEGER) AS ck
        |  FROM customer
        |  WHERE c_mktsegment <> 'BUILDING' OR c_custkey % 2 = 1
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal * 2, CAST(c_custkey AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal, CAST(c_custkey + 300000 AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 1
        |) GROUP BY c_mktsegment""".stripMargin,

    "q_colf_merge" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal,
        | min(ck) AS min_ck, max(ck) AS max_ck
        |FROM (
        |  SELECT c_mktsegment, c_acctbal, CAST(c_custkey AS INTEGER) AS ck
        |  FROM customer
        |  WHERE c_mktsegment <> 'BUILDING' OR c_custkey % 2 = 1
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal * 2, CAST(c_custkey AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_mktsegment, c_acctbal, CAST(c_custkey + 200000 AS INTEGER)
        |  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 1
        |) GROUP BY c_mktsegment""".stripMargin,

    "q_colf_delete" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_mktsegment NOT IN ('MACHINERY', 'FURNITURE')
        |GROUP BY c_mktsegment""".stripMargin,

    "q_colf_meta_agg" ->
      """SELECT l_returnflag, count(*) AS n, count(l_quantity) AS n_qty,
        | CAST(min(l_orderkey) AS INTEGER) AS min_ok,
        | CAST(max(l_orderkey) AS INTEGER) AS max_ok,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | min(l_linestatus) AS min_mode, max(l_linestatus) AS max_mode
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_colf_stream_sink" ->
      "SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_name, c_acctbal FROM customer",

    "q_colf_versioned" ->
      """SELECT CAST(doc_id AS INTEGER) AS doc_id, source, lang, 'v1' AS snap
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(doc_id AS INTEGER) AS doc_id, source, lang, 'v2' AS snap
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    "q_colf_changes" ->
      """SELECT CAST(doc_id AS INTEGER) AS doc_id, source, lang
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    "q_colf_timetravel" ->
      """SELECT CAST(doc_id AS INTEGER) AS doc_id, source, lang, 'v1' AS snap
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(doc_id AS INTEGER) AS doc_id, source, lang, 'latest' AS snap
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,

    "q_colf_ddl" ->
      """SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_acctbal, c_mktsegment,
        | CAST(NULL AS INTEGER) AS nation_id
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT CAST(c_custkey AS INTEGER), c_acctbal, c_mktsegment,
        | CAST(c_nationkey AS INTEGER)
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin,

    "q_colf_dv" ->
      """SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_acctbal, 'v1' AS snap
        |FROM customer
        |UNION ALL
        |SELECT CAST(c_custkey AS INTEGER),
        | CASE WHEN c_custkey % 10 = 4 THEN c_acctbal * 2 ELSE c_acctbal END,
        | 'cur' AS snap
        |FROM customer WHERE c_custkey % 10 <> 3""".stripMargin,

    "q_colf_spj" ->
      """SELECT a.c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(a.c_acctbal + b.c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer a
        |JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) b
        |  ON a.c_mktsegment = b.c_mktsegment
        |GROUP BY a.c_mktsegment""".stripMargin,

    "q_colf_cdf" ->
      """SELECT CAST(c_custkey AS INTEGER) AS c_custkey, c_acctbal,
        | 'insert' AS _change_type, CAST(1 AS INTEGER) AS _commit_version
        |FROM customer
        |UNION ALL
        |SELECT CAST(c_custkey AS INTEGER), c_acctbal, 'delete', CAST(2 AS INTEGER)
        |FROM customer WHERE c_custkey % 10 = 3
        |UNION ALL
        |SELECT CAST(c_custkey AS INTEGER), c_acctbal, 'delete', CAST(3 AS INTEGER)
        |FROM customer WHERE c_custkey % 10 = 4
        |UNION ALL
        |SELECT CAST(c_custkey AS INTEGER), c_acctbal * 2, 'insert', CAST(3 AS INTEGER)
        |FROM customer WHERE c_custkey % 10 = 4""".stripMargin,

    "q_colf_version_diff" ->
      """SELECT CAST(doc_id AS INTEGER) AS doc_id, source, 'added' AS change
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
        |UNION ALL
        |SELECT CAST(doc_id AS INTEGER) AS doc_id, source, 'removed' AS change
        |FROM documents WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0""".stripMargin,

    "q_colf_stream_source" ->
      """SELECT c_mktsegment, count(*) AS n,
        | CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_csv_write_roundtrip" -> "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q_colf_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        | CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_csv_scan" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
        | CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation""".stripMargin,

    "q_infer_schema" ->
      """SELECT * FROM (VALUES
        | (0, 'c_custkey', 'int32', false),
        | (1, 'c_name', 'utf8', false),
        | (2, 'c_acctbal', 'float64', false),
        | (3, 'c_mktsegment', 'utf8', false))
        |AS t(ordinal, col_name, colf_type, nullable)""".stripMargin,

    "q_header_schema" ->
      """SELECT t.*, (SELECT CAST(count(*) AS INTEGER) FROM nation) AS num_rows FROM (VALUES
        | (0, 'n_nationkey', 'int32', true),
        | (1, 'n_name', 'utf8', true),
        | (2, 'n_regionkey', 'int32', true))
        |AS t(ordinal, col_name, colf_type, nullable)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT substr(text, 1, 40) AS key, count(*) AS n, min(doc_id) AS first_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_upsert" ->
      """SELECT c_custkey, c_name, c_acctbal FROM (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_name || ' (updated)' ELSE c_name END AS c_name,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, 0.0 FROM customer WHERE c_custkey % 100 = 0)""".stripMargin,

    "q_dedup_keep_first" ->
      "SELECT min(doc_id) AS doc_id, lang, source FROM documents GROUP BY lang, source",

    "q_dedup_report" ->
      """WITH k AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
        |FROM documents JOIN k USING (doc_id)
        |GROUP BY 1""".stripMargin,

    "q_dedup_normalized" ->
      """SELECT norm, count(*) AS n, min(doc_id) AS first_id FROM (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(substr(
        |    CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |         WHEN doc_id % 3 = 1 THEN text || ' !!!  '
        |         ELSE text END, 1, 40)),
        |    '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |GROUP BY norm""".stripMargin,

    "q_span_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || ' graft span alpha beta gamma delta epsilon zeta eta theta'
        |    ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM planted
        |), occ AS (
        |  SELECT doc_id, i AS pos, array_to_string(t[(i+1):(i+8)], ' ') AS gram
        |  FROM toks, UNNEST(range(0, len(t)-8+1)) AS u(i)
        |  WHERE len(t) >= 8
        |), rem AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk,
        |      count(*) OVER (PARTITION BY gram) AS c
        |    FROM occ) WHERE c > 1 AND rk > 1
        |), marked AS (
        |  SELECT DISTINCT doc_id, pos + off AS p FROM rem, UNNEST(range(0, 8)) AS o(off)
        |), tokpos AS (
        |  SELECT doc_id, CAST(unnest(generate_series(0, len(t)-1)) AS INTEGER) AS p,
        |    unnest(t) AS tok
        |  FROM toks
        |), kept AS (
        |  SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp
        |  LEFT JOIN marked m ON m.doc_id = tp.doc_id AND m.p = tp.p
        |  WHERE m.doc_id IS NULL
        |)
        |SELECT d.doc_id, coalesce(k.ct, '') AS clean_text,
        |  CAST(d.n AS INTEGER) AS n_tokens,
        |  CAST(d.n - coalesce(k.nk, 0) AS INTEGER) AS n_removed
        |FROM (SELECT doc_id, len(t) AS n FROM toks) d
        |LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS ct,
        |    count(*) AS nk
        |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin,

    "q_ngram_jaccard" ->
      """SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
        |    CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS DOUBLE) AS jaccard
        |  FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ts FROM documents) a
        |  JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ts FROM documents) b
        |    ON a.source = b.source AND a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.5""".stripMargin,

    "q_dedup_cosine" ->
      """SELECT id_a, id_b, cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cos
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
        |    ON a.vec_id < b.vec_id
        |) WHERE cos >= 0.35""".stripMargin,

    "q_sim_ann" -> SimAnnOracleSql,

    // The streaming-maintained index is bit-identical to the one-shot
    // build by construction (per-row signatures, fixed knobs), so the
    // search result shares q_sim_ann's oracle verbatim.
    "q_stream_ann" -> SimAnnOracleSql,

    "q_sim_ivf" -> {
      // IVF top-k recomputed independently: 3 inlined coarse planes
      // assign inverted lists, per-list centroids are exact DECIMAL
      // means (partial-aggregation-order-proof, same as the operator),
      // each query probes its nProbe=2 best centroids (cosine desc,
      // bucket tie-break — the wProbe window), probed lists are searched
      // exactly, per-query top-5 with nbr_id tie-break.
      val cb = 3; val nProbe = 2; val k = 5
      val hp = operators.Similarity.hyperplanes(cb, 64, 42L)
      def planeLit(p: Array[Double]) =
        p.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")
      val csig = (0 until cb).map { i =>
        s"(CASE WHEN list_dot_product(e, ${planeLit(hp(i))}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH dv AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         |), cs AS (
         |  SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm, $csig AS bucket FROM dv
         |), qs AS (
         |  SELECT id, e, nrm FROM cs WHERE id < 8
         |), cents AS (
         |  SELECT bucket, list(mn ORDER BY pos) AS centroid FROM (
         |    SELECT cs.bucket, p.pos,
         |      CAST(CAST(SUM(CAST(cs.e[p.pos] AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS mn
         |    FROM cs, UNNEST(range(1, 65)) p(pos)
         |    GROUP BY cs.bucket, p.pos
         |  ) GROUP BY bucket
         |), psel AS (
         |  SELECT query_id, bucket FROM (
         |    SELECT q.id AS query_id, ct.bucket,
         |      row_number() OVER (PARTITION BY q.id ORDER BY
         |        list_dot_product(q.e, ct.centroid) /
         |          (q.nrm * sqrt(list_dot_product(ct.centroid, ct.centroid))) DESC,
         |        ct.bucket) AS prank
         |    FROM qs q, cents ct)
         |  WHERE prank <= $nProbe
         |), scored AS (
         |  SELECT p.query_id, c.id AS nbr_id,
         |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
         |  FROM psel p JOIN cs c ON c.bucket = p.bucket
         |  JOIN qs q ON q.id = p.query_id
         |  WHERE c.id <> p.query_id
         |)
         |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank, cos FROM (
         |  SELECT query_id, nbr_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn
         |  FROM scored WHERE cos IS NOT NULL)
         |WHERE rn <= $k""".stripMargin
    },

    "q_sim_pq" -> {
      // PQ is deterministic end-to-end given its seeded subspace planes:
      // per-subspace sign codes, exact DECIMAL-mean codebooks, ADC
      // lookup-table scoring (the m partial products summed in explicit
      // s-order, matching the operator's left fold), k×refine candidate
      // cut, exact re-rank — every stage recomputed independently by
      // DuckDB from inlined plane literals. Ties break on nbr_id
      // ascending at both cuts, exactly like TopKByScore. Dim pinned to
      // the contract's 64 (see q_dedup_cosine_lsh note on drift).
      val m = 8; val bits = 6; val sub = 8; val k = 5; val refine = 8
      def planeLit(p: Array[Double]) =
        p.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")
      val codeCols = (0 until m).map { s =>
        val hp = operators.Similarity.hyperplanes(bits, sub, 42L + s)
        val lo = s * sub + 1; val hi = s * sub + sub
        (0 until bits).map { i =>
          s"(CASE WHEN list_dot_product(e[$lo:$hi], ${planeLit(hp(i))}) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("(", " + ", s") AS c$s")
      }.mkString(",\n    ")
      val caseCode = "CASE u.s " +
        (0 until m).map(s => s"WHEN $s THEN c$s").mkString(" ") + " END"
      val adcSum = (0 until m).map(s => s"max(CASE WHEN l.s=$s THEN l.p END)").mkString(" + ")
      s"""WITH dv AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         |), qs AS (
         |  SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm FROM dv WHERE id < 8
         |), codes AS (
         |  SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm,
         |    $codeCols
         |  FROM dv
         |), cl AS (
         |  SELECT id, u.s, $caseCode AS code, e
         |  FROM codes, UNNEST(range(0, $m)) u(s)
         |), cb AS (
         |  SELECT s, code, list(mn ORDER BY pos) AS centroid FROM (
         |    SELECT cl.s, cl.code, p.pos,
         |      CAST(CAST(SUM(CAST(cl.e[cl.s * $sub + p.pos] AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS mn
         |    FROM cl, UNNEST(range(1, ${sub + 1})) p(pos)
         |    GROUP BY cl.s, cl.code, p.pos
         |  ) GROUP BY s, code
         |), lut AS (
         |  SELECT q.id AS query_id, cb.s, cb.code,
         |    list_dot_product(q.e[cb.s * $sub + 1 : cb.s * $sub + $sub], cb.centroid) AS p
         |  FROM qs q, cb
         |), padc AS (
         |  SELECT l.query_id, cl.id AS nbr_id, $adcSum AS adc
         |  FROM cl JOIN lut l ON l.s = cl.s AND l.code = cl.code
         |  WHERE l.query_id <> cl.id
         |  GROUP BY l.query_id, cl.id
         |), adccos AS (
         |  SELECT p.query_id, p.nbr_id, p.adc / (q.nrm * c.nrm) AS cos
         |  FROM padc p JOIN qs q ON q.id = p.query_id JOIN codes c ON c.id = p.nbr_id
         |), cand AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT query_id, nbr_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn
         |    FROM adccos WHERE cos IS NOT NULL)
         |  WHERE rn <= ${k * refine}
         |), exact AS (
         |  SELECT c.query_id, c.nbr_id,
         |    list_dot_product(q.e, n.e) / (q.nrm * n.nrm) AS cos
         |  FROM cand c JOIN qs q ON q.id = c.query_id JOIN codes n ON n.id = c.nbr_id
         |)
         |SELECT query_id, nbr_id, CAST(rn AS INTEGER) AS rank, cos FROM (
         |  SELECT query_id, nbr_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rn
         |  FROM exact WHERE cos IS NOT NULL)
         |WHERE rn <= $k""".stripMargin
    },

    "q_dedup_cosine_lsh" -> {
      // The SAME 32 banded planes the operator derives (8 bands × 4 sign
      // bits, seeded gaussians over the 64-dim corpus), inlined as
      // shortest-round-trip double literals — DuckDB independently
      // recomputes every band key, the candidate set (pairs sharing ANY
      // band key), exact cosine verification, and the fingerprint-group
      // expansion (grouping by the vector VALUE, which equals the
      // operator's xxhash64-fingerprint grouping for well-formed data).
      // Dim is deliberately pinned to the contract's 64 (like
      // q_dedup_semantic): under an embedding-dim drift this mismatches
      // LOUDLY while the operator adapts — the failure mode we want now
      // that DataContract names the drift.
      val hp = operators.Similarity.hyperplanes(32, 64, 42L)
      def planeLit(p: Array[Double]) =
        p.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")
      val bandKeys = (0 until 8).map { b =>
        (0 until 4).map { i =>
          s"(CASE WHEN list_dot_product(e, ${planeLit(hp(b * 4 + i))}) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString("(", " + ", s") AS k$b")
      }.mkString(",\n    ")
      val orJoin = (0 until 8).map(b => s"a.k$b = b.k$b").mkString(" OR ")
      s"""WITH dv AS (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         |), grp AS (
         |  SELECT e, min(id) AS rep FROM dv GROUP BY e
         |), reps AS (
         |  SELECT rep AS id, e FROM grp
         |), bk AS (
         |  SELECT id,
         |    $bandKeys
         |  FROM reps
         |), cand AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM bk a JOIN bk b ON a.id < b.id AND ($orJoin)
         |), verified AS (
         |  SELECT c.id_a, c.id_b,
         |    list_dot_product(ra.e, rb.e) /
         |      (sqrt(list_dot_product(ra.e, ra.e)) * sqrt(list_dot_product(rb.e, rb.e))) AS cos
         |  FROM cand c JOIN reps ra ON ra.id = c.id_a JOIN reps rb ON rb.id = c.id_b
         |  WHERE list_dot_product(ra.e, rb.e) /
         |      (sqrt(list_dot_product(ra.e, ra.e)) * sqrt(list_dot_product(rb.e, rb.e))) >= 0.35
         |), members AS (
         |  SELECT g.rep, d.id FROM dv d JOIN grp g ON d.e = g.e
         |), cross_exp AS (
         |  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, v.cos
         |  FROM verified v JOIN members ma ON ma.rep = v.id_a JOIN members mb ON mb.rep = v.id_b
         |), selfcos AS (
         |  SELECT id AS rep, list_dot_product(e, e) /
         |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(e, e))) AS cos
         |  FROM reps
         |), intra AS (
         |  SELECT ma.id AS id_a, mb.id AS id_b, sc.cos
         |  FROM members ma JOIN members mb ON ma.rep = mb.rep AND ma.id < mb.id
         |  JOIN selfcos sc ON sc.rep = ma.rep
         |  WHERE sc.cos >= 0.35
         |)
         |SELECT id_a, id_b, cos FROM cross_exp
         |UNION ALL
         |SELECT id_a, id_b, cos FROM intra""".stripMargin
    },

    "q_dedup_semantic" -> {
      // The SAME coarse planes the operator derives (seeded
      // scala.util.Random gaussians), rendered as shortest-round-trip
      // double literals — DuckDB's correctly-rounded parse recovers the
      // identical doubles, so bucket signs, pair cosines, and components
      // are all recomputed independently. Within-bucket ALL-pairs here
      // equals the operator's rep-pairs + intra-group star edges at
      // component level (identical vectors share a bucket).
      val hp = operators.Similarity.hyperplanes(4, 64, 42L)
      def planeLit(p: Array[Double]) =
        p.map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")
      val bucket = hp.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH RECURSIVE bk AS (
         |  SELECT vec_id, e, $bucket AS bucket
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e) /
         |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35
         |), sym AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM sym
         |  UNION
         |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
         |)
         |SELECT id, component, id = component AS keep FROM (
         |  SELECT v.vec_id AS id,
         |    least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS component
         |  FROM embeddings v LEFT JOIN reach r ON r.src = v.vec_id
         |  GROUP BY v.vec_id)""".stripMargin
    },

    "q_contamination" ->
      """SELECT c.doc_id AS corpus_id, e.eval_id
        |FROM (SELECT doc_id, md5(text) AS h, length(text) AS l
        |      FROM documents WHERE text IS NOT NULL) c
        |JOIN (SELECT doc_id + 1000000 AS eval_id, md5(text) AS h, length(text) AS l
        |      FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL) e
        |ON c.h = e.h AND c.l = e.l""".stripMargin,

    "q_ngram_contamination" ->
      """WITH cg AS (
        |  SELECT DISTINCT doc_id AS corpus_id, md5(gram) AS g FROM (
        |    SELECT doc_id, array_to_string(t[i+1:i+5], ' ') AS gram FROM (
        |      SELECT doc_id, string_split(text, ' ') AS t
        |      FROM documents WHERE text IS NOT NULL),
        |      UNNEST(range(0, len(t)-5+1)) AS u(i)
        |    WHERE len(t) >= 5)
        |), eg AS (
        |  SELECT DISTINCT doc_id + 1000000 AS eval_id, md5(gram) AS g FROM (
        |    SELECT doc_id, array_to_string(t[i+1:i+5], ' ') AS gram FROM (
        |      SELECT doc_id, string_split(text, ' ') AS t
        |      FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL),
        |      UNNEST(range(0, len(t)-5+1)) AS u(i)
        |    WHERE len(t) >= 5)
        |)
        |SELECT corpus_id, eval_id, count(*) AS shared_ngrams
        |FROM cg JOIN eg USING (g)
        |GROUP BY corpus_id, eval_id""".stripMargin,

    "q_sample_split" -> {
      // thresholds computed by the SAME double arithmetic as
      // Sampling.assignSplits' cumulative fold (0.0+0.8, then +0.1 — IEEE
      // rounding included), so the hex literals match bit-for-bit
      val t1 = operators.Sampling.thresholdHex(0.0 + 0.8)
      val t2 = operators.Sampling.thresholdHex(0.0 + 0.8 + 0.1)
      s"""SELECT doc_id,
         |  CASE WHEN h < '$t1' THEN 'train' WHEN h < '$t2' THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |      FROM documents)""".stripMargin
    },

    "q_split_safe" -> {
      // Components over exact-dup star edges == min doc_id per md5(text)
      // group, so the oracle needs no recursion; the split CASE hashes
      // the COMPONENT with the same thresholds as q_sample_split.
      val t1 = operators.Sampling.thresholdHex(0.0 + 0.8)
      val t2 = operators.Sampling.thresholdHex(0.0 + 0.8 + 0.1)
      s"""SELECT id, component,
         |  CASE WHEN h < '$t1' THEN 'train' WHEN h < '$t2' THEN 'val' ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id AS id,
         |    min(doc_id) OVER (PARTITION BY md5(text)) AS component,
         |    substr(md5('graft' || CAST(min(doc_id) OVER (PARTITION BY md5(text)) AS VARCHAR)), 1, 8) AS h
         |  FROM documents WHERE text IS NOT NULL)""".stripMargin
    },

    "q_sample_budget" ->
      """SELECT id, cost, cum FROM (
        |  SELECT doc_id AS id, n_chars AS cost,
        |    CAST(SUM(n_chars) OVER (
        |      ORDER BY substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
        |        || lpad(CAST(doc_id AS VARCHAR), 20, '0')
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents)
        |WHERE cum <= 100000""".stripMargin,

    "q_group_budget" ->
      """SELECT grp, id, cost, cum FROM (
        |  SELECT source AS grp, doc_id AS id, n_chars AS cost,
        |    CAST(SUM(n_chars) OVER (
        |      PARTITION BY source
        |      ORDER BY substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8)
        |        || lpad(CAST(doc_id AS VARCHAR), 20, '0')
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM documents)
        |WHERE cum <= 3000""".stripMargin,

    "q_weighted_mix" -> {
      val half = operators.Sampling.thresholdHex(0.5)
      val quarter = operators.Sampling.thresholdHex(0.25)
      val none = operators.Sampling.thresholdHex(0.0)
      s"""SELECT doc_id, source, CAST(e AS INTEGER) AS epoch
         |FROM (
         |  SELECT doc_id, source, unnest(generate_series(0,
         |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
         |    + CASE WHEN substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) <
         |        CASE source WHEN 'src0' THEN '$half' WHEN 'src1' THEN '$quarter' ELSE '$none' END
         |      THEN 1 ELSE 0 END - 1)) AS e
         |  FROM documents)""".stripMargin
    },

    // The per-source keep threshold is DERIVED from the counts with the
    // exact chain the engine runs: floor(sqrt(c)*1e6) micros (floor, not
    // round — no tie semantics), exact integer total, two fixed-order
    // double divisions, floor(rate*2^32) hex. 'g' sorts above every hex
    // digit = keep-all.
    // source IS NOT NULL mirrors the engine's documented null-stratum
    // exclusion (Sampling.temperatureMixSqrt: a null source is never
    // keepable and must not inflate the weight total).
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS c FROM documents
        |  WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, c,
        |    CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        |  FROM c),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
        |r AS (SELECT source,
        |    CASE WHEN ((200 * w) / tw) / c >= 1.0 THEN 'g'
        |      ELSE lpad(lower(to_hex(CAST(floor((((200 * w) / tw) / c)
        |        * 4294967296.0) AS BIGINT))), 8, '0') END AS thr
        |  FROM w, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE substr(md5('graft' || CAST(d.doc_id AS VARCHAR)), 1, 8) < r.thr""".stripMargin,

    "q_stratified_sample" -> {
      val t25 = operators.Sampling.thresholdHex(0.25)
      val t100 = operators.Sampling.thresholdHex(1.0)
      val t50 = operators.Sampling.thresholdHex(0.5)
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |    substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |  FROM documents)
         |WHERE h < CASE source WHEN 'src0' THEN '$t25'
         |  WHEN 'src1' THEN '$t100' ELSE '$t50' END""".stripMargin
    },

    "q_per_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (
        |    PARTITION BY source
        |    ORDER BY substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 12""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a
        |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
        |    ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        |)
        |SELECT v.vec_id AS id, least(v.vec_id, coalesce(min(r.dst), v.vec_id)) AS component
        |FROM embeddings v LEFT JOIN reach r ON r.src = v.vec_id
        |GROUP BY v.vec_id""".stripMargin,

    // Independent replay of the exact-Jaccard clusters twin (VERDICT r20
    // #7): word 3-gram shingles (single-space split keeping empties,
    // whole-text fallback under 3 tokens — Dedup.shingleSet's contract),
    // DISTINCT per doc, pair Jaccard |∩|/|∪| as the same integer-ratio
    // doubles Spark computes, then min-label components via the
    // recursive reach CTE (q_dedup_clusters' shape). Docs with null text
    // or no qualifying pair label themselves.
    "q_dedup_clusters_exact" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN nt < 3 THEN array_to_string(t, ' ')
        |         ELSE array_to_string(t[i:i+2], ' ') END AS s
        |  FROM (
        |    SELECT doc_id, t, len(t) AS nt,
        |      unnest(generate_series(1,
        |        CASE WHEN len(t) < 3 THEN 1 ELSE len(t) - 2 END)) AS i
        |    FROM toks)
        |), cnt AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = inter.id_a
        |  JOIN cnt cb ON cb.doc_id = inter.id_b
        |  WHERE CAST(ni AS DOUBLE) / CAST(ca.n + cb.n - ni AS DOUBLE) >= 0.4
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
        |)
        |SELECT d.doc_id AS id, least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
        |FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,

    // Ground truth is closed-form by construction of the planted images:
    // within a pattern (doc_id mod 10) every variant pair sits at
    // Hamming ≤ 3, across patterns far above the radius (MultimodalSpec
    // pins the margin), so the near-dup components ARE the pattern
    // groups and the cluster label is each group's min doc_id.
    "q_dedup_image" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 10) AS cluster
        |FROM documents""".stripMargin,

    // Same closed-form planting scheme, audio flavor (MultimodalSpec pins
    // the audio margins too).
    "q_dedup_audio" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 10) AS cluster
        |FROM documents""".stripMargin,

    // And the video flavor: real MJPEG/AVI decode on the Spark side,
    // the identical closed-form pattern-group truth on the oracle side
    // (MultimodalSpec pins every planted (pattern, flips) hash).
    "q_dedup_video" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 10) AS cluster
        |FROM documents""".stripMargin,

    // Containment ground truth from the planted-corpus id arithmetic:
    // shorts (id % 3 = 0) carry one pattern segment, compilations carry
    // (p, p+1 mod 10); segment hashes are pure functions of the pattern
    // (spec-pinned), so containment pairs and alignments are closed-form.
    // Shared by ALL THREE containment fronts — video frames, audio
    // windows, text paragraphs — because their planted corpora follow
    // the identical doc-id arithmetic through ONE generic core
    // (Multimodal.clipContainment).
    "q_video_containment" -> ContainmentOracleSql,
    "q_audio_containment" -> ContainmentOracleSql,
    "q_text_containment" -> ContainmentOracleSql,
    "q_containment_groups" -> ContainmentGroupsOracleSql,

    // mdat-payload digest groups == pattern groups, by the
    // plantedMp4Table construction (mux variants re-wrap one payload per
    // pattern) — the q_dedup_image oracle shape.
    "q_dedup_mp4_exact" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY doc_id % 10) AS cluster
        |FROM documents""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
         | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         | CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
         | CAST(len(list_filter(string_split(text, ' '), t -> t IN $StopList)) AS INTEGER) AS n_stop,
         | CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct
         |FROM documents""".stripMargin,

    "q_quality_score" ->
      s"""SELECT doc_id, stop_ratio, punct_ratio,
         | least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2 AS quality
         |FROM (
         |  SELECT doc_id, n_tokens,
         |    CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
         |    CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio
         |  FROM (
         |    SELECT doc_id, length(text) AS n_chars,
         |      len(string_split(text, ' ')) AS n_tokens,
         |      len(list_filter(string_split(text, ' '), t -> t IN $StopList)) AS n_stop,
         |      len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
         |    FROM documents))""".stripMargin,

    "q_lang_id" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n    ")
      // First language (in LangMarkers order) reaching the max — mirrors the
      // strict-greater fold in TextAnalysis.langId.
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString("\n    ")
      s"""SELECT doc_id,
         |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    $cases
         |  END AS lang_pred
         |FROM (
         |  SELECT doc_id, text,
         |    $scores
         |  FROM documents)""".stripMargin
    },

    "q_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_regex_tokens
        |FROM documents""".stripMargin,

    // Same md5-bucket weights and long-numerator fold as
    // TextAnalysis.hashedLinearScore — scores must match bit-for-bit.
    "q_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
        |  FROM documents),
        |summed AS (
        |  -- NULL text propagates (ts IS NULL -> num NULL), matching the
        |  -- Spark side exactly; the coalesce covers only the EMPTY-list
        |  -- case, where list_sum returns NULL but Spark's fold returns 0
        |  SELECT doc_id, ts,
        |    CAST(CASE WHEN ts IS NULL THEN NULL ELSE
        |      coalesce(list_sum(list_transform(ts, t ->
        |        CAST(('0x' || substr(md5('w7-' || CAST(
        |          CAST(('0x' || substr(md5('b' || t), 1, 8)) AS BIGINT) % 65536
        |        AS VARCHAR)), 1, 8)) AS BIGINT) - 2147483648)), 0) END AS BIGINT) AS num
        |  FROM toks)
        |SELECT doc_id,
        |  CAST(len(ts) AS INTEGER) AS n_tokens,
        |  (CAST(num AS DOUBLE) / 4294967296.0) / CAST(greatest(len(ts), 1) AS DOUBLE) AS score,
        |  (CAST(num AS DOUBLE) / 4294967296.0) / CAST(greatest(len(ts), 1) AS DOUBLE) > 0.0 AS keep
        |FROM summed""".stripMargin,

    // The q_lang_id prediction CASE, grouped against the gold column.
    "q_langid_eval" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n    ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString("\n    ")
      s"""WITH pred AS (
         |  SELECT lang AS lang_gold,
         |    CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |      $cases
         |    END AS lang_pred
         |  FROM (SELECT lang, text, $scores FROM documents)),
         |m AS (SELECT lang_gold, lang_pred, CAST(count(*) AS BIGINT) AS n
         |      FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang_gold, CAST(count(*) AS BIGINT) AS n_gold
         |        FROM pred GROUP BY 1)
         |SELECT m.lang_gold, m.lang_pred, m.n, tot.n_gold,
         |  CAST(m.n AS DOUBLE) / tot.n_gold AS frac
         |FROM m JOIN tot ON m.lang_gold = tot.lang_gold""".stripMargin
    },

    // Same formulas as q_quality_score / q_lang_id, reached through the
    // SQL function registry on the Spark side.
    "q_sql_text_funcs" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n    ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString("\n    ")
      s"""SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
         |  least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
         |    + (CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.3
         |    + (1.0 - CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 0.2 AS quality,
         |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |    $cases
         |  END AS lang_pred
         |FROM (
         |  SELECT doc_id, text, length(text) AS n_chars,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_filter(string_split(text, ' '), t -> t IN $StopList)) AS n_stop,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |    $scores
         |  FROM documents)""".stripMargin
    },

    // Quantized unigram surprisal: floorlog2 via length(bin(x))-1 on
    // exact integers — no floating log anywhere, so the column is
    // engine-portable bit-for-bit. The real-valued xent_bits column is
    // spec-pinned instead (log2 is not correctly-rounded IEEE) and the
    // harness projection drops it.
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM c),
        |s AS (SELECT token,
        |    CAST((length(bin(n_total)) - 1) - (length(bin(c)) - 1) AS BIGINT) AS q
        |  FROM c, t)
        |SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(CAST(SUM(s.q) AS VARCHAR) AS DOUBLE) / count(*) AS bits_q
        |FROM toks JOIN s ON toks.token = s.token
        |GROUP BY 1""".stripMargin,

    // Same floorlog2 portability contract as q_lm_score, applied to the
    // bigram-conditional model: c(prev,w) / head marginal, first token
    // under the unigram model. generate_series(2,1) is EMPTY in DuckDB
    // (single-token docs score their first token only).
    "q_lm_score_bigram" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |toks AS (SELECT doc_id, unnest(ts) AS token FROM d),
        |cu AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM cu),
        |bg AS (SELECT doc_id, ts[i - 1] AS prev, ts[i] AS w
        |       FROM d, LATERAL unnest(generate_series(2, len(ts))) AS u(i)),
        |cb AS (SELECT prev, w, count(*) AS cbg FROM bg GROUP BY 1, 2),
        |ch AS (SELECT prev, CAST(SUM(cbg) AS BIGINT) AS chead FROM cb GROUP BY 1),
        |uq AS (SELECT token,
        |    CAST((length(bin(n_total)) - 1) - (length(bin(c)) - 1) AS BIGINT) AS q
        |  FROM cu, t),
        |bq AS (SELECT cb.prev, cb.w,
        |    CAST((length(bin(chead)) - 1) - (length(bin(cbg)) - 1) AS BIGINT) AS q
        |  FROM cb JOIN ch ON cb.prev = ch.prev),
        |scored AS (
        |  SELECT d.doc_id, uq.q FROM d JOIN uq ON ts[1] = uq.token
        |  UNION ALL
        |  SELECT bg.doc_id, bq.q FROM bg JOIN bq ON bg.prev = bq.prev AND bg.w = bq.w)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) / count(*) AS bits_q_bigram
        |FROM scored GROUP BY 1""".stripMargin,

    // chr(233) is the composed suffix's é, chr(769) the combining acute
    // of the decomposed twin; DuckDB's nfc_normalize + md5 must produce
    // the identical collapsed key set.
    "q_dedup_unicode" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |base AS (
        |  SELECT doc_id, text || ' caf' || chr(233) AS text FROM docs),
        |twin AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |         text || ' cafe' || chr(769) AS text FROM docs),
        |all_docs AS (SELECT * FROM base UNION ALL SELECT * FROM twin)
        |SELECT md5(nfc_normalize(text)) AS k,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_dups
        |FROM all_docs GROUP BY 1""".stripMargin,

    // Same pattern string, DuckDB's RE2 vs Spark's Java regex — the
    // pattern is restricted to the identically-implemented subset (see
    // TextAnalysis.BpeTokenPattern).
    "q_bpe_token_count" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '${operators.TextAnalysis.BpeTokenPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS DOUBLE) / greatest(
         |    len(regexp_extract_all(text,
         |      '${operators.TextAnalysis.BpeTokenPattern.replace("'", "''")}')), 1) AS chars_per_token
         |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // True-BPE token counts replayed WITHOUT a BPE implementation: each
    // pre-token is exploded to delimited code points
    // (chr(1)·cp·chr(2)…), then the merge table applies as a chain of
    // plain replace() calls in rank order — exact for a VALID table
    // (operators.Bpe scaladoc proves the equivalence); the final token
    // count is the number of chr(1) delimiters. (?s) so '.' wraps
    // newlines inside non-alnum pre-tokens; chr(1)/chr(2) are stripped
    // from the input on both engines, making the delimiting unambiguous.
    "q_bpe_encode" -> {
      val pat = operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(
         |    regexp_extract_all(replace(replace(text, chr(1), ''), chr(2), ''), '$pat'),
         |    pt -> len(string_split($bpeOracleChain, chr(1))) - 1)), 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents WHERE text IS NOT NULL""".stripMargin
    },

    // BPE TRAINING replayed stage for stage: w0 = the delimited pre-token
    // frequency table; stage k counts adjacent pairs (list_zip over the
    // token lists, weighted by cnt), picks the argmax under
    // (n DESC, a, b) — DuckDB's binary varchar order == Spark's
    // UTF8String order, so ties replay — and applies the merge as one
    // non-overlapping replace. MATERIALIZED is load-bearing: each stage
    // is referenced by the next stage AND the pair scan AND the final
    // union; un-materialized CTEs re-evaluate exponentially.
    "q_bpe_train" -> {
      val nM = 12
      val union = (0 until nM)
        .map(k => s"SELECT $k AS merge_rank, a AS lhs, b AS rhs FROM m$k")
        .mkString("\nUNION ALL ")
      "WITH " + bpeTrainCtes(nM) + s"\nSELECT * FROM (\n$union)"
    },

    // END-TO-END tokenizer pipeline oracle: the SAME training replay as
    // q_bpe_train (shared CTE block, every argmax and tie included),
    // then the corpus re-encoded with the CTE-COMPUTED merges — the
    // sequential-replay chain's replace targets are scalar subqueries
    // against m0..m11 instead of literals — and the delimiter count per
    // pre-token summed per doc. Zero-pre-token docs (lone apostrophe)
    // come back as 0 via the left join, mirroring tokenCounts' contract
    // of one row per non-null-text doc.
    "q_bpe_pipeline" -> {
      val pat = operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
      val nM = 12
      val chain = (0 until nM).foldLeft(
        "regexp_replace(pt, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g')") {
        case (acc, k) =>
          s"replace($acc, chr(1)||(SELECT a FROM m$k)||chr(2)||chr(1)||(SELECT b FROM m$k)||chr(2), " +
            s"chr(1)||(SELECT a FROM m$k)||(SELECT b FROM m$k)||chr(2))"
      }
      s"""WITH ${bpeTrainCtes(nM)},
         |pt AS (SELECT doc_id, unnest(regexp_extract_all(
         |    replace(replace(text, chr(1), ''), chr(2), ''), '$pat')) AS pt
         |  FROM documents WHERE text IS NOT NULL),
         |enc AS (SELECT doc_id, len(string_split($chain, chr(1))) - 1 AS n FROM pt),
         |agg AS (SELECT doc_id, SUM(n) AS n FROM enc GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
         |LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    // q_pack's global-window replay with n_tokens = the TRUE BPE count
    // (len of the replayed token array). Zero-token docs are filtered
    // EXPLICITLY to mirror packCounted's n_tokens > 0 guard: relying on
    // an empty generate_series is wrong whenever the running sum s is
    // not budget-aligned — series(s//48, (s-1)//48) with s == c emits
    // one spurious (n_in_pack = 0) row unless s % 48 == 0 (ADVICE r14;
    // verified: DuckDB generate_series(k, k) -> [k]). The filter sits in
    // the same SELECT as the windows, where SQL applies WHERE first —
    // harmless to the sums, since dropped rows contribute 0.
    "q_pack_bpe" ->
      s"""SELECT id, n_tokens, CAST(p AS BIGINT) AS pack_id,
         |  CAST(greatest(s, p*48) - p*48 AS BIGINT) AS pack_offset,
         |  CAST(least(c, (p+1)*48) - greatest(s, p*48) AS BIGINT) AS n_in_pack
         |FROM (
         |  SELECT id, n_tokens, s, c, unnest(generate_series(s // 48, (c-1) // 48)) AS p
         |  FROM (
         |    SELECT doc_id AS id, n_tokens,
         |      CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS s,
         |      CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
         |    FROM (SELECT doc_id, CAST(len($bpeOracleToks) AS BIGINT) AS n_tokens
         |          FROM documents WHERE text IS NOT NULL)
         |    WHERE n_tokens > 0))""".stripMargin,

    // q_chunk's list-slicing replay over the replayed BPE token arrays;
    // sep '' because BPE tokens carry their own leading spaces. DuckDB
    // slices are 1-based inclusive-end: toks[i*24+1 : i*24+32] == Spark
    // slice(toks, i*24+1, 32).
    "q_chunk_bpe" ->
      s"""SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
         |  CAST(len(toks) AS INTEGER) AS n_tokens,
         |  coalesce(array_to_string(toks[(i*24+1):(i*24+32)], ''), '') AS chunk_text,
         |  CAST(len(toks[(i*24+1):(i*24+32)]) AS INTEGER) AS chunk_tokens
         |FROM (
         |  SELECT doc_id, toks, unnest(generate_series(0,
         |    CASE WHEN len(toks) <= 32 THEN 0
         |         ELSE CAST(ceil((len(toks)-32)/24.0) AS INTEGER) END)) AS i
         |  FROM (SELECT doc_id, $bpeOracleToks AS toks
         |        FROM documents WHERE text IS NOT NULL))""".stripMargin,

    // The composed pipeline replayed stage for stage: arg_min mirrors
    // min_by, the DSIR CTEs are fit on the DEDUPED corpus (not raw —
    // the counts differ whenever dedup removes anything).
    "q_curation_pipeline_v2" -> {
      val pat = operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""WITH docs AS (
         |  SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL),
         |ded AS MATERIALIZED (
         |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
         |         arg_min(lang, doc_id) AS lang
         |  FROM docs GROUP BY md5(nfc_normalize(text))),
         |rt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM ded),
         |tt AS (SELECT unnest(string_split(text, ' ')) AS t
         |       FROM ded WHERE lang = 'en'),
         |cr AS (SELECT CAST(('0x' || substr(md5('dsir-' || t), 1, 8)) AS BIGINT) % 4096 AS b,
         |         count(*) AS c_raw FROM rt GROUP BY 1),
         |ct AS (SELECT CAST(('0x' || substr(md5('dsir-' || t), 1, 8)) AS BIGINT) % 4096 AS b,
         |         count(*) AS c_target FROM tt GROUP BY 1),
         |w AS (SELECT cr.b,
         |        CAST((length(bin(coalesce(ct.c_target, 0) + 1)) - 1)
         |           - (length(bin(cr.c_raw + 1)) - 1) AS BIGINT) AS q
         |      FROM cr LEFT JOIN ct ON cr.b = ct.b),
         |scored AS (
         |  SELECT rt.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(q) AS BIGINT) AS w_q
         |  FROM rt JOIN w
         |    ON CAST(('0x' || substr(md5('dsir-' || rt.t), 1, 8)) AS BIGINT) % 4096 = w.b
         |  GROUP BY 1),
         |ranked AS (
         |  SELECT doc_id, CAST(w_q AS DOUBLE) / n_tokens AS score,
         |    row_number() OVER (
         |      ORDER BY CAST(w_q AS DOUBLE) / n_tokens DESC, doc_id) AS rank
         |  FROM scored)
         |SELECT r.doc_id, CAST(r.rank AS INTEGER) AS rank, r.score,
         |  CAST(len(regexp_extract_all(d.text, '$pat')) AS BIGINT) AS n_bpe_tokens
         |FROM ranked r JOIN ded d ON r.doc_id = d.doc_id
         |WHERE r.rank <= 200""".stripMargin
    },

    // DSIR: same md5-bucket idiom as q_quality_classifier, same floorlog2
    // quantization as q_lm_score; score = w_q / n_tokens is one double
    // division on identical operands.
    "q_dsir_select" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |rt AS (SELECT doc_id, unnest(ts) AS t FROM d),
        |tt AS (SELECT unnest(string_split(text, ' ')) AS t
        |       FROM documents WHERE text IS NOT NULL AND lang = 'en'),
        |cr AS (SELECT CAST(('0x' || substr(md5('dsir-' || t), 1, 8)) AS BIGINT) % 4096 AS b,
        |         count(*) AS c_raw FROM rt GROUP BY 1),
        |ct AS (SELECT CAST(('0x' || substr(md5('dsir-' || t), 1, 8)) AS BIGINT) % 4096 AS b,
        |         count(*) AS c_target FROM tt GROUP BY 1),
        |w AS (SELECT cr.b,
        |        CAST((length(bin(coalesce(ct.c_target, 0) + 1)) - 1)
        |           - (length(bin(cr.c_raw + 1)) - 1) AS BIGINT) AS q
        |      FROM cr LEFT JOIN ct ON cr.b = ct.b),
        |scored AS (
        |  SELECT rt.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(q) AS BIGINT) AS w_q
        |  FROM rt JOIN w
        |    ON CAST(('0x' || substr(md5('dsir-' || rt.t), 1, 8)) AS BIGINT) % 4096 = w.b
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT doc_id, n_tokens, w_q, CAST(w_q AS DOUBLE) / n_tokens AS score,
        |    row_number() OVER (
        |      ORDER BY CAST(w_q AS DOUBLE) / n_tokens DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT doc_id, n_tokens, w_q, score, CAST(rank AS INTEGER) AS rank
        |FROM ranked WHERE rank <= 100""".stripMargin,

    // Distinct names resolved with an independent levenshtein pair join
    // (blocking incompleteness cannot cancel) + recursive-CTE closure,
    // labels joined back to rows — |distinct names|² stays trivial at
    // every scale, which is the point of the group-first design.
    "q_entity_resolution" ->
      """WITH RECURSIVE
        |nm AS MATERIALIZED (
        |  SELECT p_name, min(p_partkey) AS rep_id FROM part GROUP BY 1),
        |p AS MATERIALIZED (
        |  SELECT a.rep_id AS ia, b.rep_id AS ib FROM nm a JOIN nm b
        |  ON a.rep_id < b.rep_id
        |    AND abs(length(a.p_name) - length(b.p_name)) <= 1
        |    AND levenshtein(a.p_name, b.p_name) <= 1),
        |e AS (SELECT ia AS s, ib AS d FROM p UNION SELECT ib, ia FROM p),
        |reach(s, d) AS (SELECT s, d FROM e
        |  UNION SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
        |comp AS (SELECT s AS id, least(s, min(d)) AS component
        |         FROM reach GROUP BY s),
        |labels AS (
        |  SELECT nm.p_name, coalesce(c.component, nm.rep_id) AS component
        |  FROM nm LEFT JOIN comp c ON nm.rep_id = c.id),
        |labeled AS (
        |  SELECT pt.p_partkey, l.component
        |  FROM part pt JOIN labels l ON pt.p_name = l.p_name)
        |SELECT a.p_partkey, a.component, CAST(n.n AS BIGINT) AS n_members
        |FROM labeled a JOIN (SELECT component, count(*) AS n FROM labeled
        |                     GROUP BY 1) n ON a.component = n.component""".stripMargin,

    // All three distances recomputed natively by DuckDB over the same
    // pair construction (substr indices are 1-based in both engines).
    "q_string_distances" ->
      """SELECT a.c_custkey,
        |  CAST(damerau_levenshtein(a.c_name, b.c_name) AS INTEGER) AS dl_next,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS lev_next,
        |  CAST(damerau_levenshtein(a.c_name,
        |    substr(a.c_name, 1, 16) || substr(a.c_name, 18, 1)
        |      || substr(a.c_name, 17, 1)) AS INTEGER) AS dl_swap,
        |  CAST(levenshtein(a.c_name,
        |    substr(a.c_name, 1, 16) || substr(a.c_name, 18, 1)
        |      || substr(a.c_name, 17, 1)) AS INTEGER) AS lev_swap,
        |  jaro_winkler_similarity(a.c_name,
        |    substr(a.c_name, 1, 16) || substr(a.c_name, 18, 1)
        |      || substr(a.c_name, 17, 1)) AS jw_swap
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin,

    // DuckDB's NATIVE jaro_winkler_similarity against the engine's
    // codegen'd JaroWinkler kernel (bit-identical by construction — the
    // kernel was pinned to DuckDB's exact byte-level/integer-transposition
    // semantics; see JaroWinklerKernel's scaladoc).
    "q_jw_similarity" ->
      """SELECT a.c_custkey, a.c_name AS name_a, b.c_name AS name_b,
        |  jaro_winkler_similarity(a.c_name, b.c_name) AS jw_next,
        |  jaro_winkler_similarity(a.c_name, reverse(a.c_name)) AS jw_rev,
        |  jaro_winkler_similarity(a.c_name, a.c_mktsegment) AS jw_seg
        |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1""".stripMargin,

    // DuckDB's nfc_normalize against the engine's codegen'd
    // UnicodeNormalize; chr(769) is the combining acute the Spark side
    // appends as a decomposed literal.
    "q_nfc_normalize" ->
      """SELECT doc_id,
        |  nfc_normalize(substr(text, 1, 24) || ' cafe' || chr(769)) AS nfc,
        |  CAST(length(substr(text, 1, 24) || ' cafe' || chr(769)) AS INTEGER) AS n_raw,
        |  CAST(length(nfc_normalize(substr(text, 1, 24) || ' cafe' || chr(769)))
        |    AS INTEGER) AS n_nfc
        |FROM documents""".stripMargin,

    "q_tfidf" ->
      """SELECT doc_id, token, tf, df, score, CAST(rank AS INTEGER) AS rank FROM (
        |  SELECT doc_id, token, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
        |  FROM (
        |    SELECT tf.doc_id, tf.token, tf.tf, d.df,
        |      CAST(tf.tf * (SELECT count(*) FROM documents) AS DOUBLE) / d.df AS score
        |    FROM (
        |      SELECT doc_id, token, count(*) AS tf FROM (
        |        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |      GROUP BY doc_id, token
        |    ) tf JOIN (
        |      SELECT token, count(*) AS df FROM (
        |        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents) GROUP BY token
        |    ) d ON tf.token = d.token)
        |) WHERE rank <= 5""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id, n_tokens, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_ratio,
        |  CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_ratio
        |FROM (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM (
        |    SELECT doc_id, token, count(*) AS c FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |    GROUP BY doc_id, token)
        |  GROUP BY doc_id)""".stripMargin,

    "q_word_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT term, count(*) AS cnt FROM toks
        |GROUP BY term
        |HAVING count(*) > (SELECT count(*) FROM toks) / 51.0""".stripMargin,

    "q_profile" ->
      """WITH d AS (
        |  SELECT *, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS maybe_lang
        |  FROM documents)
        |SELECT 'doc_id' AS col_name, count(*) AS n_rows,
        |  count(*) - count(doc_id) AS n_nulls, count(DISTINCT doc_id) AS n_distinct FROM d
        |UNION ALL SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang) FROM d
        |UNION ALL SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source) FROM d
        |UNION ALL SELECT 'maybe_lang', count(*), count(*) - count(maybe_lang),
        |  count(DISTINCT maybe_lang) FROM d""".stripMargin,

    "q_inverted_index" ->
      """WITH tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents WHERE text IS NOT NULL)
        |  GROUP BY term, doc_id
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf
        |  GROUP BY term HAVING count(*) >= 2 AND count(*) <= 400
        |)
        |SELECT t.term, d.df, t.doc_id, t.tf
        |FROM tf t JOIN dfreq d USING (term)""".stripMargin,

    "q_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    'terms of service apply' || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'subscribe to the newsletter' || chr(10) ELSE '' END ||
        |    array_to_string(list_transform(generate_series(0, (len(toks)-1)//8),
        |      i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')), chr(10)) AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |), lines AS (
        |  SELECT doc_id, CAST(unnest(generate_series(1, len(ls))) AS INTEGER) AS pos,
        |    unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted)
        |), boiler AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line)
        |  WHERE df >= 5
        |), kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE line NOT IN (SELECT line FROM boiler)
        |)
        |SELECT d.doc_id AS id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  len(string_split(d.text, chr(10))) - coalesce(k.n_kept, 0) AS n_dropped
        |FROM planted d LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin,

    "q_pack" ->
      """SELECT id, n_tokens, CAST(p AS BIGINT) AS pack_id,
        |  CAST(greatest(s, p*64) - p*64 AS BIGINT) AS pack_offset,
        |  CAST(least(c, (p+1)*64) - greatest(s, p*64) AS BIGINT) AS n_in_pack
        |FROM (
        |  SELECT id, n_tokens, s, c, unnest(generate_series(s // 64, (c-1) // 64)) AS p
        |  FROM (
        |    SELECT doc_id AS id, n_tokens,
        |      CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS s,
        |      CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |    FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |          FROM documents WHERE text IS NOT NULL)))""".stripMargin,

    // DuckDB list slices are 1-based with an inclusive end, so
    // toks[i*24+1 : i*24+32] covers the same 32 tokens as Spark's
    // slice(toks, i*24+1, 32); both truncate at the end of the list.
    "q_chunk" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[(i*24+1):(i*24+32)], ' ') AS chunk_text,
        |  CAST(len(toks[(i*24+1):(i*24+32)]) AS INTEGER) AS chunk_tokens
        |FROM (
        |  SELECT doc_id, toks, unnest(generate_series(0,
        |    CASE WHEN len(toks) <= 32 THEN 0
        |         ELSE CAST(ceil((len(toks)-32)/24.0) AS INTEGER) END)) AS i
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(planted, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(planted, '\+\d{7,15}')) AS INTEGER) AS n_phones
        |FROM (SELECT doc_id,
        |  text || ' reach u' || doc_id || '@example.com or 10.0.' || (doc_id % 256)
        |       || '.7 tel +1415555' || (doc_id % 9000 + 1000) AS planted
        |FROM documents)""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS INTEGER) AS bucket, count(*) AS n,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events GROUP BY bucket""".stripMargin,

    "q_percentile" ->
      """SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90, max(o_totalprice) AS mx
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_curation_pipeline" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (l, ws) => s"${langScoreSql(ws)} AS s_$l" }.mkString(",\n      ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
      s"""WITH base AS (
         |  SELECT doc_id, text, substr(text, 1, 40) AS key,
         |    length(text) AS n_chars,
         |    len(string_split(text, ' ')) AS n_tokens,
         |    len(list_filter(string_split(text, ' '), t -> t IN $StopList)) AS n_stop,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |    $scores
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, key,
         |    least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
         |      + (CAST(n_stop AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)) * 0.3
         |      + (1.0 - CAST(n_punct AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE)) * 0.2 AS quality,
         |    CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |      $cases END AS lang_pred
         |  FROM base
         |)
         |SELECT key, min(doc_id) AS doc_id, arg_min(quality, doc_id) AS quality,
         |  count(*) AS n_dups
         |FROM scored WHERE quality >= 0.5 AND lang_pred = 'en'
         |GROUP BY key""".stripMargin
    },

    "q_sim_bruteforce" ->
      """SELECT query_id, nbr_id, CAST(rank AS INTEGER) AS rank, cos FROM (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |      list_dot_product(q.v, c.v) /
        |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 8) q
        |    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) c
        |      ON q.vec_id <> c.vec_id)
        |) WHERE rank <= 5""".stripMargin,

    "q_embed_stats" ->
      """SELECT label AS grp, count(*) AS n,
        | CAST(CAST(SUM(CAST(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) AS sum_norm
        |FROM embeddings GROUP BY label""".stripMargin,

    // Zipped unnest: multiple unnest() calls in one SELECT advance in
    // lockstep in DuckDB, so idx pairs with its component. Division /
    // floor are IEEE-exact per row (same operands, same op order as the
    // Spark side) → bit-identical doubles.
    "q_embed_normalize" ->
      """SELECT vec_id,
        |  CAST(unnest(generate_series(1, len(e))) AS INTEGER) AS idx,
        |  sqrt(list_dot_product(e, e)) AS norm,
        |  unnest(list_transform(e, x -> x / sqrt(list_dot_product(e, e)))) AS u
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |WHERE sqrt(list_dot_product(e, e)) > 0""".stripMargin,

    // Quantization replayed null-preservingly (no WHERE mx > 0 — a zero
    // vector's null q must survive the join and null the dot), exact
    // integer dot via index-zip list_sum, one dequantizing division in
    // the engine's operand order.
    "q_sim_int8_rescore" ->
      """WITH qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx > 0 THEN 127.0 / mx END AS scale,
        |    CASE WHEN mx > 0 THEN list_transform(e,
        |      x -> CAST(floor(x * (127.0 / mx) + 0.5) AS INTEGER)) END AS q
        |  FROM (SELECT vec_id, e,
        |          list_max(list_transform(e, x -> abs(x))) AS mx
        |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |              FROM embeddings)))
        |SELECT a.vec_id,
        |  CAST(list_sum(list_transform(generate_series(1, len(a.q)),
        |    i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS dot_q,
        |  CAST(CAST(list_sum(list_transform(generate_series(1, len(a.q)),
        |    i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS DOUBLE)
        |    / (a.scale * b.scale) AS approx_dot
        |FROM qz a JOIN qz b ON b.vec_id = a.vec_id + 1""".stripMargin,

    "q_embed_quantize" ->
      """SELECT vec_id,
        |  CAST(unnest(generate_series(1, len(e))) AS INTEGER) AS idx,
        |  127.0 / mx AS scale,
        |  unnest(list_transform(e, x -> CAST(floor(x * (127.0 / mx) + 0.5) AS INTEGER))) AS qv
        |FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx
        |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings))
        |WHERE mx > 0""".stripMargin,

    "q_embed_project" -> {
      // The SAME matrix the operator derives (java.util.Random's
      // algorithm is javadoc-specified), rendered as list literals; same
      // op order (dot, then * scale) -> bit-identical doubles.
      val m = operators.Similarity.projectionMatrix(inDims = 64, outDims = 8, seed = 42L)
      val scale = 1.0 / math.sqrt(8.0)
      val dots = m.map { row =>
        val lits = row.map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")
        s"list_dot_product(e, CAST([$lits] AS DOUBLE[])) * $scale"
      }.mkString(",\n    ")
      s"""SELECT vec_id,
         |  CAST(unnest(generate_series(1, 8)) AS INTEGER) AS idx,
         |  unnest([
         |    $dots]) AS p
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)""".stripMargin
    },

    "q_multimodal_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
        | CAST(strlen(text) % 800 AS INTEGER) AS width,
        | CAST(strlen(text) % 600 AS INTEGER) AS height,
        | strlen(text) * 2654435761 AS checksum
        |FROM documents""".stripMargin,
    // q_sketches graduated to oracle in r10: the engine-specific sketch
    // VALUES stay out of the result; the deterministic exact values and
    // bound-check booleans are what the oracle verifies.
    "q_sketches" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        | count(*) AS n, TRUE AS hll_ok, TRUE AS p50_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    // ---- event analytics. The oracle uses raw `ts` where only ordering
    // matters (funnel) and epoch_us(ts) where the value itself does
    // (retention/gap-fill week/day indices — matches tsMicros).
    "q_funnel" -> FunnelOracleSql,

    // streaming funnel must agree with the batch funnel — same oracle
    "q_stream_funnel" -> FunnelOracleSql,

    "q_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |              epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_week FROM uw GROUP BY 1)
        |SELECT c.cohort_week, uw.wk - c.cohort_week AS week_off,
        |  count(*) AS n_users
        |FROM uw JOIN c ON uw.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q_gap_fill" ->
      """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |u AS (SELECT DISTINCT user_id FROM d),
        |g AS (SELECT u.user_id, unnest(generate_series(b.d0, b.d1)) AS day FROM u, b),
        |c AS (SELECT user_id, day, count(*) AS cnt FROM d GROUP BY 1, 2)
        |SELECT g.user_id, g.day,
        |  strftime(DATE '1970-01-01' + CAST(g.day AS INTEGER), '%Y-%m-%d') AS day_s,
        |  COALESCE(c.cnt, CAST(0 AS BIGINT)) AS n
        |FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.day = c.day""".stripMargin,

    // Same double expression tree as the operator (moments from exact
    // decimal sums, then fixed-order IEEE math) → bit-identical z and an
    // identical boundary decision.
    "q_anomaly" ->
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS s,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS q
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  (e.value - s / n)
        |    / NULLIF(sqrt(q / n - (s / n) * (s / n)), 0.0) AS z
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE (e.value - s / n) * (e.value - s / n)
        |      > 4.0 * (q / n - (s / n) * (s / n))""".stripMargin,

    // Maintained aggregate == recompute of the final table state (after
    // the %10=3 delete and the %10=4 doubling), from the source parquet.
    "q_incremental_agg" ->
      """SELECT CAST(c_custkey % 10 AS INTEGER) AS grp, count(*) AS n,
        |  CAST(CAST(SUM(CAST(CASE WHEN c_custkey % 10 = 4 THEN c_acctbal * 2
        |                     ELSE c_acctbal END AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_custkey % 10 <> 3
        |GROUP BY 1""".stripMargin,

    // streaming maintenance must converge to the same recompute
    "q_stream_incremental_agg" ->
      """SELECT CAST(c_custkey % 10 AS INTEGER) AS grp, count(*) AS n,
        |  CAST(CAST(SUM(CAST(CASE WHEN c_custkey % 10 = 4 THEN c_acctbal * 2
        |                     ELSE c_acctbal END AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_custkey % 10 <> 3
        |GROUP BY 1""".stripMargin,

    "q_funnel_window" ->
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |         AND epoch_us(e.ts) <= s1.t + 259200000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |         AND epoch_us(e.ts) <= s2.t + 259200000000 GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS step, 'signup' AS step_name,
        |  (SELECT count(*) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    "q_moving_avg" ->
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS s
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day,
        |  CAST(SUM(n) OVER w AS BIGINT) AS n7,
        |  CAST(CAST(SUM(s) OVER w AS VARCHAR) AS DOUBLE) AS sum7,
        |  CAST(CAST(SUM(s) OVER w AS VARCHAR) AS DOUBLE) / SUM(n) OVER w AS avg7
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    // NULL predicate is not a violation (CASE ELSE 0 both sides).
    "q_expectations" ->
      """SELECT 'text_not_null' AS check_name, count(*) AS n_rows,
        |  CAST(SUM(CASE WHEN NOT (text IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  CAST(SUM(CASE WHEN NOT (text IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) = 0 AS pass
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars_consistent', count(*),
        |  CAST(SUM(CASE WHEN NOT (n_chars = length(text)) THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN NOT (n_chars = length(text)) THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lang_known', count(*),
        |  CAST(SUM(CASE WHEN NOT (lang IN ('en', 'zh')) THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(SUM(CASE WHEN NOT (lang IN ('en', 'zh')) THEN 1 ELSE 0 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'doc_id_unique', count(*),
        |  count(*) - count(DISTINCT doc_id),
        |  count(*) - count(DISTINCT doc_id) = 0
        |FROM documents""".stripMargin,

    // Per-x max reduction + strictly-greater-x running max: the same
    // window shape on both sides, no arithmetic beyond comparisons.
    "q_skyline" ->
      """SELECT l_returnflag, qty, price FROM (
        |  SELECT grp AS l_returnflag, x AS qty, y AS price,
        |    max(y) OVER (PARTITION BY grp ORDER BY x DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM (SELECT l_returnflag AS grp, l_quantity AS x,
        |          max(l_extendedprice) AS y
        |        FROM lineitem GROUP BY 1, 2))
        |WHERE pm IS NULL OR price > pm""".stripMargin,

    "q_abtest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN value END) AS mpv
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND mpv > 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 AND mpv > 300.0 THEN 1 ELSE 0 END) AS BIGINT) AS k_b
        |  FROM u)
        |SELECT n_a, k_a, n_b, k_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND k_a + k_b > 0 AND k_a + k_b < n_a + n_b
        |    THEN (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) /
        |      sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 / n_a + 1.0 / n_b))
        |  END AS z
        |FROM c""".stripMargin,

    "q_corr" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_discount AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS syy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_discount AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) /
        |    NULLIF(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0) AS corr
        |FROM m""".stripMargin,

    // ---- sequence / basket / dimension-history analytics. Integer
    // counts + fixed-order double divisions, or exact decimal sums cast
    // to double at the very end — the same determinism idioms as the
    // first analytics wave.
    "q_transitions" ->
      """WITH d AS (
        |  SELECT event_type AS et,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_et
        |  FROM events),
        |c AS (SELECT et AS from_et, to_et, count(*) AS n FROM d
        |      WHERE to_et IS NOT NULL GROUP BY 1, 2)
        |SELECT from_et, to_et, n,
        |  CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_et) AS p
        |FROM c""".stripMargin,

    "q_basket_lift" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
        |ic AS (SELECT it, count(*) AS cnt FROM b GROUP BY 1),
        |p AS (SELECT a.it AS item_a, b2.it AS item_b, count(*) AS n_pair
        |      FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, n_pair,
        |  CAST(n_pair AS DOUBLE) / n_baskets AS support,
        |  CAST(n_pair AS DOUBLE) * n_baskets
        |    / (CAST(ca.cnt AS DOUBLE) * cb.cnt) AS lift
        |FROM p JOIN ic ca ON p.item_a = ca.it
        |       JOIN ic cb ON p.item_b = cb.it, nb""".stripMargin,

    "q_scd2" ->
      """SELECT user_id, epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) IS NULL AS is_current,
        |  event_type, value
        |FROM events""".stripMargin,

    // drained streaming SCD2 must equal the batch build — same oracle
    "q_stream_scd2" ->
      """SELECT user_id, epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) IS NULL AS is_current,
        |  event_type, value
        |FROM events""".stripMargin,

    "q_twap" ->
      """WITH d AS (
        |  SELECT user_id, CAST(value AS DECIMAL(14,2)) AS v,
        |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |       ORDER BY epoch_us(ts), event_id) - epoch_us(ts)) // 1000000 AS dur_s
        |  FROM events)
        |SELECT user_id, count(*) AS n_intervals,
        |  CAST(SUM(dur_s) AS BIGINT) AS dur_total_s,
        |  CAST(CAST(SUM(v * CAST(dur_s AS DECIMAL(12,0))) AS VARCHAR) AS DOUBLE) AS vdur,
        |  CAST(CAST(SUM(v * CAST(dur_s AS DECIMAL(12,0))) AS VARCHAR) AS DOUBLE)
        |    / NULLIF(CAST(CAST(SUM(dur_s) AS VARCHAR) AS DOUBLE), 0.0) AS twap
        |FROM d WHERE dur_s IS NOT NULL GROUP BY 1""".stripMargin,

    // Division-free scaled CUSUM: cusum(d) = Σ_{day≤d} (n_g·s_day − s_g·n_day),
    // decimal end to end, one double cast at the very end.
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n_d,
        |    CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS s_d
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT grp, SUM(n_d) AS n_g,
        |          CAST(SUM(s_d) AS DECIMAL(18,2)) AS s_g
        |        FROM daily GROUP BY 1)
        |SELECT d.grp AS event_type, d.day, d.n_d,
        |  CAST(CAST(SUM(d.s_d * CAST(t.n_g AS DECIMAL(12,0))
        |           - t.s_g * CAST(d.n_d AS DECIMAL(12,0)))
        |    OVER (PARTITION BY d.grp ORDER BY d.day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        | AS VARCHAR) AS DOUBLE) AS cusum_scaled
        |FROM daily d JOIN tot t ON d.grp = t.grp""".stripMargin,

    "q_kanon" ->
      """SELECT source, n_chars, count(*) AS n FROM documents
        |GROUP BY 1, 2 HAVING count(*) < 2""".stripMargin,

    "q_fk_orphans" ->
      """SELECT 'lineitem.orderkey->orders' AS relation,
        |  (SELECT count(*) FROM lineitem) AS n_child_rows,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_orphans,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0 AS pass
        |UNION ALL
        |SELECT 'orders.custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders r LEFT JOIN customer c
        |     ON r.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
        |  (SELECT count(*) FROM orders r LEFT JOIN customer c
        |     ON r.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0
        |UNION ALL
        |SELECT 'lineitem.partkey->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL) = 0""".stripMargin,

    // percentile_disc-style rank-selected bounds over the distinct-value
    // count table; the clip itself is order-free comparisons
    "q_winsorize" ->
      """WITH base AS (SELECT event_id AS row_id, event_type, value AS v
        |              FROM events),
        |c AS (SELECT event_type, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |b AS (SELECT event_type,
        |    MIN(CASE WHEN cum >= ceil(0.05 * n) THEN v END) AS lo,
        |    MIN(CASE WHEN cum >= ceil(0.95 * n) THEN v END) AS hi
        |  FROM cum GROUP BY 1)
        |SELECT row_id, base.event_type, v, lo, hi,
        |  LEAST(GREATEST(v, lo), hi) AS v_clipped
        |FROM base JOIN b ON base.event_type = b.event_type""".stripMargin,

    // Both medians are rank selections over the (group, DISTINCT value)
    // count table; abs(v - med) and 3*mad are correctly-rounded IEEE with
    // the same expression shape the engine uses — no interpolation, no
    // round().
    // value IS NOT NULL mirrors the engine's documented null exclusion
    // (Profile.madOutliers: nulls are neither median candidates nor
    // outliers) so the contract is checked end-to-end, not latent.
    "q_mad_outliers" ->
      """WITH base AS (SELECT event_id, event_type, value AS v FROM events
        |  WHERE value IS NOT NULL),
        |c AS (SELECT event_type, v, count(*) AS cnt FROM base GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |m AS (SELECT event_type,
        |    MIN(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS med
        |  FROM cum GROUP BY 1),
        |d AS (SELECT b.event_id, b.event_type, b.v, m.med,
        |    ABS(b.v - m.med) AS dev
        |  FROM base b JOIN m ON b.event_type = m.event_type),
        |dc AS (SELECT event_type, dev, count(*) AS cnt FROM d GROUP BY 1, 2),
        |dcum AS (SELECT event_type, dev,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM dc),
        |md AS (SELECT event_type,
        |    MIN(CASE WHEN cum >= ceil(0.5 * n) THEN dev END) AS mad
        |  FROM dcum GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.v AS value, d.med, md.mad, d.dev
        |FROM d JOIN md ON d.event_type = md.event_type
        |WHERE d.dev > 3.0 * md.mad""".stripMargin,

    // positional adjacency join; DuckDB subscripts are 1-based vs
    // posexplode's 0-based, hence the -1
    "q_phrase_search" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id, count(*) AS n_matches,
        |  CAST(min(a.pos) - 1 AS INTEGER) AS first_pos
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.w = 'table' AND b.w = 'hash'
        |GROUP BY 1""".stripMargin,

    // recursive min-reachability to fixpoint == the engine's
    // large-star/small-star labels (component = min reachable id)
    "q_components" ->
      """WITH RECURSIVE
        |b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |p AS (SELECT a.it AS ia, b2.it AS ib FROM b a
        |      JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
        |      GROUP BY a.it, b2.it HAVING count(*) >= 3),
        |e AS (SELECT ia AS s, ib AS d FROM p UNION SELECT ib, ia FROM p),
        |reach(s, d) AS (SELECT s, d FROM e
        |  UNION SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
        |SELECT s AS id, least(s, min(d)) AS component
        |FROM reach GROUP BY s""".stripMargin,

    // integer rank moments; sqrt is IEEE-correctly-rounded (unlike ln),
    // so the one double expression is bit-portable
    "q_trend" ->
      """WITH daily AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |    SUM(CAST(value AS DECIMAL(14,2))) AS s
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT grp,
        |    row_number() OVER (PARTITION BY grp ORDER BY day) AS rx,
        |    row_number() OVER (PARTITION BY grp ORDER BY s, day) AS ry
        |  FROM daily),
        |m AS (SELECT grp, count(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
        |    SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT grp AS event_type, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS rho
        |FROM m""".stripMargin,

    // rank-selected percentiles (percentile_disc semantics — no
    // interpolation arithmetic to be non-portable); exact integers
    // everywhere except the final share division
    "q_skew_report" ->
      """WITH c AS (SELECT l_partkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS rn FROM c),
        |t AS (SELECT count(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |        MAX(cnt) AS max_cnt FROM c)
        |SELECT n_keys, n_rows, max_cnt,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n_keys) AS INTEGER) THEN cnt END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n_keys) AS INTEGER) THEN cnt END) AS p99,
        |  MAX(CASE WHEN rn = CAST(ceil(0.999 * n_keys) AS INTEGER) THEN cnt END) AS p999,
        |  CAST(max_cnt AS DOUBLE) / n_rows AS max_share,
        |  CASE WHEN MAX(CASE WHEN rn = CAST(ceil(0.99 * n_keys) AS INTEGER) THEN cnt END) > 0
        |    THEN (max_cnt + MAX(CASE WHEN rn = CAST(ceil(0.99 * n_keys) AS INTEGER) THEN cnt END) - 1)
        |      // MAX(CASE WHEN rn = CAST(ceil(0.99 * n_keys) AS INTEGER) THEN cnt END)
        |    ELSE 1 END AS suggested_salt
        |FROM r, t
        |GROUP BY n_keys, n_rows, max_cnt""".stripMargin,

    // integral binning (exact cents, ceil-div width) and an integer TVD
    // numerator — the one double division is the final expression
    "q_drift" ->
      """WITH b AS (SELECT CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
        |           FROM events WHERE event_type = 'view'),
        |cu AS (SELECT CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
        |       FROM events WHERE event_type = 'purchase'),
        |bounds AS (SELECT min(c) AS lo,
        |    CASE WHEN max(c) = min(c) THEN 1
        |         ELSE ((max(c) - min(c)) + 16) // 16 END AS w
        |  FROM (SELECT c FROM b UNION ALL SELECT c FROM cu)),
        |bb AS (SELECT (c - lo) // w AS bin, count(*) AS n_base
        |       FROM b, bounds GROUP BY 1),
        |cc AS (SELECT (c - lo) // w AS bin, count(*) AS n_cur
        |       FROM cu, bounds GROUP BY 1),
        |j AS (SELECT COALESCE(bb.bin, cc.bin) AS bin,
        |        COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
        |      FROM bb FULL OUTER JOIN cc ON bb.bin = cc.bin),
        |tot AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j),
        |num AS (SELECT SUM(ABS(n_base * tc - n_cur * tb)) AS num FROM j, tot)
        |SELECT j.bin, lo + j.bin * w AS lo_cents, j.n_base, j.n_cur,
        |  CAST(num AS DOUBLE) / (2.0 * CAST(tb AS DOUBLE) * CAST(tc AS DOUBLE)) AS tvd
        |FROM j, tot, num, bounds""".stripMargin,

    "q_rate_cap" ->
      """SELECT event_id, user_id, event_type, bucket, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 21600000000 AS bucket,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 21600000000
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,

    // streaming rate cap must agree with the batch window — same oracle
    "q_stream_rate_cap" ->
      """SELECT event_id, user_id, event_type, bucket, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 21600000000 AS bucket,
        |    row_number() OVER (
        |      PARTITION BY user_id, epoch_us(ts) // 21600000000
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,

    "q_temporal_split" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |           FROM events)
        |SELECT event_id,
        |  CASE WHEN tus < cut THEN 'train'
        |       WHEN tus >= cut + 86400000000 THEN 'eval' END AS split
        |FROM (SELECT event_id, epoch_us(ts) AS tus,
        |        t0 + ((t1 - t0) * 700) // 1000 AS cut FROM events, b)
        |WHERE tus < cut OR tus >= cut + 86400000000""".stripMargin,

    "q_pit_join" ->
      """WITH dim AS (
        |  SELECT user_id AS k, epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS valid_to_us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) IS NULL AS is_current,
        |    value AS profile_value
        |  FROM events WHERE event_type = 'signup'),
        |f AS (SELECT user_id, event_id, epoch_us(ts) AS fact_tus, value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, f.fact_tus, f.value,
        |  dim.profile_value, dim.valid_from_us, dim.is_current
        |FROM f JOIN dim ON f.user_id = dim.k
        |  AND dim.valid_from_us <= f.fact_tus
        |  AND (dim.valid_to_us IS NULL OR f.fact_tus < dim.valid_to_us)""".stripMargin,

    "q_top_paths" ->
      """WITH d AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM d WHERE rn <= 5 GROUP BY 1),
        |c AS (SELECT path, count(*) AS n FROM p GROUP BY 1)
        |SELECT path, n, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT path, n, rank() OVER (ORDER BY n DESC, path) AS rk FROM c)
        |WHERE rk <= 10""".stripMargin,

    "q_attribution" ->
      """WITH conv AS (SELECT user_id, epoch_us(ts) AS ctus,
        |                event_id AS conv_id, value
        |              FROM events WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, epoch_us(ts) AS ttus, event_id AS touch_id
        |        FROM events WHERE event_type = 'click'),
        |j AS (SELECT c.user_id, c.conv_id, t.touch_id, c.value
        |      FROM conv c JOIN tch t ON c.user_id = t.user_id
        |      WHERE t.ttus < c.ctus AND t.ttus >= c.ctus - 259200000000)
        |SELECT user_id, conv_id, touch_id,
        |  COUNT(*) OVER (PARTITION BY conv_id) AS n_touches,
        |  CAST(CAST(value AS DECIMAL(14,2)) AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY conv_id) AS credit
        |FROM j""".stripMargin,

    // Both power iterations replayed: uniform 1/N start, contribution
    // sums on the 1e-12 decimal grid, damping blend with literals printed
    // from the operator's own doubles. Dangling mass leaks on both sides
    // identically (the documented simplified variant).
    // Label propagation: both synchronous rounds replayed — per round,
    // neighbor-label counts then the (count DESC, label ASC) argmax per
    // node, the operator's exact deterministic tie-break.
    "q_label_prop" -> {
      def round(cN: String, lOld: String, lNew: String) =
        s"""$cN AS (SELECT s.v AS node, l.label, count(*) AS c
           |  FROM sym s JOIN $lOld l ON s.u = l.node GROUP BY 1, 2),
           |$lNew AS (SELECT node, label FROM (
           |  SELECT node, label,
           |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |  FROM $cN) WHERE rn = 1)""".stripMargin
      s"""WITH pairs AS (SELECT DISTINCT o_custkey*2 AS a, l_suppkey*2+1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |canon AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pairs),
         |sym AS (SELECT u, v FROM canon UNION ALL SELECT v AS u, u AS v FROM canon),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${round("c1", "l0", "l1")},
         |${round("c2", "l1", "l2")}
         |SELECT node, label FROM l2""".stripMargin
    },

    "q_pagerank" -> {
      val d = 0.85
      def iterCtes(cN: String, pOld: String, pNew: String) =
        s"""$cN AS (SELECT e.dst AS node,
           |  CAST(CAST(SUM(CAST(round((p.pr / dg.deg) * 1000000000000.0) AS DECIMAL(28,0))) AS VARCHAR) AS DOUBLE)
           |    / 1000000000000.0 AS m
           |  FROM e JOIN deg dg ON e.src = dg.src JOIN $pOld p ON e.src = p.node
           |  GROUP BY 1),
           |$pNew AS (SELECT nodes.node,
           |  ${1.0 - d} / nn.n + $d * COALESCE($cN.m, 0.0) AS pr
           |  FROM nodes LEFT JOIN $cN ON nodes.node = $cN.node, nn)"""
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, sp AS dst FROM pairs
         |      UNION SELECT sp, c FROM pairs),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
         |${iterCtes("c0", "p0", "p1")},
         |${iterCtes("c1", "p1", "p2")}
         |SELECT node, pr FROM p2""".stripMargin
    },

    // Double literals are printed from the SAME Scala doubles the
    // operator uses (shortest round-trip repr), so both engines parse the
    // identical IEEE value.
    "q_bm25" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, dl, count(*) AS tf FROM toks
         |  WHERE term IN ('join', 'filter', 'vector')
         |  GROUP BY doc_id, term, dl),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |st AS (SELECT count(*) AS nd,
         |       SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS sdl FROM documents)
         |SELECT term, doc_id, tf, df, dl, score, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT term, doc_id, tf, df, dl, score,
         |    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rank
         |  FROM (
         |    SELECT tf.term, tf.doc_id, tf.tf, dfreq.df, tf.dl,
         |      ((CAST(st.nd - dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) *
         |        ((CAST(tf.tf AS DOUBLE) * ${k1 + 1.0}) /
         |          (CAST(tf.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
         |            (CAST(tf.dl AS DOUBLE) / (CAST(st.sdl AS DOUBLE) / st.nd))))) AS score
         |    FROM tf, dfreq, st WHERE tf.term = dfreq.term))
         |WHERE rank <= 5""".stripMargin
    },

    "q_pmi" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |               unnest(string_split(text, ' ')) AS term FROM documents),
        |top AS (SELECT term FROM (
        |  SELECT term, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term ORDER BY c DESC, term LIMIT 50)),
        |ft AS (SELECT tok.doc_id, tok.term FROM tok JOIN top ON tok.term = top.term),
        |dfreq AS (SELECT term, count(*) AS n FROM ft GROUP BY term),
        |nd AS (SELECT count(*) AS ndocs FROM documents),
        |pairs AS (
        |  SELECT a.term AS tok_a, b.term AS tok_b, count(*) AS n_ab
        |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, da.n AS n_a, db.n AS n_b, n_ab,
        |  CAST(n_ab * nd.ndocs AS DOUBLE) / CAST(da.n * db.n AS DOUBLE) AS lift
        |FROM pairs JOIN dfreq da ON pairs.tok_a = da.term
        |JOIN dfreq db ON pairs.tok_b = db.term, nd
        |ORDER BY lift DESC, tok_a, tok_b LIMIT 20""".stripMargin,

    // Both Lloyd iterations replayed in SQL from the same lowest-id
    // init: assignment d² uses the identical dot-product expansion (the
    // sequential-fold dot == list_dot_product identity every similarity
    // oracle already relies on), centroid updates are exact element means
    // on a fixed 1e-12 grid (round → DECIMAL(28,0) → sum; a plain
    // double→DECIMAL(28,12) cast is NOT tie-portable — see Clustering),
    // and an emptied cluster COALESCEs to its previous centroid on both
    // sides.
    "q_kmeans" -> {
      def assignCte(name: String, cents: String) =
        s"""$name AS (SELECT id, e, cl, d2 FROM (
           |  SELECT id, e, cl, d2,
           |    row_number() OVER (PARTITION BY id ORDER BY d2, cl) AS rn FROM (
           |    SELECT dv.id, dv.e, $cents.cl,
           |      list_dot_product(dv.e, dv.e) - 2.0 * list_dot_product(dv.e, $cents.c)
           |        + list_dot_product($cents.c, $cents.c) AS d2
           |    FROM dv, $cents)) WHERE rn = 1)"""
      def updateCtes(mName: String, aName: String, oldC: String, newC: String) =
        s"""$mName AS (SELECT cl, p.pos,
           |  (CAST(CAST(SUM(CAST(round(e[p.pos] * 1000000000000.0) AS DECIMAL(28,0))) AS VARCHAR) AS DOUBLE)
           |    / count(*)) / 1000000000000.0 AS mn
           |  FROM $aName, UNNEST(range(1, 65)) p(pos) GROUP BY cl, p.pos),
           |$newC AS (SELECT cl, list(v ORDER BY pos) AS c FROM (
           |  SELECT oc.cl, oc.pos, COALESCE($mName.mn, oc.old) AS v FROM (
           |    SELECT cl, p.pos, c[p.pos] AS old
           |    FROM $oldC, UNNEST(range(1, 65)) p(pos)) oc
           |  LEFT JOIN $mName ON $mName.cl = oc.cl AND $mName.pos = oc.pos)
           |  GROUP BY cl)"""
      s"""WITH dv AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cl, e AS c
         |       FROM (SELECT id, e FROM dv ORDER BY id LIMIT 4)),
         |${assignCte("a0", "c0")},
         |${updateCtes("m0", "a0", "c0", "c1")},
         |${assignCte("a1", "c1")},
         |${updateCtes("m1", "a1", "c1", "c2")},
         |${assignCte("a2", "c2")}
         |SELECT id AS vec_id, cl AS cluster, d2 FROM a2""".stripMargin
    },

    // EWMA replayed as a recursive CTE: the base case is the series head
    // (e₁ = x₁), each step multiplies in the SAME operand order as the
    // engine's fold (α·x + (1−α)·prev) — exact-binary α, so the chain is
    // bit-identical.
    "q_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily),
        |r AS (
        |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS ewma
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i,
        |    CAST(0.25 AS DOUBLE) * CAST(x.n AS DOUBLE)
        |      + CAST(0.75 AS DOUBLE) * r.ewma
        |  FROM idx x JOIN r ON x.event_type = r.event_type AND x.i = r.i + 1)
        |SELECT event_type, day, n, ewma FROM r""".stripMargin,

    // Kaplan–Meier: life table via windows, product-limit survival via a
    // recursive CTE multiplying in ascending-duration order — the same
    // (÷,−,×) chain as the engine's fold.
    "q_survival_km" ->
      """WITH RECURSIVE ue AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us,
        |    max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY 1),
        |fe AS (SELECT user_id, event_type AS cohort FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |        PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |    FROM events) WHERE rn = 1),
        |m AS (SELECT max(epoch_us(ts)) AS m_us FROM events),
        |subj AS (SELECT fe.cohort,
        |    (ue.last_us - ue.first_us) // 86400000000 AS dur,
        |    CASE WHEN ue.last_us < m.m_us - 1209600000000
        |      THEN 1 ELSE 0 END AS ob
        |  FROM ue JOIN fe USING (user_id), m),
        |g AS (SELECT cohort, dur, CAST(SUM(ob) AS BIGINT) AS d,
        |    CAST(count(*) - SUM(ob) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |idx AS (SELECT cohort, dur, d, c,
        |    CAST(SUM(d + c) OVER (PARTITION BY cohort)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY cohort ORDER BY dur) AS i
        |  FROM g),
        |r AS (
        |  SELECT cohort, dur, d, c, n, i,
        |    CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS survival
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.cohort, x.dur, x.d, x.c, x.n, x.i,
        |    r.survival *
        |      (CAST(1 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))
        |  FROM idx x JOIN r ON x.cohort = r.cohort AND x.i = r.i + 1)
        |SELECT cohort, dur, n AS n_risk, d AS n_event, c AS n_cens, survival
        |FROM r""".stripMargin,

    // Per-cell χ² contributions; expected = (rt·ct)/n with the same
    // cast-then-multiply-then-divide order as the engine.
    "q_chisq_indep" ->
      """WITH cell AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt
        |       FROM cell GROUP BY 1),
        |ct AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
        |tn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell)
        |SELECT cell.event_type, cell.dow, cell.o,
        |  CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) AS e,
        |  (CAST(cell.o AS DOUBLE)
        |     - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |  * (CAST(cell.o AS DOUBLE)
        |     - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS contrib
        |FROM cell JOIN rt USING (event_type) JOIN ct USING (dow), tn"""
        .stripMargin,

    // KS: exact integer running counts over pooled distinct values, one
    // abs-of-difference per value, max + min-attaining-value reduction.
    "q_ks_test" ->
      """WITH v AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is1
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |bv AS (SELECT v, CAST(SUM(is1) AS BIGINT) AS k1,
        |    CAST(count(*) - SUM(is1) AS BIGINT) AS k2
        |  FROM v GROUP BY 1),
        |cum AS (SELECT v,
        |    CAST(SUM(k1) OVER (ORDER BY v) AS BIGINT) AS c1,
        |    CAST(SUM(k2) OVER (ORDER BY v) AS BIGINT) AS c2
        |  FROM bv),
        |tot AS (SELECT CAST(SUM(k1) AS BIGINT) AS n1,
        |    CAST(SUM(k2) AS BIGINT) AS n2 FROM bv),
        |d AS (SELECT v, abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS diff
        |  FROM cum, tot),
        |ks AS (SELECT max(diff) AS ks FROM d)
        |SELECT tot.n1, tot.n2, ks.ks, min(d.v) AS v_at
        |FROM d, ks, tot WHERE d.diff = ks.ks GROUP BY 1, 2, 3""".stripMargin,

    // Item-item cosine neighbors: same Σ|basket|² pair join, cosine =
    // cooc / √(cnt·cnt) with the long multiply BEFORE the double cast.
    "q_item_cf" -> ItemCfOracleSql,

    // The maintained streaming state must equal the one-shot computation,
    // so the oracle IS q_item_cf's (same data, same scoring, same ranks) —
    // for BOTH state backends: the parquet read-modify-write path and the
    // colf MERGE path must land on identical counts.
    "q_stream_item_cf" -> ItemCfOracleSql,
    "q_stream_item_cf_colf" -> ItemCfOracleSql,

    // Golden record: modal status / latest priority / exact decimal spend
    // (VARCHAR hop — DuckDB's direct DECIMAL→DOUBLE cast double-rounds).
    "q_golden_record" ->
      """WITH o AS (SELECT o_custkey, o_orderstatus, o_orderpriority,
        |    o_totalprice, o_orderkey, epoch_us(o_orderdate) AS d_us,
        |    epoch_us(o_orderdate) // 86400000000 AS day
        |  FROM orders),
        |sc AS (SELECT o_custkey, o_orderstatus, count(*) AS cnt
        |       FROM o GROUP BY 1, 2),
        |md AS (SELECT o_custkey, o_orderstatus AS status_mode FROM (
        |    SELECT o_custkey, o_orderstatus, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY cnt DESC, o_orderstatus) AS rn
        |    FROM sc) WHERE rn = 1),
        |lp AS (SELECT o_custkey, o_orderpriority AS latest_priority FROM (
        |    SELECT o_custkey, o_orderpriority, row_number() OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY d_us DESC, o_orderkey DESC) AS rn
        |    FROM o) WHERE rn = 1),
        |ag AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    min(day) AS first_day, max(day) AS last_day,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR)
        |      AS DOUBLE) AS total_spend
        |  FROM o GROUP BY 1)
        |SELECT ag.o_custkey, md.status_mode, lp.latest_priority,
        |  ag.n_orders, ag.first_day, ag.last_day, ag.total_spend
        |FROM ag JOIN md USING (o_custkey) JOIN lp USING (o_custkey)"""
        .stripMargin,

    // Benford audit: digits from exact cent integers; the expected
    // fractions are the SAME JVM-computed doubles the engine embeds,
    // shipped through VARCHAR (string→double parse is correctly rounded
    // in both engines; a bare decimal literal would type as DECIMAL).
    "q_benford" -> {
      val expRows = BenfordExpected
        .map { case (d, e) => s"($d, CAST('$e' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH expct(digit, expected) AS (VALUES $expRows),
         |cents AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
         |    AS BIGINT) AS c FROM orders),
         |cc AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER)
         |    AS digit, CAST(count(*) AS BIGINT) AS n
         |  FROM cents WHERE c > 0 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cc)
         |SELECT cc.digit, cc.n,
         |  CAST(cc.n AS DOUBLE) / CAST(tot.total AS DOUBLE) AS frac,
         |  e.expected,
         |  CAST(cc.n AS DOUBLE) / CAST(tot.total AS DOUBLE) - e.expected
         |    AS dev
         |FROM cc JOIN expct e USING (digit), tot""".stripMargin
    },

    // l-diversity: one count-distinct aggregate + HAVING, the exact
    // report shape of the engine's groupBy.
    "q_l_diversity" ->
      """SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY 1, 2
        |HAVING count(DISTINCT lang) < 3""".stripMargin,

    // Holt: the q_ewma recursive-CTE idiom with a two-state recurrence;
    // the level expression is repeated TEXTUALLY inside the trend update,
    // exactly as the engine's fold spells it.
    "q_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM daily),
        |r AS (
        |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS level,
        |    CAST(0 AS DOUBLE) AS trend, CAST(NULL AS DOUBLE) AS fitted
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.event_type, x.day, x.n, x.i,
        |    CAST(0.5 AS DOUBLE) * CAST(x.n AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE) * (r.level + r.trend),
        |    CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(x.n AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE) * (r.level + r.trend)) - r.level)
        |      + CAST(0.75 AS DOUBLE) * r.trend,
        |    r.level + r.trend
        |  FROM idx x JOIN r ON x.event_type = r.event_type AND x.i = r.i + 1)
        |SELECT event_type, day, n, level, trend, fitted FROM r""".stripMargin,

    // Holt-Winters: the same recursion carrying the 7-slot seasonal LIST.
    // Every sub-expression is inlined with the operator's exact literal
    // order (the q_holt discipline), so doubles replay bit-for-bit:
    // slot (1-based) = r.i % 7 + 1, shat read BEFORE the update.
    "q_holt_winters" -> {
      val shat = "r.seas[(r.i % 7) + 1]"
      val lNew = s"CAST(0.5 AS DOUBLE) * (CAST(x.n AS DOUBLE) - $shat) " +
        s"+ CAST(0.5 AS DOUBLE) * (r.level + r.trend)"
      val sNew = s"CAST(0.5 AS DOUBLE) * (CAST(x.n AS DOUBLE) - ($lNew)) " +
        s"+ CAST(0.5 AS DOUBLE) * $shat"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |idx AS (SELECT event_type, day, n,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
         |  FROM daily),
         |r AS (
         |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS level,
         |    CAST(0 AS DOUBLE) AS trend,
         |    list_transform(generate_series(1, 7), j -> CAST(0 AS DOUBLE)) AS seas,
         |    CAST(0 AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
         |  FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT x.event_type, x.day, x.n, x.i,
         |    $lNew,
         |    CAST(0.25 AS DOUBLE) * (($lNew) - r.level)
         |      + CAST(0.75 AS DOUBLE) * r.trend,
         |    list_transform(generate_series(1, 7), j ->
         |      CASE WHEN j = (r.i % 7) + 1 THEN $sNew ELSE r.seas[j] END),
         |    $sNew,
         |    r.level + r.trend + $shat
         |  FROM idx x JOIN r ON x.event_type = r.event_type AND x.i = r.i + 1)
         |SELECT event_type, day, n, level, trend, seasonal, fitted FROM r""".stripMargin
    },

    // Bounded Bellman–Ford unrolled: three MATERIALIZED relax-then-min
    // rounds over the symmetrized weighted co-occurrence edges — the hop
    // bound makes the fixed unroll exact, not an approximation.
    "q_sssp" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_quantity >= 45),
        |e AS (SELECT a.l_suppkey AS u, b.l_suppkey AS v,
        |    CAST(count(*) AS BIGINT) AS cooc
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |ew AS (SELECT u, v,
        |    GREATEST(CAST(1 AS BIGINT), 50 - cooc) AS w FROM e),
        |sym AS MATERIALIZED (SELECT u, v, w FROM ew
        |  UNION ALL SELECT v AS u, u AS v, w FROM ew),
        |d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
        |d1 AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |  FROM (SELECT node, dist FROM d0
        |    UNION ALL SELECT s.v AS node, d.dist + s.w AS dist
        |    FROM d0 d JOIN sym s ON d.node = s.u) GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |  FROM (SELECT node, dist FROM d1
        |    UNION ALL SELECT s.v AS node, d.dist + s.w AS dist
        |    FROM d1 d JOIN sym s ON d.node = s.u) GROUP BY 1),
        |d3 AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |  FROM (SELECT node, dist FROM d2
        |    UNION ALL SELECT s.v AS node, d.dist + s.w AS dist
        |    FROM d2 d JOIN sym s ON d.node = s.u) GROUP BY 1)
        |SELECT node, dist FROM d3""".stripMargin,

    // RRF: BM25 top-20 (the q_bm25 SQL restricted to one term) full-outer
    // joined with the length-prior top-20; the fused score is the same
    // fixed two-operand sum, absent ranks COALESCEd to 0 in the report.
    "q_rrf_fusion" -> {
      val k1 = 1.2; val b = 0.75
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, dl, count(*) AS tf FROM toks
         |  WHERE term = 'vector' GROUP BY doc_id, term, dl),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |st AS (SELECT count(*) AS nd,
         |       SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS sdl
         |       FROM documents),
         |ra AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rank_a FROM (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM (
         |    SELECT tf.doc_id,
         |      ((CAST(st.nd - dfreq.df AS DOUBLE) + 0.5) /
         |        (CAST(dfreq.df AS DOUBLE) + 0.5)) *
         |        ((CAST(tf.tf AS DOUBLE) * ${k1 + 1.0}) /
         |          (CAST(tf.tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
         |            (CAST(tf.dl AS DOUBLE) /
         |             (CAST(st.sdl AS DOUBLE) / st.nd))))) AS score
         |    FROM tf, dfreq, st WHERE tf.term = dfreq.term))
         |  WHERE rnk <= 20),
         |rb AS (SELECT doc_id, CAST(rnk AS BIGINT) AS rank_b FROM (
         |  SELECT doc_id, row_number() OVER (
         |      ORDER BY n_chars DESC, doc_id) AS rnk FROM documents)
         |  WHERE rnk <= 20),
         |f AS (SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         |    rank_a, rank_b,
         |    COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rank_a AS DOUBLE),
         |             CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rank_b AS DOUBLE),
         |               CAST(0 AS DOUBLE)) AS rrf
         |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id, COALESCE(rank_a, CAST(0 AS BIGINT)) AS rank_a,
         |  COALESCE(rank_b, CAST(0 AS BIGINT)) AS rank_b, rrf,
         |  CAST(rank_fused AS INTEGER) AS rank_fused FROM (
         |  SELECT doc_id, rank_a, rank_b, rrf,
         |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank_fused
         |  FROM f)
         |WHERE rank_fused <= 10""".stripMargin
    },

    // Omitted (rows-only check): q_fingerprint (xxhash64 has no DuckDB
    // equivalent) and q_dedup_minhash / q_dedup_simhash /
    // q_dedup_clusters_lsh / q_dedup_incremental (their candidate
    // generation hashes through xxhash64-based minhash/simhash signatures
    // DuckDB cannot reproduce — unlike the plane-literal similarity
    // paths, all of which are oracle-checked as of r10).
  )
}
