package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics: funnel conversion, cohort retention,
  * time-series gap filling, and z-score anomaly detection — the standard
  * product-analytics surface over an append-only event log.
  *
  * Scale design (100 TB event logs):
  *  - every stage is a user- or group-keyed equi-shuffle; nothing is
  *    all-pairs and nothing collects data to the driver;
  *  - time is handled as epoch-micros longs (callers pass an explicit
  *    micros column, normally `unix_micros` of the normalized `ts`), so
  *    day/week arithmetic is integral and session-timezone-independent —
  *    the same rule the event-time queries learned the hard way (see
  *    `SparkEntry.tsMicros`);
  *  - cross-row double sums go through exact DECIMAL casts, so partial
  *    aggregation order cannot perturb a mean or variance (harness
  *    determinism rule #1).
  *
  * Reference scope note: satyakalla890/columnar-format has no analytics
  * operators at all (its surface is the COLF codec + scans); this module
  * is part of the "engine a reference user would actually need" widening,
  * same as the dedup/similarity families.
  */
object Analytics {

  /** Time-series resampling to OHLC bars (open/high/low/close), the
    * standard downsampling step for tick/event streams before charting
    * or feature extraction. One grouped aggregate — `min_by`/`max_by`
    * over the (ts, tieBreak) struct pick open and close in the same
    * pass as the min/max extremes, so there is no window, no sort, and
    * no second scan; with (ts, tieBreak) unique the result is a pure
    * function of the data (ties in ts resolve by tieBreak, never by
    * arrival order). Scale shape: map-side partial aggregation then one
    * |keys × bars|-row shuffle.
    *
    * Output: keys ++ (bar, n, open, high, low, close).
    */
  def ohlcBars(df: DataFrame, keys: Seq[Column], bar: Column, ts: Column,
      tieBreak: Column, value: Column): DataFrame =
    df.groupBy((keys :+ bar.as("bar")): _*)
      .agg(count(lit(1)).as("n"),
        min_by(value, struct(ts, tieBreak)).as("open"),
        max(value).as("high"),
        min(value).as("low"),
        max_by(value, struct(ts, tieBreak)).as("close"))

  private val DayMicros = 86400000000L
  private val WeekMicros = 604800000000L

  /** Ordered conversion funnel: one row per step with the number of
    * users who completed steps 1..i *in order* (each step strictly after
    * the user's earliest completion of the previous step — the classic
    * "first-touch" funnel).
    *
    * Plan: step 1 is one user-keyed min; each later step is one
    * user-keyed equi-join against the previous step's (user, ts) frontier
    * followed by a user-keyed min. k steps = k bounded shuffles on the
    * user key; the frontier only ever shrinks, and AQE broadcasts it once
    * it fits.
    */
  def funnel(events: DataFrame, user: Column, eventType: Column,
             tsMicros: Column, steps: Seq[String],
             horizonMicros: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = events.select(user.as("u"), eventType.as("et"), tsMicros.as("tus"))
    var frontier = base.where(col("et") === steps.head)
      .groupBy("u").agg(min("tus").as("tus"))
    val perStep = scala.collection.mutable.ArrayBuffer[(Int, String, DataFrame)]()
    perStep += ((1, steps.head, frontier))
    for (i <- 1 until steps.length) {
      // strict "after", optionally within a per-step conversion horizon
      val within = horizonMicros match {
        case Some(h) => col("e.tus") <= col("p.tus") + lit(h)
        case None    => lit(true)
      }
      frontier = base.where(col("et") === steps(i)).as("e")
        .join(frontier.as("p"), col("e.u") === col("p.u"))
        .where(col("e.tus") > col("p.tus") && within)
        .select(col("e.u").as("u"), col("e.tus").as("tus"))
        .groupBy("u").agg(min("tus").as("tus"))
      perStep += ((i + 1, steps(i), frontier))
    }
    perStep.map { case (i, name, df) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_.union(_))
  }

  /** Weekly cohort retention: users are cohorted by the epoch-week of
    * their first activity; output counts distinct active users per
    * (cohort_week, week_off) cell. All-integer epoch-week arithmetic —
    * no calendar/timezone semantics to disagree over.
    *
    * Plan: one distinct on (user, week), one user-keyed min, one
    * user-keyed join back, one grouped count — three keyed shuffles.
    */
  def retention(events: DataFrame, user: Column, tsMicros: Column): DataFrame = {
    val uw = events.select(user.as("u"), tsMicros.as("tus"))
      .select(col("u"), expr(s"tus div $WeekMicros").as("wk"))
      .distinct()
    val cohort = uw.groupBy("u").agg(min("wk").as("cohort_week"))
    uw.join(cohort, "u")
      .withColumn("week_off", col("wk") - col("cohort_week"))
      .groupBy("cohort_week", "week_off")
      // (u, wk) is distinct, so count(*) here IS distinct users
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-user daily activity with missing days filled as explicit zeros
    * over the corpus-wide [min, max] day range — the densification step
    * every downstream time-series model (and LAG/LEAD window) needs.
    *
    * Plan: the day-range bounds are a one-row aggregate broadcast into a
    * `sequence` explode (never a driver-side loop); the grid is
    * users × days, joined left against the observed daily counts on the
    * composite key. The grid is the output size — building it IS the
    * operator, there is nothing asymptotically smaller.
    */
  def gapFillDaily(events: DataFrame, user: Column, tsMicros: Column): DataFrame = {
    val d = events.select(user.as("user_id"), tsMicros.as("tus"))
      .select(col("user_id"), expr(s"tus div $DayMicros").as("day"))
    val bounds = d.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = d.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val counts = d.groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
    grid.join(counts, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        date_format(date_add(to_date(lit("1970-01-01")), col("day").cast("int")),
          "yyyy-MM-dd").as("day_s"),
        coalesce(col("cnt"), lit(0L)).as("n"))
  }

  /** Per-group 2D Pareto frontier (skyline), both dimensions maximized:
    * rows no other row in the group weakly dominates. Spark-first shape:
    * a (group, x)-keyed max-y reduction first — only per-x maxima can
    * survive, which collapses the candidate set to |distinct x| rows and
    * makes the frontier pass a per-GROUP window (running max of y over
    * strictly-greater x), never a self-join and never a global sort. For
    * an astronomically wide single group, range-partition x and prefilter
    * per range with the same reduction — the window itself stays the
    * last, tiny step.
    */
  def skyline2D(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perX = df.select(group.as("grp"), x.as("x"), y.as("y"))
      .groupBy("grp", "x").agg(max("y").as("y"))
    val w = Window.partitionBy("grp").orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    perX.withColumn("pm", max("y").over(w))
      .where(col("pm").isNull || col("y") > col("pm"))
      .select(col("grp"), col("x"), col("y"))
  }

  /** Two-proportion z-test between variants `labelA` and `labelB` (the
    * standard A/B significance check): one aggregation pass produces the
    * four integer counts, then fixed-order IEEE math yields the pooled
    * z — bit-deterministic, so the whole test is oracle-checkable. One
    * output row: (n_a, k_a, n_b, k_b, z). Degenerate inputs (an empty
    * arm, or 0%/100% pooled conversion — where the statistic is 0/0)
    * yield NULL z instead of a runtime error: ANSI Spark throws on ANY
    * division by zero, DOUBLES INCLUDED (empirically pinned by
    * AnalyticsSpec's "engine pin" test — Divide is DivModLike for every
    * numeric type), and engines disagree on what 0/0 "should" be, so
    * the guard is both robustness and portability.
    */
  def twoProportionZTest(df: DataFrame, variant: Column, success: Column,
                         labelA: String, labelB: String): DataFrame = {
    val counts = df.agg(
      sum(when(variant === labelA, 1L).otherwise(0L)).as("n_a"),
      sum(when(variant === labelA && success, 1L).otherwise(0L)).as("k_a"),
      sum(when(variant === labelB, 1L).otherwise(0L)).as("n_b"),
      sum(when(variant === labelB && success, 1L).otherwise(0L)).as("k_b"))
    val pa = col("k_a").cast("double") / col("n_a")
    val pb = col("k_b").cast("double") / col("n_b")
    val pp = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val ks = col("k_a") + col("k_b")
    val defined = col("n_a") > 0 && col("n_b") > 0 &&
      ks > 0 && ks < col("n_a") + col("n_b")
    counts.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      when(defined, (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))).as("z"))
  }

  /** Per-group Pearson correlation between two 2-dp metric columns, from
    * exact DECIMAL(14,2)-view moments (see [[zscoreOutliers]] for why
    * this scale: tie-free casts, decimal→double conversions stay far
    * below 2^53). The final ratio is fixed-order IEEE math; a
    * zero-variance group yields NULL corr — ANSI Spark throws on an
    * exact-zero divisor even for doubles (see [[twoProportionZTest]];
    * pinned by AnalyticsSpec's "engine pin" test), so the quotient is
    * guarded, and engines disagree on what 0/0 "should" be anyway.
    */
  def pearson(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    // Moments accumulate as integer-CENT longs, not decimals (VERDICT r10
    // #7): the 2-dp view is exact in cents, long multiply-add is ~an order
    // of magnitude cheaper per row than Decimal multiply-add, and the
    // decimal VALUES are reconstructed losslessly before the one double
    // cast — cents·10⁻² / cents²·10⁻⁴ through an exact decimal literal
    // multiply (decimal(20,0) holds any long; scales add, no rounding),
    // so the surfaced doubles are bit-identical to the decimal-sum form
    // (pinned by AnalyticsSpec against the DuckDB oracle). Long overflow
    // of Σcents² needs ~2⁶³/10⁴ ≈ 9·10¹⁴ per-row-squared-units — ANSI
    // mode throws rather than wraps if a corpus ever gets there.
    val d = df.select(group.as("grp"),
      (x.cast("decimal(14,2)") * 100).cast("long").as("xc"),
      (y.cast("decimal(14,2)") * 100).cast("long").as("yc"))
    val m = d.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum(col("xc")).as("sxc"), sum(col("yc")).as("syc"),
      sum(col("xc") * col("xc")).as("sxxc"),
      sum(col("yc") * col("yc")).as("syyc"),
      sum(col("xc") * col("yc")).as("sxyc"))
    def scale2(c: Column): Column =
      (c.cast("decimal(20,0)") * lit(new java.math.BigDecimal("0.01"))).cast("double")
    def scale4(c: Column): Column =
      (c.cast("decimal(20,0)") * lit(new java.math.BigDecimal("0.0001"))).cast("double")
    val withMoments = m.select(col("grp"), col("n"),
      scale2(col("sxc")).as("sx"), scale2(col("syc")).as("sy"),
      scale4(col("sxxc")).as("sxx"), scale4(col("syyc")).as("syy"),
      scale4(col("sxyc")).as("sxy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    // den is NaN (not 0.0) when double rounding pushes a true-zero
    // variance slightly negative under the sqrt — NaN passes the guard
    // and the quotient is NaN, which is fine; only the exact-0.0 divisor
    // ANSI would reject is filtered to NULL.
    withMoments.select(col("grp"), col("n"),
      when(den =!= lit(0.0), num / den).as("corr"))
  }

  /** First-order Markov transition matrix over per-key ordered event
    * sequences: for every (from, to) pair of consecutive event types the
    * count and the row-normalized probability P(to | from). `tieBreak`
    * must make (tsMicros, tieBreak) a strict total order within a key
    * (equal timestamps DO occur in real logs; without the tie-break the
    * lead() pairing — and therefore the counts — would be
    * partitioning-dependent).
    *
    * Plan: one key-partitioned window (lead) + one grouped count + one
    * from-partitioned window sum — two keyed shuffles, output bounded by
    * |event types|². The probability is a single integer/integer double
    * division, bit-deterministic.
    */
  def transitions(events: DataFrame, key: Column, eventType: Column,
                  tsMicros: Column, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("tus"), col("tb"))
    val cnt = events
      .select(key.as("k"), eventType.as("et"), tsMicros.as("tus"), tieBreak.as("tb"))
      .withColumn("to_et", lead("et", 1).over(w))
      .where(col("to_et").isNotNull)
      .groupBy(col("et").as("from_et"), col("to_et"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy("from_et")
    cnt.select(col("from_et"), col("to_et"), col("n"),
      (col("n").cast("double") / sum("n").over(wf)).as("p"))
  }

  /** Market-basket co-occurrence with lift: for every unordered item pair
    * appearing together in at least `minPairs` baskets, the pair count,
    * support, and lift = P(a,b)/(P(a)P(b)). The standard association-rule
    * primitive (plain support/confidence fall out of the same columns).
    *
    * Plan: items are first made distinct per basket (multiplicity must
    * not inflate counts), then pairs come from a basket-keyed self-join
    * with `item_a < item_b` — the work is Σ basket_size², bounded by the
    * real-world basket width (single-digit for retail orders), never
    * all-pairs over the catalog. Item totals re-join broadcast (the item
    * dimension is small next to the fact table); the basket count rides
    * in as a one-row broadcast. Support/lift are fixed-order double
    * expressions over four integers.
    */
  def cooccurrence(df: DataFrame, basket: Column, item: Column,
                   minPairs: Long = 2L): DataFrame = {
    val b = df.select(basket.as("bk"), item.as("it")).distinct()
    val nb = b.agg(countDistinct(col("bk")).as("n_baskets"))
    val itemCnt = b.groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    val pairs = b.as("a").join(b.as("b"), "bk")
      .where(col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairs)
    pairs
      .join(broadcast(itemCnt.withColumnRenamed("it", "item_a")
        .withColumnRenamed("cnt", "cnt_a")), "item_a")
      .join(broadcast(itemCnt.withColumnRenamed("it", "item_b")
        .withColumnRenamed("cnt", "cnt_b")), "item_b")
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("n_pair"),
        (col("n_pair").cast("double") / col("n_baskets")).as("support"),
        (col("n_pair").cast("double") * col("n_baskets") /
          (col("cnt_a").cast("double") * col("cnt_b"))).as("lift"))
  }

  /** SCD Type-2 dimension build from an append-only change log: each
    * change row becomes a validity interval [valid_from, valid_to) with
    * `valid_to` = the key's next change (NULL on the current row). The
    * lakehouse-standard history table every MERGE-based dimension feeds
    * from. `tieBreak` again makes the per-key order strict and total.
    *
    * Plan: exactly one key-partitioned window (lead) — one keyed shuffle,
    * map-sized state per key, nothing iterative.
    */
  def scd2(changes: DataFrame, key: Column, tsMicros: Column,
           tieBreak: Column, attrs: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sel = Seq(key.as("k"), tsMicros.as("tus"), tieBreak.as("tb")) ++
      attrs.map { case (n, c) => c.as(n) }
    val w = Window.partitionBy("k").orderBy(col("tus"), col("tb"))
    changes.select(sel: _*)
      .withColumn("valid_to_us", lead("tus", 1).over(w))
      .select(Seq(col("k"), col("tus").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current")) ++ attrs.map(a => col(a._1)): _*)
  }

  /** Per-key time-weighted average of a 2-dp metric: each observation is
    * weighted by its holding duration (whole seconds until the key's next
    * observation; the last observation has no duration and drops out) —
    * the TWAP/position-weighting primitive.
    *
    * Determinism at scale: durations are integral seconds (micros div
    * 1e6 — exact), the value rides as DECIMAL(14,2), and the weighted sum
    * is an exact decimal Σ(value·dur) whose unscaled magnitude stays far
    * below 2^53 for any per-key series bounded by the corpus time range
    * (the decimal→double conversion-portability rule from the anomaly
    * work). The final TWAP is one double division.
    */
  def timeWeightedAvg(events: DataFrame, key: Column, tsMicros: Column,
                      tieBreak: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("tus"), col("tb"))
    events.select(key.as("k"), tsMicros.as("tus"), tieBreak.as("tb"),
        value.cast("decimal(14,2)").as("v"))
      .withColumn("dur_us", lead("tus", 1).over(w) - col("tus"))
      .withColumn("dur_s", expr("dur_us div 1000000"))
      .where(col("dur_s").isNotNull)
      .groupBy("k")
      .agg(count(lit(1)).as("n_intervals"),
        sum("dur_s").as("dur_total_s"),
        // exact cast(sum(v·dur) AS double): unscaled(v·dur) =
        // unscaled(v)·dur at scale 2 (dur is integral), one long multiply
        // per row, ANSI-loud once |v|·dur_s ≥ 9.2e16 (2⁶³/10²)
        GridSum.exactSum(
          GridSum.unscaled(col("v")) * col("dur_s"), 2).cast("double").as("vdur"))
      // a key whose gaps are ALL sub-second floors every dur_s to 0, so
      // dur_total_s = 0 exactly and ANSI would throw on the division —
      // entirely plausible in real event data. NULL twap there (the
      // oracle mirrors with NULLIF); non-degenerate keys bit-unchanged.
      .select(col("k"), col("n_intervals"), col("dur_total_s"), col("vdur"),
        when(col("dur_total_s") =!= 0L,
          col("vdur") / col("dur_total_s").cast("double")).as("twap"))
  }

  /** Per-group CUSUM drift series over the daily totals: the running sum
    * of each day's deviation from the group's overall per-row mean, kept
    * division-free by scaling with the group row count —
    * cusum_scaled(d) = Σ_{day≤d} (n_g·s_day − s_g·n_day), exact decimal
    * end to end (a cumulative DOUBLE window would tie the result to the
    * engine's window-aggregation tree shape; the decimal form has one
    * canonical value). Sign changes / extremes of the series are the
    * standard change-point signal.
    *
    * Plan: one grouped daily reduction, group totals re-joined broadcast
    * (group key is low-cardinality by construction), one group-partitioned
    * cumulative window — two keyed shuffles.
    */
  def cusumDaily(events: DataFrame, group: Column, tsMicros: Column,
                 value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.select(group.as("grp"),
        tsMicros.as("tus"), value.cast("decimal(14,2)").as("v"))
      .select(col("grp"), expr(s"tus div $DayMicros").as("day"), col("v"))
      .groupBy("grp", "day")
      .agg(count(lit(1)).as("n_d"),
        // exact sum(decimal(14,2)) cast (18,2): same value, same type,
        // same ANSI overflow point, no per-row BigDecimal (r21)
        GridSum.exactSum(GridSum.unscaled(col("v")), 2).cast("decimal(18,2)").as("s_d"))
    val totals = daily.groupBy("grp").agg(
      sum("n_d").as("n_g"),
      GridSum.exactSum(GridSum.unscaled(col("s_d")), 2).cast("decimal(18,2)").as("s_g"))
    val w = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(totals), "grp")
      .withColumn("dev",
        col("s_d") * col("n_g").cast("decimal(12,0)") -
          col("s_g") * col("n_d").cast("decimal(12,0)"))
      .select(col("grp"), col("day"), col("n_d"),
        sum("dev").over(w).cast("double").as("cusum_scaled"))
  }

  /** Linear (equal-credit) multi-touch attribution: every `touchType`
    * event within `horizonMicros` BEFORE a `convType` conversion of the
    * same key shares the conversion's value equally. Output is row-level
    * (one row per touch×conversion) — credits are per-row doubles, so no
    * cross-row double sum exists to make order matter; callers roll up
    * with the exact-decimal idiom if they need totals.
    *
    * Plan: one key-keyed equi-join with a bounded time-range predicate —
    * the per-key blowup is capped by event density × horizon, the same
    * shape (and the same salting escape hatch) as the as-of join's
    * union-window form. The per-conversion touch count is a
    * conversion-partitioned window, not a second aggregation pass.
    */
  def attributionLinear(events: DataFrame, key: Column, eventType: Column,
                        tsMicros: Column, id: Column, value: Column,
                        convType: String, touchType: String,
                        horizonMicros: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events.select(key.as("k"), eventType.as("et"),
      tsMicros.as("tus"), id.as("eid"), value.as("v"))
    val conv = base.where(col("et") === convType)
      .select(col("k"), col("tus").as("ctus"), col("eid").as("conv_id"), col("v"))
    val touch = base.where(col("et") === touchType)
      .select(col("k"), col("tus").as("ttus"), col("eid").as("touch_id"))
    val wc = Window.partitionBy("conv_id")
    conv.join(touch, Seq("k"))
      .where(col("ttus") < col("ctus") && col("ttus") >= col("ctus") - lit(horizonMicros))
      .withColumn("n_touches", count(lit(1)).over(wc))
      .select(col("k"), col("conv_id"), col("touch_id"), col("n_touches"),
        (col("v").cast("decimal(14,2)").cast("double") / col("n_touches")).as("credit"))
  }

  /** Point-in-time (PIT) join — the feature-store correctness primitive:
    * each fact row picks up the dimension version whose validity interval
    * [valid_from, valid_to) contains the fact's event time. Joining
    * "latest value" instead (the naive feature lookup) leaks the future
    * into training data; the PIT form is why [[scd2]] keeps history.
    *
    * Plan: a key-keyed equi-join with the interval containment as a
    * residual predicate — per-key version counts are change-log sized, so
    * the residual evaluates over small per-key groups; no range blow-up,
    * no broadcast requirement. Facts that predate the key's first version
    * (or match no key) are dropped (inner semantics — the caller decides
    * what an unknown-dimension fact means).
    */
  def pitJoin(facts: DataFrame, factKey: Column, factTs: Column,
              dim: DataFrame, dimKey: Column, validFrom: Column,
              validTo: Column): DataFrame = {
    // `dimKey` must be a BARE column of `dim`: the key is dropped from the
    // dim side by name below, and a qualified (col("d.k")) or computed key
    // would make that drop a silent no-op leaving a stray column in the
    // output (ADVICE r10) — fail loudly instead.
    require(dim.columns.contains(dimKey.toString),
      s"pitJoin dimKey must be a bare column of dim; '$dimKey' is not in " +
        dim.columns.mkString("[", ", ", "]"))
    val f = facts.withColumn("_pit_ts", factTs).withColumn("_pit_k", factKey)
    val d = dim.withColumn("_pit_k", dimKey)
      .withColumn("_pit_from", validFrom).withColumn("_pit_to", validTo)
    f.join(d.drop(dimKey.toString),
        f("_pit_k") === d("_pit_k") &&
          col("_pit_from") <= col("_pit_ts") &&
          (col("_pit_to").isNull || col("_pit_ts") < col("_pit_to")))
      .drop("_pit_ts", "_pit_k", "_pit_from", "_pit_to")
  }

  /** Top-k common event paths: each key's first `maxLen` events (in
    * strict (ts, tie-break) order) form a '>'-joined path string; paths
    * are counted and the k most common kept — the "what do user journeys
    * look like" primitive behind funnel design.
    *
    * Determinism: the path is built by sorting the COLLECTED (rank, type)
    * pairs — `collect_list` alone has no row-order guarantee under
    * parallel aggregation, so the rank rides inside the struct and
    * `sort_array` restores the one canonical order. The top-k cut ranks
    * over (count DESC, path ASC) — a TOTAL order, so ranks are unique,
    * the kept set is exactly k paths, and count ties at the boundary
    * resolve by the path string instead of by partitioning accident.
    *
    * Plan: one key-partitioned window + one key-grouped collect (bounded
    * at maxLen elements per key) + one count shuffle on the path string;
    * the final top-k cut is the bounded [[graft.functions.TopKByCount]]
    * aggregate — each map task of the counts table emits ≤ k candidates
    * to a one-group final merge, so there is NO single-partition
    * window/sort even when the path vocabulary (≤ |types|^maxLen) is
    * itself large. Identical output to the rank()-window form: the
    * (count desc, path asc) order is total, so ranks are unique and
    * exactly k paths survive.
    */
  def topPaths(events: DataFrame, key: Column, eventType: Column,
               tsMicros: Column, tieBreak: Column,
               maxLen: Int = 5, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("k").orderBy(col("tus"), col("tb"))
    val paths = events
      .select(key.as("k"), eventType.as("et"), tsMicros.as("tus"), tieBreak.as("tb"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxLen)
      .groupBy("k")
      .agg(array_join(transform(sort_array(collect_list(struct(col("rn"), col("et")))),
        s => s.getField("et")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    val tk = udaf(new graft.functions.TopKByCount(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Counted])
    paths.agg(tk(col("n"), col("path")).as("tk"))
      .select(posexplode(col("tk.items")).as(Seq("pos", "s")))
      .select(col("s.label").as("path"), col("s.n").as("n"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Per-group monotone-trend score: Spearman rank correlation between
    * the daily total and the day's position in the series — +1 for a
    * strictly rising metric, −1 for falling, ~0 for no trend. The
    * monitoring question ("is this metric drifting up?") answered
    * without any least-squares float math: ranks are INTEGERS (ties
    * broken by day — a documented total order, the same policy as every
    * other ordering here), so all correlation moments are exact integer
    * sums and the single double division is the final expression.
    * Tie policy consequence: a run of EQUAL daily totals ranks in day
    * order and therefore counts toward a positive trend (a fully
    * constant series scores +1, where average-rank Spearman is 0/0);
    * on exact-decimal daily sums real ties are rare, and the
    * alternative — average ranks — reintroduces the fractional float
    * arithmetic this operator exists to avoid.
    *
    * Plan: one grouped daily reduction, two group-partitioned windows
    * (day index, value rank), one grouped moment aggregate.
    */
  def trendSpearman(events: DataFrame, group: Column, tsMicros: Column,
                    value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events.select(group.as("grp"), tsMicros.as("tus"),
        value.cast("decimal(14,2)").as("v"))
      .select(col("grp"), expr(s"tus div $DayMicros").as("day"), col("v"))
      .groupBy("grp", "day").agg(sum("v").as("s"))
    val wDay = Window.partitionBy("grp").orderBy("day")
    val wVal = Window.partitionBy("grp").orderBy(col("s"), col("day"))
    val ranked = daily
      .withColumn("rx", row_number().over(wDay))
      .withColumn("ry", row_number().over(wVal))
    val m = ranked.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    m.select(col("grp"), col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
          sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
        .as("rho"))
  }

  /** Per-group z-score outliers: rows whose value deviates from the
    * group mean by more than `z` population standard deviations, with the
    * z-score itself. Group moments come from exact decimal sums (order-
    * proof); the flag compares squared deviation against z²·variance —
    * per-row IEEE double math with a fixed operation order, so the
    * boundary decision is bit-deterministic.
    *
    * The group-stats side is hinted broadcast: the operator targets
    * low-cardinality grouping columns (event types, sources, domains).
    * For high-cardinality groups drop the hint and let AQE decide.
    */
  def zscoreOutliers(events: DataFrame, id: Column, group: Column,
                     value: Column, z: Double = 2.0): DataFrame = {
    // Moments over the exact DECIMAL(14,2) view (the money convention the
    // TPC-H queries use). Two deliberate properties: (a) the squares' sum
    // keeps its unscaled magnitude far below 2^53 — above that, decimal→
    // double conversion is no longer guaranteed correctly rounded in
    // every engine (measured: DuckDB diverges by 1 ulp at scale 12 with
    // ~1e19 unscaled); (b) 2-dp metric values have non-terminating binary
    // expansions, so the double→decimal cast can never land on a
    // half-way tie (where engines disagree on the tie rule).
    val base = events.select(id.as("event_id"), group.as("grp"), value.as("v"))
    val stats = base.groupBy("grp").agg(
      count(lit(1)).as("n"),
      // the sum of squares rides as one long multiply of the unscaled
      // value with itself (scale 4), ANSI-loud once |v| ≥ 3.04e7 (√2⁶³/10²)
      GridSum.exactSum(
        GridSum.unscaled(col("v").cast("decimal(14,2)")), 2).cast("double").as("s"),
      GridSum.exactSum(
        GridSum.unscaled(col("v").cast("decimal(14,2)")) *
          GridSum.unscaled(col("v").cast("decimal(14,2)")), 4).cast("double").as("q"))
    val mean = col("s") / col("n")
    val vr = col("q") / col("n") - (col("s") / col("n")) * (col("s") / col("n"))
    base.join(broadcast(stats), "grp")
      .where((col("v") - mean) * (col("v") - mean) > lit(z * z) * vr)
      // vr can round to exactly 0.0 for a near-constant group while some
      // row still passes the flag inequality — ANSI throws on the 0.0
      // divisor (the pearson class), so the z score is guarded to NULL
      // there; flagged rows with positive vr are bit-unchanged.
      .select(col("event_id"), col("grp"), col("v"),
        when(vr =!= lit(0.0), (col("v") - mean) / sqrt(vr)).as("z"))
  }

  /** Exponentially weighted moving average per key: e₁ = x₁,
    * eᵢ = α·xᵢ + (1−α)·eᵢ₋₁ over ascending `ord`. The recurrence is a
    * sequential fold Spark's window frames cannot express (the closed
    * form needs (1−α)^(−i) factors that overflow past a few hundred
    * steps), so each key's series is collected into ONE sorted array and
    * folded with the codegen'd `aggregate` higher-order function — pure
    * multiply-add in a fixed order, bit-reproducible across engines.
    *
    * Scale shape: the pre-aggregated series length is bounded by the
    * CALENDAR (one point per key per ord bucket — days, hours), not by
    * row volume, so per-key arrays stay small no matter how many raw
    * events fed each point; the fold itself is one map-side pass after a
    * single keyed shuffle. Callers must pass an already point-per-ord
    * frame (e.g. a daily aggregate), as the query harness does.
    *
    * Output: (k, ord, x, ewma) — one row per input point.
    */
  def ewma(df: DataFrame, key: Column, ord: Column, x: Column,
           alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    // Scala Double.toString is shortest-round-trip, so the SQL literal
    // parses back to the exact same bits the oracle side embeds.
    val a = alpha.toString
    val b = (1.0 - alpha).toString
    df.select(key.as("k"), ord.as("o"), x.cast("double").as("x"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("o"), col("x")))).as("s"))
      .withColumn("e", expr(
        s"""aggregate(s, CAST(array() AS ARRAY<DOUBLE>), (acc, r) ->
           |  array_append(acc, CASE WHEN size(acc) = 0 THEN r.x
           |    ELSE CAST($a AS DOUBLE) * r.x
           |         + CAST($b AS DOUBLE) * element_at(acc, -1) END))"""
          .stripMargin))
      .select(col("k"), posexplode(col("s")).as(Seq("i", "r")), col("e"))
      .select(col("k"), col("r.o").as("ord"), col("r.x").as("x"),
        element_at(col("e"), col("i") + 1).as("ewma"))
  }

  /** Holt double-exponential smoothing per key — the level+trend step up
    * from [[ewma]] for series that drift: l₁ = x₁, b₁ = 0, then
    * lᵢ = α·xᵢ + (1−α)(lᵢ₋₁ + bᵢ₋₁) and bᵢ = β(lᵢ − lᵢ₋₁) + (1−β)bᵢ₋₁.
    * Same bounded-fold shape as [[ewma]] (the series is calendar-bounded,
    * one point per ord bucket), same portability contract: pass
    * exact-binary α/β (0.5, 0.25, ...) and every step is one fixed-order
    * multiply-add chain both engines reproduce bit-for-bit — lᵢ is
    * spelled out twice inside the bᵢ update with the IDENTICAL expression
    * text, so no intermediate rounding can diverge.
    *
    * Output: (k, ord, x, level, trend, fitted) — fitted is the one-step
    * forecast lᵢ₋₁ + bᵢ₋₁ made BEFORE observing xᵢ (NULL at the head),
    * the column a backtest scores.
    */
  def holtLinear(df: DataFrame, key: Column, ord: Column, x: Column,
                 alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0,1], got $beta")
    val a = alpha.toString; val ia = (1.0 - alpha).toString
    val bt = beta.toString; val ib = (1.0 - beta).toString
    val lNew = s"""CAST($a AS DOUBLE) * r.x
                  | + CAST($ia AS DOUBLE)
                  |   * (element_at(acc, -1).l + element_at(acc, -1).b)"""
      .stripMargin
    df.select(key.as("k"), ord.as("o"), x.cast("double").as("x"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("o"), col("x")))).as("s"))
      .withColumn("st", expr(
        s"""aggregate(s, CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>),
           |  (acc, r) -> array_append(acc,
           |    CASE WHEN size(acc) = 0
           |      THEN named_struct('l', r.x, 'b', CAST(0 AS DOUBLE))
           |      ELSE named_struct(
           |        'l', $lNew,
           |        'b', CAST($bt AS DOUBLE)
           |               * (($lNew) - element_at(acc, -1).l)
           |             + CAST($ib AS DOUBLE) * element_at(acc, -1).b)
           |    END))""".stripMargin))
      .select(col("k"), posexplode(col("s")).as(Seq("i", "r")), col("st"))
      .select(col("k"), col("r.o").as("ord"), col("r.x").as("x"),
        element_at(col("st"), col("i") + 1).getField("l").as("level"),
        element_at(col("st"), col("i") + 1).getField("b").as("trend"),
        when(col("i") > 0,
          element_at(col("st"), col("i")).getField("l") +
            element_at(col("st"), col("i")).getField("b")).as("fitted"))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing per key — [[holtLinear]]
    * plus a length-`m` seasonal component, the standard triple-
    * exponential forecaster for volume series with a weekly/daily cycle.
    * Deterministic engine-portable convention (every initialization
    * scheme in the literature is a choice; this one needs no lookahead):
    *
    *   - step 1: level = x_1, trend = 0, seasonals start all-zero
    *     (they converge within a few cycles; a zero seasonal makes the
    *     first cycle's fits equal plain Holt, which is the honest prior);
    *   - step t>1, slot = (t-1) mod m (0-based over update steps):
    *     shat   = seas[slot]                       (value BEFORE update)
    *     level' = a*(x_t - shat) + (1-a)*(level + trend)
    *     trend' = b*(level' - level) + (1-b)*trend
    *     seas[slot] = g*(x_t - level') + (1-g)*shat
    *     fitted = level + trend + shat             (one-step-ahead)
    *
    * Exact-binary alpha/beta/gamma keep the fold bit-portable; the
    * oracle replays it as a recursive CTE carrying the seasonal LIST.
    * Same bounded-fold shape as [[holtLinear]] (per-key series arrays).
    *
    * Output: (k, ord, x, level, trend, seasonal, fitted) — `seasonal` is
    * the slot value AFTER this step's update; `fitted` is NULL at step 1.
    */
  def holtWinters(df: DataFrame, key: Column, ord: Column, x: Column,
      m: Int, alpha: Double, beta: Double, gamma: Double): DataFrame = {
    require(m >= 2, s"season length m must be >= 2, got $m")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0,1], got $beta")
    require(gamma >= 0.0 && gamma <= 1.0, s"gamma must be in [0,1], got $gamma")
    val a = alpha.toString; val ia = (1.0 - alpha).toString
    val bt = beta.toString; val ib = (1.0 - beta).toString
    val g = gamma.toString; val ig = (1.0 - gamma).toString
    // shared sub-expressions as SQL text so both uses are literally the
    // same expression tree (the holtLinear discipline)
    val shat = "element_at(acc.seas, (size(acc.out) % " + m + ") + 1)"
    val prevL = "element_at(acc.out, -1).l"
    val prevB = "element_at(acc.out, -1).b"
    val lNew = s"CAST($a AS DOUBLE) * (r.x - $shat) " +
      s"+ CAST($ia AS DOUBLE) * ($prevL + $prevB)"
    val sNew = s"CAST($g AS DOUBLE) * (r.x - ($lNew)) + CAST($ig AS DOUBLE) * $shat"
    df.select(key.as("k"), ord.as("o"), x.cast("double").as("x"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("o"), col("x")))).as("s"))
      .withColumn("st", expr(
        s"""aggregate(s,
           |  CAST(named_struct(
           |      'seas', array_repeat(CAST(0 AS DOUBLE), $m),
           |      'out', CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE, f: DOUBLE, sv: DOUBLE>>))
           |    AS STRUCT<seas: ARRAY<DOUBLE>,
           |              out: ARRAY<STRUCT<l: DOUBLE, b: DOUBLE, f: DOUBLE, sv: DOUBLE>>>),
           |  (acc, r) -> CASE WHEN size(acc.out) = 0
           |    THEN named_struct('seas', acc.seas,
           |      'out', array(named_struct('l', r.x, 'b', CAST(0 AS DOUBLE),
           |        'f', CAST(NULL AS DOUBLE), 'sv', CAST(0 AS DOUBLE))))
           |    ELSE named_struct(
           |      'seas', transform(acc.seas, (v, j) ->
           |        CASE WHEN j = size(acc.out) % $m THEN $sNew ELSE v END),
           |      'out', array_append(acc.out, named_struct(
           |        'l', $lNew,
           |        'b', CAST($bt AS DOUBLE) * (($lNew) - $prevL)
           |             + CAST($ib AS DOUBLE) * $prevB,
           |        'f', $prevL + $prevB + $shat,
           |        'sv', $sNew)))
           |    END)""".stripMargin))
      .select(col("k"), posexplode(col("s")).as(Seq("i", "r")), col("st"))
      .select(col("k"), col("r.o").as("ord"), col("r.x").as("x"),
        element_at(col("st.out"), col("i") + 1).getField("l").as("level"),
        element_at(col("st.out"), col("i") + 1).getField("b").as("trend"),
        element_at(col("st.out"), col("i") + 1).getField("sv").as("seasonal"),
        element_at(col("st.out"), col("i") + 1).getField("f").as("fitted"))
  }

  /** Kaplan–Meier survival estimator per cohort: subjects arrive as one
    * row each with a duration and an observed/censored flag; the output
    * is the classic life table — at-risk count, events, censorings, and
    * the product-limit survival S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) — one row
    * per (cohort, distinct duration).
    *
    * The running product is the same bounded-fold shape as [[ewma]]:
    * the life table has one row per distinct duration (calendar-bounded,
    * not volume-bounded), so collecting a cohort's table into an array
    * and folding is safe at any subject count. Pure (÷, −, ×) in a fixed
    * order — no exp/ln cumulation, so a dᵢ = nᵢ tail step lands on an
    * exact 0.0 instead of a log singularity, and every step is
    * bit-reproducible across engines.
    *
    * Plan: one (cohort, dur) aggregate → one cohort-partitioned window
    * for at-risk counts → one cohort-keyed fold. Two keyed shuffles.
    */
  def kaplanMeier(subjects: DataFrame, cohort: Column, duration: Column,
                  observed: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = subjects
      .select(cohort.as("cohort"), duration.as("dur"),
        observed.cast("boolean").as("obs"))
      .groupBy(col("cohort"), col("dur"))
      .agg(sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
        sum(when(col("obs"), 0L).otherwise(1L)).as("c"))
    val wAll = Window.partitionBy("cohort")
    val wPrev = Window.partitionBy("cohort").orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = g.withColumn("n",
      sum(col("d") + col("c")).over(wAll) -
        coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    atRisk
      .groupBy(col("cohort"))
      .agg(sort_array(collect_list(
        struct(col("dur"), col("d"), col("c"), col("n")))).as("s"))
      .withColumn("p", expr(
        """aggregate(s, CAST(array() AS ARRAY<DOUBLE>), (acc, r) ->
          |  array_append(acc,
          |    CASE WHEN size(acc) = 0
          |      THEN CAST(1 AS DOUBLE)
          |           - CAST(r.d AS DOUBLE) / CAST(r.n AS DOUBLE)
          |      ELSE element_at(acc, -1) *
          |        (CAST(1 AS DOUBLE)
          |         - CAST(r.d AS DOUBLE) / CAST(r.n AS DOUBLE)) END))"""
          .stripMargin))
      .select(col("cohort"), posexplode(col("s")).as(Seq("i", "r")), col("p"))
      .select(col("cohort"), col("r.dur").as("dur"), col("r.n").as("n_risk"),
        col("r.d").as("n_event"), col("r.c").as("n_cens"),
        element_at(col("p"), col("i") + 1).as("survival"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic: D = max_v |F₁(v) − F₂(v)|
    * over the pooled distinct values, plus the smallest value attaining
    * it. The empirical CDFs are running INTEGER counts over the value
    * order — cumulated with [[Packing.globalCumsum]]'s range-partitioned
    * distributed prefix sum, so there is no single-partition global
    * window anywhere; the only driver-side state is one offset per range
    * partition. Per-row math is two divisions and a subtraction in a
    * fixed order (bit-reproducible), and the final reduction is max/min
    * (order-free).
    *
    * Output: ONE row (n1, n2, ks, v_at) — or ZERO rows when either
    * sample is empty (n1 = 0 or n2 = 0): an empty sample has no
    * empirical CDF, so the statistic is undefined and the operator
    * returns "no test" rather than a divide-by-zero artifact.
    */
  def ksTest2(df: DataFrame, value: Column, inFirst: Column): DataFrame = {
    val byVal = df
      .select(value.cast("double").as("v"),
        when(inFirst, 1L).otherwise(0L).as("is1"))
      .groupBy(col("v"))
      .agg(sum(col("is1")).as("k1"), (count(lit(1)) - sum(col("is1"))).as("k2"))
    // BOTH samples' CDFs ride ONE prefix-sum pipeline (r15:
    // globalCumsumMulti) — the prior form ran two full globalCumsum
    // pipelines over the same value axis and re-joined them on v, paying
    // a second range exchange, a second byVal aggregation, and the join.
    val c = Packing.globalCumsumMulti(byVal, col("v"),
      Seq(col("k1") -> "c1", col("k2") -> "c2"))
    // totals = the LAST cumulative of each inclusive running sum — one
    // aggregate over the (cached) cumsum output instead of a third
    // evaluation of byVal
    val tot = c.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
    // Degenerate-input guard (the pearson/twap/zscore audit class): an
    // EMPTY sample has no CDF, so n1 = 0 or n2 = 0 nulls every diff and
    // the operator returns zero rows — a clean "no test" instead of an
    // ANSI divide-by-zero error surfacing from deep inside the plan.
    // (An entirely empty INPUT makes n1/n2 NULL from max-over-nothing —
    // the when() guard rejects that identically.)
    val diffs = c.select("v", "c1", "c2")
      .crossJoin(broadcast(tot))
      .withColumn("diff", when(col("n1") > 0 && col("n2") > 0, abs(
        col("c1").cast("double") / col("n1").cast("double") -
          col("c2").cast("double") / col("n2").cast("double"))))
    // D and its attaining value in ONE aggregation: v_at = the v of the
    // row minimizing (−diff, v), i.e. max diff then smallest v — the
    // min_by form replaces the previous max-then-rejoin, which evaluated
    // the whole diffs pipeline (both prefix sums included) TWICE per
    // action. Ties are impossible in the ordering struct (v is distinct
    // by the groupBy above), so min_by is deterministic; negation of a
    // double is exact.
    diffs.where(col("diff").isNotNull)
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("diff")).as("ks"),
        min_by(col("v"), struct((-col("diff")).as("nd"), col("v"))).as("v_at"))
      .select(col("n1"), col("n2"), col("ks"), col("v_at"))
  }

  /** Item-item collaborative filtering: the top-k nearest neighbors of
    * every item under co-occurrence cosine, sim(i,j) =
    * |baskets(i) ∩ baskets(j)| / √(|baskets(i)|·|baskets(j)|) — the
    * classic item-based recommender precompute (Sarwar et al., WWW '01).
    *
    * Same scale discipline as [[cooccurrence]]: candidate pairs come
    * from a basket-keyed self-join, so work is Σ|basket|², never
    * |catalog|² — at 100 TB the bound is the largest basket, which a
    * per-basket cap upstream controls. Counts stay integral until the
    * one cosine division; √ is IEEE-correctly-rounded, so the score is
    * engine-portable. Ranking ties break on (cooc desc, neighbor asc)
    * for a total order.
    *
    * Output: (item, neighbor, cooc, cos, rank ≤ k), both directions of
    * each pair.
    */
  def itemNeighbors(df: DataFrame, basket: Column, item: Column,
                    k: Int, minPairs: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.select(basket.as("bk"), item.as("it")).distinct()
    val itemCnt = b.groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    val pairs = b.as("a").join(b.as("b"), "bk")
      .where(col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("ia"), col("b.it").as("ib"))
      .agg(count(lit(1)).as("cooc"))
      .where(col("cooc") >= minPairs)
    val both = pairs.select(col("ia").as("item"), col("ib").as("nbr"), col("cooc"))
      .unionAll(pairs.select(col("ib").as("item"), col("ia").as("nbr"), col("cooc")))
    val scored = both
      .join(broadcast(itemCnt.withColumnRenamed("it", "item")
        .withColumnRenamed("cnt", "cnt_i")), "item")
      .join(broadcast(itemCnt.withColumnRenamed("it", "nbr")
        .withColumnRenamed("cnt", "cnt_n")), "nbr")
      .withColumn("cos", col("cooc").cast("double") /
        sqrt((col("cnt_i") * col("cnt_n")).cast("double")))
    val w = Window.partitionBy("item")
      .orderBy(col("cos").desc, col("cooc").desc, col("nbr"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("item"), col("nbr"), col("cooc"), col("cos"),
        col("rank").cast("int").as("rank"))
  }
}
