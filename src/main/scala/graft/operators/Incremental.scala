package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance: keep a grouped aggregate current from a
  * base snapshot plus a row-level change feed (the colf CDC surface —
  * `diffVersions` tags or the streaming change feed), instead of
  * re-aggregating the whole table per refresh.
  *
  * This is what makes CDC *useful* at 100 TB: refresh cost is
  * O(changed rows) — one keyed aggregate over the delta plus one keyed
  * merge against the (much smaller) maintained state — while a full
  * recompute re-shuffles the entire fact table.
  *
  * Exactness: sums stay DECIMAL from base aggregate through delta merge
  * to the final cast, so maintenance is associative — the maintained
  * result is bit-equal to a from-scratch recompute of the final state
  * (spec-pinned, and the harness query's oracle recomputes exactly that).
  */
object Incremental {

  /** Maintained per-key (count, 2-dp decimal sum). `changeTag` must be
    * `added` / `removed` per row (an UPDATE arrives as remove+add, which
    * cancels in the count and adjusts the sum — no special casing). A
    * group whose maintained count reaches zero disappears, exactly like
    * the recompute.
    */
  def maintainSumCount(base: DataFrame, changes: DataFrame, changeTag: Column,
                       key: Column, value: Column): DataFrame = {
    // exact forms of the sum(decimal(14,2)) maintenance sums (r21 sweep):
    // same decimal(24,2) results, long arithmetic per row — the signed
    // delta negates the UNSCALED long, which is exactly -v at scale 2
    val b = base.groupBy(key.as("grp")).agg(
      count(lit(1)).as("n0"),
      GridSum.exactSum(
        GridSum.unscaled(value.cast("decimal(14,2)")), 2).cast("decimal(24,2)").as("s0"))
    val d = changes
      .select(key.as("grp"),
        when(changeTag === "added", lit(1L)).otherwise(lit(-1L)).as("sgn"),
        GridSum.unscaled(value.cast("decimal(14,2)")).as("uv"))
      .groupBy("grp").agg(
        sum(col("sgn")).as("dn"),
        GridSum.exactSum(
          when(col("sgn") === 1L, col("uv")).otherwise(-col("uv")),
          2).cast("decimal(24,2)").as("ds"))
    b.join(d, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s0").cast("decimal(26,2)"), lit(0).cast("decimal(26,2)")) +
          coalesce(col("ds").cast("decimal(26,2)"), lit(0).cast("decimal(26,2)")))
          .cast("double").as("sum_val"))
      .where(col("n") > 0)
  }
}
