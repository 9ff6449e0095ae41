package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event sessionization — the canonical stateful stream/batch operator a
  * training-data pipeline needs over behavioral logs.
  *
  * Batch form: gaps-and-islands over a single hash-partitioned window
  * (partition by user): mark a session start wherever the gap from the
  * previous event exceeds `gapSeconds`, running-sum the markers into a
  * per-user session index, aggregate per (user, index). Exactly two
  * shuffles at any scale — the window partitioning is reused by the final
  * groupBy (same keys prefix), and AQE handles skewed users.
  *
  * Streaming form: Spark's built-in `session_window` aggregation (see
  * SessionizeStreamingSpec) — same session semantics, incremental state.
  */
object Sessionize {

  /** df must carry (user, id, ts: timestamp, value) columns given by the
    * args. `id` is the deterministic tie-break for simultaneous events.
    * Output: one row per session with exact (decimal-summed) value totals.
    */
  def sessions(df: DataFrame, user: Column, id: Column, ts: Column, value: Column,
      gapSeconds: Long): DataFrame = {
    val base = df.select(user.as("user_id"), id.as("__id"), ts.as("__ts"), value.as("__v"))
    val order = Window.partitionBy("user_id").orderBy(col("__ts"), col("__id"))
    val prevTs = lag(col("__ts"), 1).over(order)
    val isStart = when(
      prevTs.isNull ||
        (unix_micros(col("__ts")) - unix_micros(prevTs)) > gapSeconds * 1000000L,
      1).otherwise(0)
    val running = Window.partitionBy("user_id").orderBy(col("__ts"), col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__start", isStart)
      .withColumn("session_idx", sum(col("__start")).over(running))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("__ts"))).as("start_us"),
        max(unix_micros(col("__ts"))).as("end_us"),
        // exact cast(sum(decimal(18,6)) AS double) — bit-identical, no
        // per-row BigDecimal aggregation buffer (r21 sweep)
        GridSum.exactSum(
          GridSum.unscaled(col("__v").cast("decimal(18,6)")), 6).cast("double").as("sum_value"))
  }
}
