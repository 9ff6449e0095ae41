package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for a `lineitem`-shaped table in COLF's three types:
  * int32 keys, float64 measures, utf8 flags and dates, and one utf8
  * comment column with about 10% nulls. Every value is a hash of
  * (seed, salt, row id, column), so a row never depends on how the range
  * is partitioned, and the same seed always yields the same table.
  *
  * Row `id` has `l_orderkey = id / 4` and `l_linenumber =
  * id % 4 + 1`, so (l_orderkey, l_linenumber) is unique and ascending ids
  * give ascending keys.
  */
object Data {
  val IntCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  val DoubleCols: Seq[String] = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  val FlagCols: Seq[String] = Seq("l_returnflag", "l_linestatus", "l_shipdate")
  val NullableCol = "l_comment"
  val Columns: Seq[String] = IntCols ++ DoubleCols ++ FlagCols :+ NullableCol
  val Key: Seq[String] = Seq("l_orderkey", "l_linenumber")

  private val Words = Seq("carefully", "final", "deposits", "sleep", "quickly", "regular",
    "accounts", "furiously", "ironic", "packages", "blithely", "express", "requests",
    "pending", "theodolites", "boost", "slyly", "bold", "instructions", "haggle",
    "even", "platelets", "unusual", "foxes", "special", "asymptotes", "daring",
    "courts", "silent", "pinto", "beans", "wake")

  /** Rows with ids in [from, until), in `parts` contiguous partitions. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int,
      salt: Int = 0): DataFrame = {
    // three 64-bit hashes per row; each field reads its own bit range
    def h(k: Int): Column = xxhash64(lit(seed), lit(salt), col("id"), lit(k))
    def bits(k: Int, shift: Int, m: Long): Column = pmod(shiftright(h(k), shift), lit(m))
    val words = array(Words.map(lit): _*)
    def word(i: Int): Column = element_at(words, (bits(2, 5 * i, Words.size.toLong) + 1).cast("int"))
    val qty = (bits(0, 0, 50) + 1).cast("double")
    spark.range(from, until, 1, parts).select(
      (col("id") / 4).cast("int").as("l_orderkey"),
      (bits(0, 8, 20000) + 1).cast("int").as("l_partkey"),
      (bits(0, 24, 1000) + 1).cast("int").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + bits(1, 0, 100000) / 100.0), 2).as("l_extendedprice"),
      (bits(0, 36, 11) / 100.0).as("l_discount"),
      (bits(0, 44, 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (bits(1, 20, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (bits(1, 24, 2) + 1).cast("int")).as("l_linestatus"),
      date_format(date_add(lit("1992-01-02").cast("date"), bits(1, 28, 2500).cast("int")),
        "yyyy-MM-dd").as("l_shipdate"),
      when(bits(1, 44, 10) === 0, lit(null).cast("string")).otherwise(
        concat_ws(" ", slice(array((0 until 6).map(word): _*), lit(1),
          (bits(2, 32, 5) + 2).cast("int")))).as("l_comment"))
  }
}
