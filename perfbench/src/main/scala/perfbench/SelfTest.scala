package perfbench

import java.io.File

import org.apache.spark.sql.functions._

/** Self-tests for the benchmark's own statistics: the tail-percentile rule,
  * logical-byte counting and the order-insensitive checksum. Prints one line
  * per check and exits non-zero if any fails.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => System.err.println(e); false }
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- percentiles
    val hundred = (1 to 100).map(_.toDouble)
    check("median of 1..100 is 50.5")(Stats.median(hundred) == 50.5)
    check("quantile interpolates like numpy")(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.25) == 1.75)
    check("100 samples support p90 with exactly 10 beyond") {
      Stats.tailPercentile(hundred) == (90, 90.0)
    }
    check("40 samples fall back to p75, leaving 10 beyond") {
      val (p, v) = Stats.tailPercentile((1 to 40).map(_.toDouble))
      p == 75 && v == 30.0 && (1 to 40).count(_ > v) == 10
    }
    check("from 21 samples on, the chosen percentile leaves at least 10 beyond") {
      (21 to 300).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val (p, v) = Stats.tailPercentile(xs)
        xs.count(_ > v) >= 10 && p <= 90
      }
    }
    check("too few samples for any tail read the median rank") {
      Stats.tailPercentile((1 to 5).map(_.toDouble)) == (50, 3.0)
    }

    // ---- logical bytes and checksums need a session
    val work = new File(args.headOption.getOrElse("perfbench-selftest")).getAbsoluteFile
    val spark = Main.session(work, 2)
    import spark.implicits._
    val df = Seq[(Int, Double, String)]((1, 1.5, "ab"), (2, 2.5, null), (3, 0.0, "été"))
      .toDF("i", "d", "s").withColumn("n", lit(null).cast("int"))
    check("logical bytes: 4 per int, 8 per double, UTF-8 length, nulls free") {
      Stats.logicalBytesByColumn(df) == Map("i" -> 12L, "d" -> 24L, "s" -> 7L, "n" -> 0L)
    }
    check("logical bytes of an empty frame are zero") {
      Stats.logicalBytesByColumn(df.limit(0)).values.forall(_ == 0L)
    }
    val big = spark.range(0, 5000).select(col("id").cast("int").as("k"),
      (col("id") % 7).cast("double").as("v"), concat(lit("x"), col("id")).as("s"))
    val base = Stats.checksum(big)
    check("checksum ignores row order and partitioning") {
      Stats.checksum(big.repartition(7).orderBy(desc("k"))) == base
    }
    check("checksum ignores column order") {
      Stats.checksum(big.select("s", "k", "v")) == base
    }
    check("checksum sees a changed value") {
      Stats.checksum(big.withColumn("v", when(col("k") === 4321, 99.0).otherwise(col("v")))) != base
    }
    check("checksum sees a dropped row and a duplicated row") {
      Stats.checksum(big.where(col("k") =!= 17)) != base &&
        Stats.checksum(big.where(col("k") =!= 17).union(big.where(col("k") === 18))) != base
    }
    check("checksum counts rows") { base.rows == 5000L }
    spark.stop()
    if (failures > 0) { println(s"[selftest] $failures check(s) failed"); sys.exit(1) }
    println("[selftest] all checks passed")
  }
}
