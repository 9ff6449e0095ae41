package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, GridSum, Similarity}

/** Pins the scale-12 grid sum (VERDICT r19 #5 — the LAST
  * BigDecimal-per-row aggregation buffers): `GridSum.grid12` must carry
  * the EXACT unscaled integer of the old per-row decimal(28,12) cast,
  * and `GridSum.exactSum(_, 12)` over those longs, cast to double, must be
  * BIT-identical (raw IEEE-754 bits, not approximate) to
  * `cast(sum(v.cast("decimal(28,12)")) AS double)` — including totals
  * whose unscaled value exceeds a long — across any partitioning.
  */
class GridSum12Spec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  // Adversarial doubles: signs, zero, subnormal-ish tiny values (round to
  // 0 at scale 12), HALF_UP boundaries (x.5e-12 representations), values
  // near the 10^6 domain edge, and a deterministic pseudo-random spread.
  private val adversarial = Seq(
    0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1.0 / 3.0, math.Pi, -math.E,
    5e-13, -5e-13, 1.5e-12, 2.5e-12, -2.5e-12, 1e-15, -1e-15,
    0.3333333333335, 999999.999999999, -999999.999999999,
    123456.789012345678, 1.0000000000005, -1.0000000000005)
  private val rnd = new scala.util.Random(20260816L)
  private val spread = Seq.fill(2000)((rnd.nextDouble() - 0.5) * 2e5)

  test("grid12 carries the exact unscaled integer of the decimal(28,12) cast") {
    val got = (adversarial ++ spread).toDF("v")
      .select(col("v"), GridSum.grid12(col("v")).as("g"),
        col("v").cast("decimal(28,12)").as("d"))
      .collect()
    got.foreach { r =>
      val expect = r.getDecimal(2).movePointRight(12).longValueExact()
      assert(r.getLong(1) == expect,
        s"grid12 diverged for v=${r.getDouble(0)}: got ${r.getLong(1)}, want $expect")
    }
  }

  private def gridTotal(g: org.apache.spark.sql.Column) = GridSum.exactSum(g, 12).cast("double")

  test("exactSum(grid12) is bit-identical to the decimal(28,12) sum, any partitioning") {
    for (parts <- Seq(1, 5, 32)) {
      val df = (adversarial ++ spread).toDF("v").repartition(parts)
      val old = df.agg(sum(col("v").cast("decimal(28,12)")).cast("double")).first().getDouble(0)
      val neu = df.select(GridSum.grid12(col("v")).as("g"))
        .agg(gridTotal(col("g"))).first().getDouble(0)
      assert(bits(neu) == bits(old),
        s"parts=$parts: exactSum $neu != decimal sum $old (bit-level)")
    }
  }

  test("exactSum(grid12) survives totals past Long's unscaled range") {
    // 12000 copies of four values whose unscaled total exceeds a long.
    val vs = Seq(999999.999999999, 999999.999999998, 123.456, -0.000000000001)
    val rows = 12000 // total ≈ 2.4e10, unscaled ≈ 2.4e22 > Long.MaxValue
    val df = (1 to rows).flatMap(_ => vs).toDF("v").repartition(7)
    val old = df.agg(sum(col("v").cast("decimal(28,12)")).cast("double")).first().getDouble(0)
    val neu = df.select(GridSum.grid12(col("v")).as("g"))
      .agg(gridTotal(col("g"))).first().getDouble(0)
    assert(bits(neu) == bits(old))
  }

  test("grid12 fails ANSI-loud past the |v| < 10^6 domain, never silently") {
    val e = intercept[Exception] {
      Seq(1.5e7).toDF("v").select(GridSum.grid12(col("v"))).collect()
    }
    assert(e.getMessage != null)
  }

  test("exactSum cast to decimal or double equals the plain decimal sum, value AND type") {
    // 2-dp money-like values, negatives and HALF_UP .xx5 boundaries
    // included, across partitionings
    val vals = Seq(0.0, -0.005, 0.005, 1.115, -1.115, 99999.99, -99999.99,
      0.01, 123.45) ++ Seq.fill(3000)((rnd.nextDouble() - 0.5) * 1e5)
    for (parts <- Seq(1, 7, 32)) {
      val df = vals.toDF("v")
        .select(col("v").cast("decimal(14,2)").as("d")).repartition(parts)
      val oldSum = df.agg(sum(col("d"))).first().getDecimal(0)
      val oldDouble = df.agg(sum(col("d")).cast("double")).first().getDouble(0)
      val newDec = df.select(GridSum.unscaled(col("d")).as("u"))
        .agg(GridSum.exactSum(col("u"), 2).cast("decimal(24,2)"))
      val newDouble = df.select(GridSum.unscaled(col("d")).as("u"))
        .agg(GridSum.exactSum(col("u"), 2).cast("double")).first().getDouble(0)
      assert(newDec.schema.head.dataType ==
        org.apache.spark.sql.types.DecimalType(24, 2))
      assert(newDec.first().getDecimal(0).compareTo(oldSum) == 0,
        s"parts=$parts: decimal totals diverge")
      assert(bits(newDouble) == bits(oldDouble),
        s"parts=$parts: double totals diverge at the bit level")
    }
  }

  test("zscoreOutliers' sum of squares fails ANSI-loud past |v| ~ 3.04e7") {
    // unscaled(v)² = (100·v)² passes 2⁶³ at |v| ≈ 3.04e7: the long
    // multiply must throw, never wrap into a plausible-looking variance
    val df = Seq((1L, "g", 1.0), (2L, "g", 4.0e7), (3L, "g", 2.0)).toDF("id", "grp", "v")
    val e = intercept[Exception] {
      Analytics.zscoreOutliers(df, col("id"), col("grp"), col("v")).collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[ArithmeticException] &&
      c.getMessage.contains("ARITHMETIC_OVERFLOW")), e.toString)
    // just inside the domain the same group still returns its numbers
    val ok = Seq((1L, "g", 1.0), (2L, "g", 3.0e7), (3L, "g", 2.0)).toDF("id", "grp", "v")
    Analytics.zscoreOutliers(ok, col("id"), col("grp"), col("v")).collect()
  }

  test("normStats keeps its exact sum through the limb form") {
    val df = Seq(
      (1L, Array(3.0, 4.0)), (1L, Array(0.3, 0.4)), (2L, Array(1.0, 0.0)),
      (1L, Array(0.1, 0.1)), (2L, Array(5.0, 12.0))
    ).toDF("grp", "vec")
    val got = Similarity.normStats(df, col("grp"), col("vec"))
      .orderBy("grp").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 2L))
    // norms: grp1 = 5 + 0.5 + 0.1414213562...; grp2 = 1 + 13
    assert(math.abs(got(1).getDouble(2) - 14.0) < 1e-9)
    assert(math.abs(got(0).getDouble(2) - (5.5 + math.sqrt(0.02))) < 1e-9)
  }
}
