package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSeq, BindReferences, Expression, SparkPartitionID, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.types.LongType

import graft.functions.ExactSum
import graft.operators.{GridSum, TextAnalysis}

/** Pins the exact-sum aggregate ([[GridSum.exactSum]], a carrying
  * (hi, lo) long buffer). The contract under test is BIT-IDENTITY with the
  * decimal(28,0) sum it replaced — including totals a single long cannot
  * hold — partitioning invariance (partial buffers per Spark partition are
  * placement accidents; the merged integer must not be), the `lo ∈ [0, 2³¹)`
  * buffer invariant, and exactness past 2³² updates in one group.
  */
class GridSumSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  private val Base = BigInt(1L << 31)
  private val agg = ExactSum(AttributeReference("v", LongType)(), 0)
  private val buffer = agg.aggBufferAttributes
  private def bound(es: Seq[Expression], in: Seq[Attribute]): Seq[Expression] =
    es.map(e => BindReferences.bindReference(e, AttributeSeq(in)))
  private val update = bound(agg.updateExpressions, buffer :+ agg.child.asInstanceOf[Attribute])
  private val merge = bound(agg.mergeExpressions, buffer ++ agg.inputAggBufferAttributes)
  private val result = bound(Seq(agg.evaluateExpression), buffer).head

  /** Both evaluation paths (interpreted and generated code) must agree;
    * null hi reads back as None.
    */
  private def run(es: Seq[Expression], in: Any*): (Option[Long], Long) = {
    val row = InternalRow(in: _*)
    val interp = es.map(_.eval(row))
    val gen = UnsafeProjection.create(es)(row)
    val got = (Option(interp(0)).map(_.asInstanceOf[Long]), interp(1).asInstanceOf[Long])
    assert(got == (if (gen.isNullAt(0)) None else Some(gen.getLong(0)), gen.getLong(1)))
    got
  }
  private def total(b: (Option[Long], Long)): BigInt = {
    val row = InternalRow(b._1.map(Long.box).orNull, b._2)
    val d = UnsafeProjection.create(Seq(result))(row).getDecimal(0, 38, 0)
    assert(d == result.eval(row))
    BigInt(d.toJavaBigDecimal.unscaledValue())
  }
  private def buf(u: BigInt): (Option[Long], Long) = {
    require((u >> 31).isValidLong, s"$u is outside the buffer's 2^94 domain")
    (Some((u >> 31).toLong), (u & (Base - 1)).toLong)
  }
  private def inRange(b: (Option[Long], Long)): Boolean = b._2 >= 0 && b._2 < (1L << 31)

  test("limb identity: hi*2^31 + lo == v across signs and extremes") {
    val vs = Seq(0L, 1L, -1L, (1L << 31) - 1, 1L << 31, (1L << 31) + 1,
      -(1L << 31), -(1L << 31) - 1, 1234567890123L, -1234567890123L,
      Long.MaxValue, Long.MinValue + 1, Long.MinValue)
    for (v <- vs) {
      val once = run(update, null, 0L, v)
      assert(inRange(once), s"lo out of [0, 2^31) for $v")
      assert(total(once) == BigInt(v), s"recombine broke for $v")
      // a second update, and a merge of the two, carry out of lo
      val twice = run(update, once._1.get, once._2, v)
      val merged = run(merge, once._1.get, once._2, twice._1.get, twice._2)
      assert(inRange(twice) && inRange(merged), s"carry left lo out of range for $v")
      assert(total(twice) == BigInt(v) * 2 && total(merged) == BigInt(v) * 3)
    }
    // a null row and an empty right-hand buffer leave the buffer as it was
    assert(run(update, null, 0L, null) == (None, 0L))
    assert(run(update, 5L, 7L, null) == (Some(5L), 7L))
    assert(run(merge, 5L, 7L, null, 0L) == (Some(5L), 7L))
  }

  test("one group's buffer stays exact past 2^32 updates") {
    // What 2^32 rows of v = 2^31 − 1 leave behind (U = 2^32·(2^31 − 1)),
    // and 2^32 + 3 rows of v = −(2^60 + 12345), built by hand: a plain
    // long sum of low limbs would overflow at the 2^32nd row.
    val n = BigInt(1L << 32)
    val a = n * (Base - 1)
    val b = (n + 3) * BigInt(-(1L << 60) - 12345L)
    val ab = run(merge, buf(a)._1.get, buf(a)._2, buf(b)._1.get, buf(b)._2)
    assert(inRange(ab) && total(ab) == a + b)
    val aa = run(merge, buf(a)._1.get, buf(a)._2, buf(a)._1.get, buf(a)._2)
    assert(inRange(aa) && total(aa) == a * 2)
    // further updates with Long.MinValue, -1, 0 and Long.MaxValue on top
    var acc = ab
    var want = a + b
    for (v <- Seq(Long.MinValue, -1L, 0L, Long.MaxValue, (1L << 31) - 1)) {
      acc = run(update, acc._1.get, acc._2, v)
      want += v
      assert(inRange(acc), s"lo out of [0, 2^31) after adding $v")
      assert(total(acc) == want)
    }
    // hi is the only limit: a total at 2^94 fails ANSI-loud, never wraps
    val e = intercept[ArithmeticException] {
      run(merge, Long.MaxValue, 0L, 1L, 0L)
    }
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"))
  }

  test("two-level sum equals the one-level decimal sum past Long range") {
    // 5 × 8e18 = 4e19 > Long.MaxValue: a plain long sum would overflow
    // (the reason q_kmeans/q_lm_score kept decimal buffers); the partial
    // buffers of 3 partitions, merged by the final aggregate, must
    // reproduce the decimal sum's exact integer.
    val vs = Seq(8000000000000000000L, 8000000000000000000L,
      8000000000000000000L, 8000000000000000000L, 8000000000000000000L,
      -3L, 7L)
    val df = vs.toDF("v").repartition(3)
    val oneLevel = df.agg(sum(col("v").cast("decimal(28,0)"))).first().getDecimal(0)
    val twoLevel = df.agg(GridSum.exactSum(col("v"), 0)).first().getDecimal(0)
    assert(twoLevel.compareTo(oneLevel) == 0,
      s"two-level $twoLevel != one-level $oneLevel")
  }

  test("exactSum equals the decimal sum past Long range; empty/all-null groups are null") {
    val vs = Seq(Some(8000000000000000000L), Some(8000000000000000000L),
      Some(8000000000000000000L), Some(8000000000000000000L),
      Some(8000000000000000000L), Some(-3L), None, Some(7L),
      Some(-8000000000000000000L))
    val rows = vs.map(v => ("g", v)) ++ Seq(("nulls", None), ("nulls", None))
    val df = rows.toDF("g", "v").repartition(3)
    val want = sum(col("v").cast("decimal(28,0)"))
    val got = GridSum.exactSum(col("v"), 0)
    val byGroup = df.groupBy("g").agg(want, got).collect()
      .map(r => r.getString(0) -> (Option(r.getDecimal(1)), Option(r.getDecimal(2)))).toMap
    val (w, g) = byGroup("g")
    assert(g.get.compareTo(w.get) == 0, s"exactSum ${g.get} != decimal ${w.get}")
    assert(byGroup("nulls") == ((None, None)))
    val empty = df.where(lit(false)).agg(want, got).first()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("two-level sum is partitioning-invariant (grouped, mixed signs)") {
    val rows = (1 to 997).map(i => ("g" + (i % 3), (i.toLong * 2654435761L) *
      (if (i % 2 == 0) 1L else -1L)))
    def sums(parts: Int): Map[String, java.math.BigDecimal] = rows.toDF("g", "v")
      .repartition(parts)
      .groupBy("g")
      .agg(GridSum.exactSum(col("v"), 0).as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val a = sums(1); val b = sums(5); val c = sums(32)
    assert(a.keySet == b.keySet && b.keySet == c.keySet)
    a.keySet.foreach { k =>
      assert(a(k).compareTo(b(k)) == 0 && b(k).compareTo(c(k)) == 0,
        s"group $k drifted across partitionings: ${a(k)} / ${b(k)} / ${c(k)}")
    }
  }

  test("q1_agg is one aggregate over exact sums, with no partition-id split") {
    val plan = SparkEntry.entry(spark).queryExecution.optimizedPlan // q1_agg
    assert(plan.collect { case a: Aggregate => a }.size == 1, s"expected one Aggregate:\n$plan")
    val pid = plan.collectFirst { case n if n.expressions.exists(
      _.find(_.isInstanceOf[SparkPartitionID]).isDefined) => n }
    assert(pid.isEmpty, s"spark_partition_id survived:\n$plan")
  }

  test("lmScore's two-level xent_bits matches a direct decimal replay and is partition-invariant") {
    val docs = Seq(
      (1L, "alpha beta beta gamma gamma gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta gamma delta delta alpha beta")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // direct one-level decimal replay of the same definition
    // same tokenizer as TextAnalysis.tokens (split on single space)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy("token").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("n_total"))
    val surp = counts.crossJoin(broadcast(total))
      .select(col("token"),
        round((log2(col("n_total")) - log2(col("c"))) * lit(1.0e12))
          .cast("decimal(28,0)").as("nb"))
    val want = toks.join(surp, "token").groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("nb").as("snb"))
      .select(col("doc_id"), col("n"),
        ((col("snb").cast("double") / lit(1.0e12)) / col("n")).as("x"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(g => (g._1, g._2, g._4)).toSeq == want.toSeq)
    // partitioning invariance of the full operator (bit-level doubles)
    val again = TextAnalysis.lmScore(docs.repartition(7), col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == again.toSeq)
  }
}
