package graft.sources.colf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** COLF schema inference over a raw all-string table, replicating the
  * reference's rules (writer.py:33-68, SURVEY.md §1.4) as ONE distributed
  * aggregation pass — not the reference's driver-side row loop:
  *
  *  - blank/whitespace-only cell (or missing) ⇒ column nullable, cell NULL
  *    — for every type, including strings;
  *  - all non-blank cells parse as integers ⇒ int32 (an all-blank column is
  *    vacuously int32, matching the reference);
  *  - else all parse as floats (incl. "1e3", "nan", "inf") ⇒ float64;
  *  - else utf8. Strings keep interior/trailing whitespace; numerics are
  *    trimmed before parsing.
  *
  * At scale this is a single map-side-combined agg producing one row of
  * per-column booleans — no shuffle of the data itself, no driver loop.
  */
object ColfInference {

  /** Python-int grammar (writer.py:53 uses int(s) after strip). */
  private val IntRe = "^[+-]?[0-9]+$"

  /** Python-float grammar (writer.py:58): decimals, scientific notation,
    * and the special values nan/inf/infinity, case-insensitive.
    */
  private val FloatRe =
    "(?i)^[+-]?((([0-9]+(\\.[0-9]*)?)|(\\.[0-9]+))(e[+-]?[0-9]+)?|nan|inf(inity)?)$"

  /** Python's str.strip() removes ALL whitespace (tabs, newlines, …);
    * Spark's trim() removes only spaces — so blank detection and numeric
    * stripping go through a whitespace regex to honor the reference rule
    * "blank/whitespace-only cell ⇒ NULL" for a tab-only cell too.
    */
  private def isBlank(c: Column): Column = c.isNull || c.rlike("^\\s*$")

  private def stripped(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** Infer (type, nullable) per column. Input must be all-string (e.g.
    * `spark.read.option("header", true).csv(path)` without inferSchema —
    * the reference's O1 scan shape).
    */
  def inferFields(raw: DataFrame): IndexedSeq[ColfField] = {
    val aggs = raw.columns.flatMap { name =>
      val c = col(name)
      val t = stripped(c)
      Seq(
        max(when(isBlank(c), 1).otherwise(0)).as(s"__nul_$name"),
        min(when(isBlank(c), 1).otherwise(when(t.rlike(IntRe), 1).otherwise(0))).as(s"__int_$name"),
        min(when(isBlank(c), 1).otherwise(when(t.rlike(FloatRe), 1).otherwise(0))).as(s"__flt_$name"),
      )
    }
    // Zero-row input: aggregates return null; treat as non-nullable int32
    // columns (the reference writer refuses 0-row files — writer.py:153-154
    // — we instead keep its inference rule's vacuous-truth result).
    val row = raw.agg(aggs.head, aggs.tail: _*).collect()(0)
    raw.columns.toIndexedSeq.map { name =>
      def flag(prefix: String, default: Int): Int = {
        val v = row.get(row.fieldIndex(s"__${prefix}_$name"))
        if (v == null) default else v.asInstanceOf[Int]
      }
      val tpe =
        if (flag("int", 1) == 1) ColfType.Int32
        else if (flag("flt", 1) == 1) ColfType.Float64
        else ColfType.Utf8
      ColfField(name, tpe, nullable = flag("nul", 0) == 1)
    }
  }

  /** Apply inferred types to the raw-string table with reference semantics:
    * blank ⇒ null (strings too), numerics trimmed then cast, strings kept
    * verbatim (not trimmed). Int32 overflow is validated eagerly — the
    * reference writer would crash mid-encode (writer.py:111); we fail the
    * plan with a clear message instead.
    */
  /** `try_cast` of the stripped cell — null on ANY unparseable/overflowing
    * value instead of an ANSI runtime error mid-job, so validation below
    * can name the column. (A plain cast would also silently null values
    * beyond Int64 in non-ANSI sessions — the validation must see them.)
    */
  private def tryCastStripped(name: String, to: String): Column = {
    val esc = name.replace("`", "``")
    expr(s"try_cast(regexp_replace(`$esc`, '^\\\\s+|\\\\s+$$', '') AS $to)")
  }

  def applySchema(raw: DataFrame, fields: IndexedSeq[ColfField]): DataFrame = {
    // Strict-int32 validation on the RAW strings (one cheap agg): a
    // non-blank cell in an int32 column that fails try_cast (beyond Int64)
    // or lands outside Int32 fails the plan with the column named — the
    // reference writer crashes mid-encode on the same data (writer.py:111).
    val intCols = fields.filter(_.tpe == ColfType.Int32).map(_.name)
    if (intCols.nonEmpty) {
      val overflow = intCols.map { n =>
        val v = tryCastStripped(n, "BIGINT")
        max(when(!isBlank(col(n)) &&
          (v.isNull || v < Int.MinValue || v > Int.MaxValue), lit(n))).as(n)
      }
      val bad = raw.agg(overflow.head, overflow.tail: _*).collect()(0)
        .toSeq.collect { case s: String => s }
      require(bad.isEmpty,
        s"int32 overflow in column(s) ${bad.mkString(", ")}: COLF int32 is strict " +
          "(the reference writer fails on overflow, writer.py:111); widen to float64 or clean the data")
    }
    val cols = fields.map { f =>
      val c = col(f.name)
      val casted = f.tpe match {
        case ColfType.Int32   => tryCastStripped(f.name, "INT")
        case ColfType.Float64 =>
          // Python float() accepts nan/inf/infinity case-insensitively;
          // Spark's cast does not — normalize the special spellings first.
          val s = lower(stripped(c))
          when(s.isin("nan", "+nan", "-nan"), lit(Double.NaN))
            .when(s.isin("inf", "+inf", "infinity", "+infinity"), lit(Double.PositiveInfinity))
            .when(s.isin("-inf", "-infinity"), lit(Double.NegativeInfinity))
            .otherwise(tryCastStripped(f.name, "DOUBLE"))
        case ColfType.Utf8 => c
      }
      when(isBlank(c), lit(null)).otherwise(casted).as(f.name)
    }
    raw.select(cols: _*)
  }

  /** One-call CSV → typed DataFrame with COLF semantics (the parity layer
    * for the reference's `csv_to_custom` entry point, E1).
    */
  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    applySchema(raw, inferFields(raw))
  }
}
