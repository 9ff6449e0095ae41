package perfbench

import java.io.{File, FileInputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.colf.ColfCodec

/** `scan`: a read-only, bytes-dominated workload. Set-up writes a seeded
  * lineitem table to parquet (the source) and from it a COLF table sorted
  * on `l_orderkey` into [[ScanWorkload.Files]] files. Each pass runs a fixed
  * mix: a full scan, 1-3-column projections, key-range filters of about 1%
  * and a grouped aggregate. Every op is materialized as a checksum of its
  * rows.
  */
object ScanWorkload {
  val Rows = 360000L
  val Files = 32
  /** Fixed projections of 1-3 columns, covering all three types and nulls. */
  val Projections: Seq[Seq[String]] = Seq(Seq("l_extendedprice"),
    Seq("l_orderkey", "l_shipdate"), Seq("l_partkey", "l_quantity", "l_comment"))
  val Filters = 6
  val Selectivity = 0.01

  final case class Op(kind: String, name: String, cols: Seq[String],
      range: Option[(Int, Int)]) {
    /** The columns the scan has to read. */
    def reads: Seq[String] = kind match {
      case "groupby" => GroupCols
      case "filter" => Data.Columns
      case _ => cols
    }
    def frame(base: DataFrame): DataFrame = kind match {
      case "groupby" =>
        base.groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"),
          sum("l_quantity").as("qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_discount") * 100).cast("long")).as("disc_pct"),
          max("l_shipdate").as("last_ship"))
      case "filter" =>
        val (lo, hi) = range.get
        base.where(col("l_orderkey").between(lo, hi)).select(cols.map(col): _*)
      case _ => base.select(cols.map(col): _*)
    }
  }

  val GroupCols: Seq[String] = Seq("l_returnflag", "l_linestatus", "l_quantity",
    "l_extendedprice", "l_discount", "l_shipdate")

  /** The pass's op sequence for a seed: one full scan, the projections,
    * the filters and one grouped aggregate. The seed picks the filter ranges
    * and the order; the mix itself is fixed, so every seed does the same
    * kind of work.
    */
  def ops(seed: Long): Seq[Op] = {
    val rnd = new scala.util.Random(seed)
    val maxKey = (Rows / 4).toInt
    val width = (maxKey * Selectivity).toInt
    val proj = Projections.map(cs => Op("project", s"project[${cs.mkString(",")}]", cs, None))
    val filt = Seq.fill(Filters) {
      val lo = rnd.nextInt(maxKey - width)
      Op("filter", s"filter[$lo,${lo + width}]", Data.Columns, Some((lo, lo + width)))
    }
    rnd.shuffle(Op("full", "full", Data.Columns, None) +: proj ++: filt :+
      Op("groupby", "groupby", Seq.empty, None))
  }

  /** One table file's header facts. */
  final case class FileMeta(path: File, minKey: Long, maxKey: Long,
      comp: Map[String, Long], uncomp: Map[String, Long], category: Map[String, String])

  def fileMetas(table: File): Seq[FileMeta] = Disk.dataFiles(table).map { f =>
    val in = new FileInputStream(f)
    val h = try ColfCodec.readHeader(in) finally in.close()
    val st = h.schema.stats("l_orderkey")
    val fm = h.schema.fields.zip(h.metas)
    FileMeta(f, st.min.get.toString.toLong, st.max.get.toString.toLong,
      fm.map { case (fl, m) => fl.name -> m.compSize }.toMap,
      fm.map { case (fl, m) => fl.name -> m.uncompSize }.toMap,
      fm.map { case (fl, m) => fl.name -> CodecBench.category(fl.tpe, m.hasNulls) }.toMap)
  }.sortBy(_.minKey)
}

final class ScanWorkload(ctx: Ctx) extends Workload {
  import ScanWorkload._
  private val spark = ctx.spark
  private var source: File = _
  private var table: File = _
  private lazy val pass: Seq[Op] = ops(ctx.seed)
  private lazy val metas: Seq[FileMeta] = fileMetas(table)
  /** Logical bytes per file (in [[metas]] order) and column. */
  private lazy val fileLogical: Seq[Map[String, Long]] = {
    val src = spark.read.parquet(source.getPath)
    val bucket = metas.zipWithIndex.foldRight(lit(-1)) { case ((m, i), acc) =>
      when(col("l_orderkey") <= m.maxKey, lit(i)).otherwise(acc)
    }
    val rows = src.withColumn("_file_idx", bucket).groupBy("_file_idx")
      .agg(Stats.logicalBytes(src, Data.Columns.head),
        Data.Columns.tail.map(Stats.logicalBytes(src, _)): _*).collect()
    val byIdx = rows.map(r => r.getInt(0) ->
      Data.Columns.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 1) }.toMap).toMap
    metas.indices.map(i => byIdx.getOrElse(i, Map.empty[String, Long]))
  }

  private def planned(op: Op): Seq[Int] = op.range match {
    case Some((lo, hi)) => metas.indices.filter(i => metas(i).maxKey >= lo && metas(i).minKey <= hi)
    case None => metas.indices
  }

  private def sumOver(op: Op, per: Int => Map[String, Long]): Long =
    planned(op).map(i => op.reads.map(c => per(i).getOrElse(c, 0L)).sum).sum

  private def logical(op: Op): Long = sumOver(op, fileLogical)

  def generate(dir: File): Unit = {
    source = new File(dir, "source.parquet")
    Data.lineitem(spark, ctx.seed, 0, Rows, Files).write.parquet(source.getPath)
  }

  override def build(dir: File): Unit = {
    table = new File(dir, "table")
    spark.read.parquet(source.getPath)
      .repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions(Data.Key.map(col): _*)
      .write.format("colf").mode("overwrite").save(table.getPath)
  }

  private def runOp(p: Int, runner: Runner, op: Op): Unit =
    runner.op(p, op.kind, op.name, logical(op)) {
      Some(Stats.checksum(op.frame(spark.read.format("colf").load(table.getPath))))
    }

  def warmUp(runner: Runner): Unit = {
    metas; fileLogical
    // one whole pass, so the code paths and the page cache are warm
    pass.foreach(runOp(-1, runner, _))
  }

  def nominalPassSeconds: Double = 3.5

  def pass(p: Int, runner: Runner): Unit = pass.foreach(runOp(p, runner, _))

  def wrongOutputs(samples: Seq[Sample]): Int = {
    val src = spark.read.parquet(source.getPath)
    val expected = pass.distinctBy(_.name).map(op => op.name -> Stats.checksum(op.frame(src))).toMap
    samples.count { s =>
      val ok = s.error.nonEmpty || s.out == expected.get(s.op)
      if (!ok) System.err.println(s"[perfbench] wrong output for ${s.op}: ${s.out.map(_.json)} " +
        s"expected ${expected.get(s.op).map(_.json)}")
      !ok
    }
  }

  def throughputKinds: Set[String] = Set("full", "project", "filter", "groupby")

  def readKinds: Set[String] = throughputKinds

  def storedPerUserByte: Double =
    Disk.bytes(table).toDouble / fileLogical.map(_.values.sum).sum

  def layerMetrics(traced: Seq[OpTrace]): Map[String, Double] = {
    val rates = CodecBench.run(CodecBench.blocksOf(metas.take(4).map(_.path)), 150)
    val fullOp = pass.find(_.kind == "full").get
    val uncompByType = planned(fullOp).flatMap(i =>
      fullOp.reads.map(c => metas(i).category(c) -> metas(i).uncomp(c)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val fullTaskMs = traced.filter(_.kind == "full").map(_.leafRunMs.toDouble)
    rates ++ Map(
      "colf_scan.compressed_mb" -> pass.map(sumOver(_, i => metas(i).comp)).sum / 1e6,
      "colf_scan.uncompressed_mb" -> pass.map(sumOver(_, i => metas(i).uncomp)).sum / 1e6,
      "colf_codec.scan_share" -> (if (fullTaskMs.isEmpty) 0.0
        else CodecBench.scanSeconds(uncompByType, rates) * 1000 / Stats.median(fullTaskMs)))
  }
}
