package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: the write path. Each pass starts from an empty versioned table
  * (`option("manifest","true")`) and runs a fixed sequence: appends of
  * [[IngestWorkload.Batch]]-row slices, one copy-on-write `MERGE INTO`
  * upsert and one merge-on-read `DELETE` at fixed positions, then
  * `CALL colf_cat.compact` and a read-back. Every read opens freshly
  * written files. The seed picks the data and the deleted keys.
  */
object IngestWorkload {
  val Batch = 25000
  val Appends = 6
  val MergeAfter = 1
  val DeleteAfter = 3
  /** Upsert rows: about this many existing keys, and as many new ones. */
  val UpsertHalf = 1250
  val DeleteModulus = 50

  sealed trait Op { def kind: String }
  final case class Append(slice: Int) extends Op { def kind = "append" }
  case object Merge extends Op { def kind = "merge" }
  case object Delete extends Op { def kind = "delete" }
  case object Compact extends Op { def kind = "compact" }
  case object ReadBack extends Op { def kind = "readback" }

  def sequence(appends: Int, mergeAfter: Int, deleteAfter: Int): Seq[Op] =
    (0 until appends).flatMap { i =>
      Append(i) +: ((if (i == mergeAfter) Seq(Merge) else Nil) ++
        (if (i == deleteAfter) Seq(Delete) else Nil))
    } ++ Seq(Compact, ReadBack)

  val Pass: Seq[Op] = sequence(Appends, MergeAfter, DeleteAfter)
  val WarmUp: Seq[Op] = sequence(2, 0, 1)
}

final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._
  private val spark = ctx.spark
  private var sourceDir: File = _
  private val deleteRem = new scala.util.Random(ctx.seed).nextInt(DeleteModulus)
  private val deletePred = s"l_orderkey % $DeleteModulus = $deleteRem"
  private var lastTable: File = _
  private var lastTableBytes = 0L
  private val facts = mutable.Map[Int, mutable.Map[String, Double]]()

  private def slice(i: Int): DataFrame = spark.read.parquet(s"$sourceDir/slices/slice=$i")
  private def upsert: DataFrame = spark.read.parquet(s"$sourceDir/upsert")

  def generate(dir: File): Unit = {
    sourceDir = dir
    Data.lineitem(spark, ctx.seed, 0, Appends.toLong * Batch, Appends)
      .withColumn("slice", (col("l_orderkey") / (Batch / 4)).cast("int"))
      .write.partitionBy("slice").parquet(s"$dir/slices")
    // changed values (salt 1) for ~UpsertHalf existing keys in the slices
    // appended before the merge, plus UpsertHalf keys no slice has
    val existing = Data.lineitem(spark, ctx.seed, 0, (MergeAfter + 1).toLong * Batch, 1, salt = 1)
      .where(pmod(xxhash64(lit(ctx.seed), col("l_orderkey"), col("l_linenumber")),
        lit((MergeAfter + 1).toLong * Batch / UpsertHalf)) === 0)
    val fresh = Data.lineitem(spark, ctx.seed, Appends.toLong * Batch,
      Appends.toLong * Batch + UpsertHalf, 1, salt = 1)
    existing.unionByName(fresh).coalesce(1).write.parquet(s"$dir/upsert")
  }

  private def tableRef(t: File) = s"colf_cat.`${t.getAbsolutePath}`"

  private def withDmlMode[T](mode: String)(body: => T): T = {
    spark.conf.set("spark.colf.dml.mode", mode)
    try body finally spark.conf.unset("spark.colf.dml.mode")
  }

  private lazy val sliceLogical: Map[Int, Long] = (0 until Appends).map { i =>
    i -> Stats.logicalBytesByColumn(slice(i)).values.sum
  }.toMap

  /** Runs `seq` against a fresh table `t`; in a traced pass also records
    * what each write left on disk.
    */
  private def runSeq(p: Int, runner: Runner, t: File, seq: Seq[Op]): Unit = {
    val f = mutable.Map[String, Double]().withDefaultValue(0.0)
    def snap = Disk.dataFiles(t).map(x => x.getAbsolutePath -> x.length).toMap
    def newBytes(before: Map[String, Long], after: Map[String, Long]) =
      after.filter(kv => !before.contains(kv._1))
    seq.foreach { op =>
      val before = if (runner.traced) snap else Map.empty[String, Long]
      val liveBefore = if (runner.traced && op == Merge) Disk.liveFiles(t) else Set.empty[String]
      val dvBefore = if (runner.traced && op == Delete) Disk.deleteFiles(t).map(_.getPath).toSet
        else Set.empty[String]
      var compactResult: (Int, Int) = (0, 0)
      op match {
        case Append(i) =>
          runner.op(p, op.kind, s"append[$i]", sliceLogical.getOrElse(i, 0L)) {
            slice(i).write.format("colf").option("manifest", "true").mode("append")
              .save(t.getAbsolutePath)
            None
          }
        case Merge =>
          runner.op(p, op.kind, "merge", 0L) {
            withDmlMode("copy-on-write") {
              upsert.createOrReplaceTempView("perfbench_upsert")
              spark.sql(s"""MERGE INTO ${tableRef(t)} t USING perfbench_upsert s
                |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
                |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
            }
            None
          }
        case Delete =>
          runner.op(p, op.kind, "delete", 0L) {
            withDmlMode("merge-on-read") {
              spark.sql(s"DELETE FROM ${tableRef(t)} WHERE $deletePred")
            }
            None
          }
        case Compact =>
          runner.op(p, op.kind, "compact", 0L) {
            val r = spark.sql(s"CALL colf_cat.compact('${t.getAbsolutePath}')").head()
            compactResult = (r.getInt(0), r.getInt(1))
            None
          }
        case ReadBack =>
          runner.op(p, op.kind, "readback", 0L) {
            Some(Stats.checksum(spark.read.format("colf").load(t.getAbsolutePath)))
          }
      }
      if (runner.traced) {
        val added = newBytes(before, snap)
        op match {
          case Append(_) =>
            f("colf_write.files") += added.size
            f("colf_write.mb") += added.values.sum / 1e6
          case Merge =>
            f("colf_dml.files_rewritten") += (liveBefore -- Disk.liveFiles(t)).size
            f("colf_dml.mb_rewritten") += added.values.sum / 1e6
            f("dml_bytes_written") += added.values.sum
          case Delete =>
            val dvs = Disk.deleteFiles(t).filterNot(d => dvBefore(d.getPath))
              .filterNot(_.getName.startsWith("."))
            f("colf_dml.delete_files") += dvs.size
            f("colf_dml.mb_rewritten") += added.values.sum / 1e6
            f("dml_bytes_written") += added.values.sum + dvs.map(_.length).sum
          case Compact =>
            f("colf_maint.files_before") += compactResult._1
            f("colf_maint.files_after") += compactResult._2
            f("colf_maint.mb_rewritten") += added.values.sum / 1e6
          case ReadBack =>
        }
      }
    }
    if (runner.traced) {
      val live = Disk.liveFiles(t)
      val data = Disk.dataFiles(t)
      f("colf_versions.versions") = Disk.versions(t)
      f("colf_versions.manifest_kb") = Disk.manifestBytes(t) / 1e3
      f("colf_versions.live_files") = live.size
      f("colf_versions.dead_mb") =
        data.filterNot(d => live(d.getAbsolutePath)).map(_.length).sum / 1e6
      facts(p) = f
    }
    lastTable = t
    lastTableBytes = Disk.bytes(t)
  }

  def warmUp(runner: Runner): Unit = {
    sliceLogical
    runSeq(-1, runner, ctx.dir("ingest-warm"), WarmUp)
  }

  def nominalPassSeconds: Double = 6.0

  def pass(p: Int, runner: Runner): Unit = runSeq(p, runner, ctx.dir(s"ingest-pass-$p"), Pass)

  override def passFacts(p: Int): Map[String, Double] = facts.get(p).map(_.toMap).getOrElse(Map.empty)

  /** `ops` replayed with plain DataFrame operations on the parquet inputs:
    * for the whole pass, the table each read-back must match.
    */
  private def replayOf(ops: Seq[Op]): DataFrame = ops.foldLeft(slice(0).limit(0)) { (acc, op) =>
    op match {
      case Append(i) => acc.unionByName(slice(i))
      case Merge => acc.join(upsert, Data.Key, "left_anti").unionByName(upsert)
      case Delete => acc.where(s"NOT ($deletePred)")
      case _ => acc
    }
  }.select(Data.Columns.map(col): _*)

  private lazy val replay: DataFrame = replayOf(Pass)

  private lazy val expected: Stats.Checksum = Stats.checksum(replay)

  def wrongOutputs(samples: Seq[Sample]): Int = samples.count { s =>
    val ok = s.error.nonEmpty || s.kind != "readback" || s.out.contains(expected)
    if (!ok) System.err.println(s"[perfbench] wrong read-back in pass ${s.pass}: " +
      s"${s.out.map(_.json)} expected ${expected.json}")
    !ok
  }

  def throughputKinds: Set[String] = Set("append")

  def readKinds: Set[String] = Set("readback")

  private lazy val liveLogical: Long = Stats.logicalBytesByColumn(replay).values.sum

  def storedPerUserByte: Double = lastTableBytes.toDouble / liveLogical

  def layerMetrics(traced: Seq[OpTrace]): Map[String, Double] = {
    // logical bytes of the rows the DML changed: the upsert rows and the
    // rows the delete removed
    val beforeDelete = replayOf(Pass.takeWhile(_ != Delete))
    val changed = Stats.logicalBytesByColumn(upsert.select(Data.Columns.map(col): _*)).values.sum +
      Stats.logicalBytesByColumn(beforeDelete.where(deletePred)).values.sum
    val written = Stats.median(facts.values.map(_("dml_bytes_written")).toSeq)
    val compactMs = traced.filter(_.kind == "compact").map(_.wallMs.toDouble)
    val fullTaskMs = traced.filter(_.kind == "readback").map(_.leafRunMs.toDouble)
    // codec rates over every batch and compacted file; the read-back reads
    // the live (compacted) files only
    val rates = CodecBench.run(CodecBench.blocksOf(Disk.dataFiles(lastTable)), 150)
    val live = Disk.liveFiles(lastTable)
    val liveBlocks = CodecBench.blocksOf(Disk.dataFiles(lastTable)
      .filter(f => live(f.getAbsolutePath)))
    val uncompByType = liveBlocks.groupMapReduce(_.category)(_.uncomp.toLong)(_ + _)
    rates ++ Map(
      "colf_scan.compressed_mb" -> liveBlocks.map(_.comp.length.toLong).sum / 1e6,
      "colf_scan.uncompressed_mb" -> uncompByType.values.sum / 1e6,
      "colf_dml.write_amp" -> written / changed,
      "colf_maint.compact_ms" -> (if (compactMs.isEmpty) 0.0 else Stats.median(compactMs)),
      "colf_codec.scan_share" -> (if (fullTaskMs.isEmpty) 0.0
        else CodecBench.scanSeconds(uncompByType, rates) * 1000 / Stats.median(fullTaskMs)))
  }
}
