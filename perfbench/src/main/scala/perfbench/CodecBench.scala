package perfbench

import java.io.{ByteArrayInputStream, File}
import java.nio.file.Files

import scala.util.chaining._

import graft.sources.colf.{ColfCodec, ColfType}

/** Single-threaded `ColfCodec` microbench on real column blocks taken from
  * the files a workload wrote. Each block is timed through the four codec
  * stages: inflate (zlib), decode (payload to arrays), encode (arrays to
  * payload through a column builder) and deflate (zlib at the writer's
  * default level). Rates are MB of uncompressed payload per second.
  */
object CodecBench {
  val Types: Seq[String] = Seq("int32", "float64", "utf8", "utf8_nulls")

  final case class Block(category: String, tpe: ColfType, comp: Array[Byte], uncomp: Int,
      rows: Int, hasNulls: Boolean)

  def category(tpe: ColfType, hasNulls: Boolean): String = tpe match {
    case ColfType.Int32 => "int32"
    case ColfType.Float64 => "float64"
    case ColfType.Utf8 => if (hasNulls) "utf8_nulls" else "utf8"
  }

  /** All non-empty column blocks of the given .colf files. */
  def blocksOf(files: Seq[File]): Seq[Block] = files.flatMap { f =>
    val bytes = Files.readAllBytes(f.toPath)
    val h = ColfCodec.readHeader(new ByteArrayInputStream(bytes))
    h.schema.fields.zip(h.metas).filter(_._2.compSize > 0).map { case (fld, m) =>
      Block(category(fld.tpe, m.hasNulls), fld.tpe,
        java.util.Arrays.copyOfRange(bytes, m.offset.toInt, (m.offset + m.compSize).toInt),
        m.uncompSize.toInt, h.schema.numRows.toInt, m.hasNulls)
    }
  }

  private def encode(b: Block, d: ColfCodec.DecodedColumn): Array[Byte] = {
    val n = d.numRows
    var i = 0
    b.tpe match {
      case ColfType.Int32 =>
        val bl = new ColfCodec.IntColumnBuilder
        while (i < n) { if (d.isNullAt(i)) bl.appendNull() else bl.append(d.ints(i)); i += 1 }
        bl.payload()
      case ColfType.Float64 =>
        val bl = new ColfCodec.DoubleColumnBuilder
        while (i < n) { if (d.isNullAt(i)) bl.appendNull() else bl.append(d.doubles(i)); i += 1 }
        bl.payload()
      case ColfType.Utf8 =>
        val bl = new ColfCodec.StringColumnBuilder
        while (i < n) {
          if (d.isNullAt(i)) bl.appendNull()
          else bl.append(d.strBlob, d.strStarts(i), d.strEnds(i) - d.strStarts(i))
          i += 1
        }
        bl.payload()
    }
  }

  /** Median seconds of one round over `blocks`, rounds repeated for at
    * least `budgetMs` and at least three times.
    */
  private def timeRounds(budgetMs: Long)(round: => Unit): Double = {
    val ts = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (ts.size < 3 || (System.nanoTime() - t0) / 1e6 < budgetMs) {
      val s = System.nanoTime()
      round
      ts += (System.nanoTime() - s) / 1e9
    }
    Stats.median(ts.toSeq)
  }

  /** Per type: encode/deflate/inflate/decode MB/s and the compression ratio. */
  def run(blocks: Seq[Block], budgetMs: Long): Map[String, Double] = {
    var sink = 0L
    Types.flatMap { t =>
      val bs = blocks.filter(_.category == t)
      if (bs.isEmpty) Seq.empty
      else {
        val mb = bs.map(_.uncomp.toLong).sum / 1e6
        val payloads = bs.map(b => ColfCodec.decompress(b.comp, b.uncomp))
        val decoded = bs.zip(payloads).map { case (b, p) =>
          ColfCodec.decodeColumn(p, b.tpe, b.rows, b.hasNulls) }
        val inflate = timeRounds(budgetMs) {
          bs.foreach(b => sink += ColfCodec.decompress(b.comp, b.uncomp).length)
        }
        val decode = timeRounds(budgetMs) {
          bs.zip(payloads).foreach { case (b, p) =>
            sink += ColfCodec.decodeColumn(p, b.tpe, b.rows, b.hasNulls).numRows }
        }
        val enc = timeRounds(budgetMs) {
          bs.zip(decoded).foreach { case (b, d) => sink += encode(b, d).length }
        }
        val deflate = timeRounds(budgetMs) {
          payloads.foreach(p => sink += ColfCodec.compress(p).length)
        }
        Seq(s"colf_codec.encode_mb_s.$t" -> mb / enc,
          s"colf_codec.deflate_mb_s.$t" -> mb / deflate,
          s"colf_codec.inflate_mb_s.$t" -> mb / inflate,
          s"colf_codec.decode_mb_s.$t" -> mb / decode,
          s"colf_codec.ratio.$t" -> bs.map(_.uncomp.toLong).sum.toDouble /
            bs.map(_.comp.length.toLong).sum)
      }
    }.toMap.tap(_ => blackhole = sink)
  }

  /** Keeps the timed results observable, so the JIT cannot drop the work. */
  @volatile var blackhole = 0L

  /** The reference implementation's own numbers (BASELINE.md: CPython
    * reader and writer, 10k rows x 5 columns, one thread), printed beside
    * the microbench for context only: the workloads differ.
    */
  val ReferenceNumbers: String = "reference reader (BASELINE.md, CPython, 10k rows): " +
    "selective read int32 2.25 ms, utf8 7.10 ms; full read 38.3 ms; write 85.4 ms; " +
    "file 2.56x smaller than CSV"

  /** Estimated single-thread inflate + decode seconds for the given
    * uncompressed bytes per type, at the measured rates.
    */
  def scanSeconds(uncompByType: Map[String, Long], rates: Map[String, Double]): Double =
    uncompByType.map { case (t, b) =>
      val mb = b / 1e6
      rates.get(s"colf_codec.inflate_mb_s.$t").map(mb / _).getOrElse(0.0) +
        rates.get(s"colf_codec.decode_mb_s.$t").map(mb / _).getOrElse(0.0)
    }.sum
}
