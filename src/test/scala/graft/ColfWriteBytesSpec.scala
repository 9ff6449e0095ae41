package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.colf._

/** Pins the bytes the COLF writer produces. A data file is a function of
  * its rows alone: not of how the column work is scheduled inside a
  * write, nor of how many cores the session that wrote it had.
  */
class ColfWriteBytesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".colf"))
      .sortBy(_.getName)

  // A fixed 3-type table: nulls in every column, -0.0 beside 0.0, empty
  // and multi-byte strings, duplicates and more distinct values than one
  // bloom word holds.
  private val N = 300
  private def k(i: Int): Option[Int] = if (i % 11 == 3) None else Some(i * 7919 % 1000 - 500)
  private def x(i: Int): Option[Double] =
    if (i % 13 == 5) None else Some(if (i == 17) -0.0 else if (i == 18) 0.0 else i * 0.37 - 40.0)
  private def s(i: Int): Option[String] =
    if (i % 17 == 0) None else if (i % 19 == 1) Some("") else Some(s"row-${i % 37}-é世")

  private val fields = IndexedSeq(ColfField("k", ColfType.Int32, true),
    ColfField("x", ColfType.Float64, true), ColfField("s", ColfType.Utf8, true))

  // SHA-256 of the file both writers produced before the column work
  // moved off the writer thread; any byte change fails here.
  private val GoldenSha = "9ab12281f5df62c4fc67934183d5750b961f267e73931cf4ce9e89f279b3c20f"

  test("golden bytes: writeFile of a fixed 3-type table") {
    val ib = new ColfCodec.IntColumnBuilder
    val db = new ColfCodec.DoubleColumnBuilder
    val sb = new ColfCodec.StringColumnBuilder
    (0 until N).foreach { i =>
      k(i).fold(ib.appendNull())(ib.append)
      x(i).fold(db.appendNull())(db.append)
      s(i).fold(sb.appendNull())(v => sb.append(v))
    }
    val out = new ByteArrayOutputStream()
    ColfCodec.writeFile(out, fields, IndexedSeq(ib, db, sb))
    assert(sha256(out.toByteArray) == GoldenSha)
  }

  test("golden bytes: a one-task df.write of the same table") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("x", DoubleType),
      StructField("s", StringType)))
    val rows = (0 until N).map(i => Row(k(i).map(Int.box).orNull, x(i).map(Double.box).orNull, s(i).orNull))
    val dir = Files.createTempDirectory("colf_golden").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .coalesce(1).write.format("colf").mode("append").save(dir)
    val files = dataFiles(dir)
    assert(files.length == 1)
    assert(sha256(Files.readAllBytes(files.head.toPath)) == GoldenSha)
  }

  test("a compacted file is the same under any scan width") {
    val minParts = "spark.sql.files.minPartitionNum"
    // six files of different sizes, so spreading them over bins would
    // reorder them relative to one packed bin
    def build(dir: String, versioned: Boolean): Unit = (0 until 6).foreach { i =>
      spark.range(i * 1000L, i * 1000L + 300 + 61 * i)
        .select(($"id" % 97).cast("int").as("k"), ($"id" * 0.5).as("x"),
          concat(lit("v"), ($"id" % 13).cast("string")).as("s"))
        .coalesce(1).write.format("colf").option("manifest", versioned.toString)
        .mode("append").save(dir)
    }
    def compactedUnder(p: Int, versioned: Boolean): Array[Byte] = {
      val dir = Files.createTempDirectory("colf_compact_width").toString + "/t"
      build(dir, versioned)
      val before = dataFiles(dir).map(_.getName).toSet
      spark.conf.set(minParts, p.toString)
      try ColfMaintenance.compact(spark, dir)
      finally spark.conf.unset(minParts)
      val added = dataFiles(dir).filterNot(f => before(f.getName))
      assert(added.length == 1, s"expected one compacted file, got ${added.map(_.getName)}")
      Files.readAllBytes(added.head.toPath)
    }
    for (versioned <- Seq(true, false)) {
      val one = compactedUnder(1, versioned)
      val four = compactedUnder(4, versioned)
      assert(java.util.Arrays.equals(one, four),
        s"versioned=$versioned: compacted bytes differ between minPartitionNum 1 and 4")
    }
  }
}
