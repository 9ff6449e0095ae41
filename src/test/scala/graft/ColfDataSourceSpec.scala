package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ColfDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("colf_ds_test").toString

  test("write then read roundtrips values, schema, and nulls") {
    val dir = tmp()
    val df = Seq(
      (Some(1), Some(1.5), Some("a")),
      (Some(2), None: Option[Double], Some("")),
      (None: Option[Int], Some(Double.NaN), None: Option[String]),
      (Some(-2147483648), Some(-0.0), Some("日本語 🎉")))
      .toDF("i", "d", "s")
    df.write.format("colf").mode("overwrite").save(dir)
    val back = spark.read.format("colf").load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq(("i", IntegerType), ("d", DoubleType), ("s", StringType)))
    val rows = back.orderBy(asc_nulls_last("i")).collect()
    assert(rows(0).getInt(0) == -2147483648 &&
      java.lang.Double.doubleToRawLongBits(rows(0).getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(-0.0) &&
      rows(0).getString(2) == "日本語 🎉")
    assert(rows(1) == Row(1, 1.5, "a"))
    assert(rows(2) == Row(2, null, ""))
    assert(rows(3).isNullAt(0) && rows(3).getDouble(1).isNaN && rows(3).isNullAt(2))
    // NaN stays a value, distinct from NULL (SURVEY.md §1.4)
    val nan = back.filter(isnan($"d")).collect()
    assert(nan.length == 1 && nan(0).isNullAt(0))
    assert(back.filter($"d".isNull).count() == 1)
  }

  test("projection pushdown reaches the scan (selective I/O)") {
    val dir = tmp()
    spark.range(1000)
      .select($"id".cast("int").as("a"), ($"id" * 2).cast("double").as("b"),
        concat(lit("v"), $"id").as("c"))
      .write.format("colf").mode("overwrite").save(dir)
    val q = spark.read.format("colf").load(dir).select($"a", $"c")
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val desc = scan.toString
    assert(desc.contains("a") && desc.contains("c"))
    // ReadSchema through the V2 scan must only contain the pruned columns.
    val schemas = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.readSchema()
    }
    assert(schemas.nonEmpty && schemas.head.fieldNames.toSeq == Seq("a", "c"))
    assert(q.count() == 1000)
    assert(q.filter($"a" === 7).select($"c").as[String].head() == "v7")
  }

  test("multi-partition write produces multiple part files, read unions them") {
    val dir = tmp()
    spark.range(0, 10000).repartition(8)
      .select($"id".cast("int").as("id"), ($"id" % 10).cast("double").as("v"))
      .write.format("colf").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".colf"))
    assert(parts.length > 1)
    val back = spark.read.format("colf").load(dir)
    assert(back.count() == 10000)
    // small files bin-pack into fewer read partitions (see the dedicated test)
    assert(back.rdd.getNumPartitions >= 1 && back.rdd.getNumPartitions <= parts.length)
    assert(back.agg(sum($"id")).as[Long].head() == 10000L * 9999 / 2)
  }

  test("overwrite replaces previous contents; append adds") {
    val dir = tmp()
    Seq((1, "x")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    Seq((2, "y")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    assert(spark.read.format("colf").load(dir).collect().toSeq == Seq(Row(2, "y")))
    Seq((3, "z")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    assert(spark.read.format("colf").load(dir).orderBy("k").collect().toSeq ==
      Seq(Row(2, "y"), Row(3, "z")))
  }

  test("zero-row DataFrame roundtrips schema (reference writer bug fixed)") {
    val dir = tmp()
    spark.range(0).select($"id".cast("int").as("a"), lit("x").as("b"))
      .write.format("colf").mode("overwrite").save(dir)
    val back = spark.read.format("colf").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(back.count() == 0)
  }

  test("unsupported column types are rejected with a clear error") {
    val dir = tmp()
    val err = intercept[Exception] {
      spark.range(3).select($"id".as("big")) // LongType
        .write.format("colf").mode("overwrite").save(dir)
    }
    assert(err.getMessage.contains("COLF supports only"))
  }

  test("unknown projected column errors like the reference (KeyError parity)") {
    val dir = tmp()
    Seq((1, "x")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    val err = intercept[Exception] {
      spark.read.format("colf").load(dir).select("nope").collect()
    }
    assert(err.getMessage.toLowerCase.contains("nope"))
  }

  test("golden reference-written file reads through the DataFrame API") {
    val url = getClass.getResource("/golden/sample_small.colf")
    val df = spark.read.format("colf").load(url.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "age", "city", "salary"))
    assert(df.schema("id").dataType == IntegerType)
    assert(df.schema("salary").dataType == DoubleType)
    assert(df.count() == 30)
    assert(df.filter($"id" === 1).select("name").as[String].head().nonEmpty)
  }

  test("cross-compat: reference reader.py reads a Scala-written .colf") {
    assume(Files.exists(java.nio.file.Paths.get("/root/reference/reader.py")))
    val dir = tmp()
    Seq(
      (Some(1), Some(10.5), Some("alpha")),
      (Some(2), None: Option[Double], Some("beta")),
      (None: Option[Int], Some(3.25), None: Option[String]))
      .toDF("k", "v", "s")
      .coalesce(1).write.format("colf").mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".colf")).head
    val outCsv = Files.createTempFile("colf_compat", ".csv").toString
    val proc = new ProcessBuilder(
      "python3", "/root/reference/reader.py", "custom_to_csv", part.toString, outCsv)
      .redirectErrorStream(true).start()
    val output = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"reference reader failed: $output")
    val lines = Files.readAllLines(java.nio.file.Paths.get(outCsv))
    assert(lines.get(0) == "k,v,s")
    assert(lines.size() == 4)
    assert(lines.get(1) == "1,10.5,alpha")
    assert(lines.get(2) == "2,,beta")
    assert(lines.get(3) == ",3.25,")
  }

  test("cross-compat divergence: reference reader misdecodes our empty strings") {
    // Our writer stores "" as a real value (cumulative offsets, SPEC.md:51);
    // reference reader.py:150 skips equal offsets when locating a string's
    // end, so it surfaces the NEXT row's content instead of "". Documented
    // divergence (ADVICE r1): the reference itself can never WRITE an empty
    // string (it nulls them at CSV ingest), so only SPEC-compliant readers
    // see "" — ours does (asserted in the first roundtrip test above).
    assume(Files.exists(java.nio.file.Paths.get("/root/reference/reader.py")))
    val dir = tmp()
    Seq((1, ""), (2, "tail")).toDF("k", "s")
      .coalesce(1).write.format("colf").mode("overwrite").save(dir)
    // Our own reader: exact roundtrip.
    assert(spark.read.format("colf").load(dir).orderBy("k").collect().toSeq ==
      Seq(Row(1, ""), Row(2, "tail")))
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".colf")).head
    val outCsv = Files.createTempFile("colf_empty", ".csv").toString
    val proc = new ProcessBuilder(
      "python3", "/root/reference/reader.py", "custom_to_csv", part.toString, outCsv)
      .redirectErrorStream(true).start()
    val output = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"reference reader failed: $output")
    val lines = Files.readAllLines(java.nio.file.Paths.get(outCsv))
    // Reference misreads row 1's "" as "tail" — pin the divergence so a
    // future format change that silently alters it gets noticed.
    assert(lines.get(1) == "1,tail")
    assert(lines.get(2) == "2,tail")
  }

  test("successful write leaves no temp files; final names carry the query id") {
    val dir = tmp()
    spark.range(100).select($"id".cast("int").as("a"))
      .repartition(4).write.format("colf").mode("overwrite").save(dir)
    val all = new java.io.File(dir).listFiles().map(_.getName)
    // Hidden files (Hadoop local-FS .crc checksums) are fine — readers skip
    // dot/underscore prefixes. What must NOT remain is any .tmp from a task.
    assert(!all.exists(_.contains(".colf.tmp")), all.mkString(","))
    val visible = all.filter(n => !n.startsWith(".") && !n.startsWith("_"))
    assert(visible.nonEmpty && visible.forall(_.endsWith(".colf")), all.mkString(","))
    assert(spark.read.format("colf").load(dir).count() == 100)
    // A second overwrite (different query id) fully replaces the first.
    spark.range(7).select($"id".cast("int").as("a"))
      .coalesce(1).write.format("colf").mode("overwrite").save(dir)
    assert(spark.read.format("colf").load(dir).count() == 7)
  }

  test("mergeSchema: columns added over time read as null from older files") {
    val dir = tmp()
    Seq((1, "2024")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    Seq((2, "2025", 9.5)).toDF("k", "v", "score").write.format("colf").mode("append").save(dir)
    val merged = spark.read.format("colf").option("mergeSchema", "true").load(dir)
    assert(merged.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(merged.schema("score").nullable)
    val rows = merged.orderBy("k").collect()
    assert(rows(0).getInt(0) == 1 && rows(0).isNullAt(2))
    assert(rows(1).getInt(0) == 2 && rows(1).getDouble(2) == 9.5)
    // selecting ONLY the new column still works against old files
    assert(merged.select("score").where($"score".isNotNull).count() == 1)
    // without the option, the table schema is the FIRST file's (by name):
    // common columns always read; if the wider file won the sort, touching
    // its extra column against the narrow file must error with guidance
    val strict = spark.read.format("colf").load(dir)
    assert(strict.select("k").count() == 2)
    if (strict.schema.fieldNames.contains("score")) {
      val err = intercept[Exception] { strict.collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("mergeSchema")), messages(err).mkString(" | "))
    }
  }

  test("mergeSchema: a type conflict names both files") {
    val dir = tmp()
    Seq((1, "x")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    Seq((1.5, "y")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".colf") && !n.startsWith("."))
    assert(names.length == 2)
    val err = intercept[IllegalArgumentException] {
      spark.read.format("colf").option("mergeSchema", "true").load(dir)
    }
    assert(err.getMessage.startsWith("colf mergeSchema: column 'k' is "), err.getMessage)
    assert(err.getMessage.contains("int32") && err.getMessage.contains("float64"), err.getMessage)
    names.foreach(n => assert(err.getMessage.contains(n), err.getMessage))
  }

  test("mixed-schema directory fails with a clear per-file type error") {
    val dir = tmp()
    Seq((1, "x")).toDF("k", "v").write.format("colf").mode("overwrite").save(dir)
    Seq((1.5, "y")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    // Schema comes from the first file (k: int); the second file has k: float64.
    val err = intercept[Exception] {
      spark.read.format("colf").load(dir).orderBy("k").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(m => m.contains("COLF type") || m.contains("expects")),
      messages(err).mkString(" | "))
  }

  test("maxRowsPerFile rolls a task's output into multiple part files") {
    val dir = tmp()
    spark.range(1000).select($"id".cast("int").as("a"))
      .coalesce(1)
      .write.format("colf").option("maxRowsPerFile", "300").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith("."))
    assert(parts.length == 4, parts.map(_.getName).mkString(","))   // 300+300+300+100
    val back = spark.read.format("colf").load(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum($"a")).collect()(0).getLong(0) == (0L until 1000L).sum)
  }

  test("maxBytesPerFile rolls on buffered bytes for string-heavy rows") {
    val dir = tmp()
    // ~100 bytes of text per row; a 2 KB byte cap must roll well before the
    // (huge) default row cap would
    spark.range(100)
      .select($"id".cast("int").as("a"), concat(lit("x" * 100), $"id").as("s"))
      .coalesce(1)
      .write.format("colf").option("maxBytesPerFile", "2048").mode("overwrite").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith("."))
    assert(parts.length > 2, s"expected byte-based rolling, got ${parts.length} file(s)")
    val back = spark.read.format("colf").load(dir)
    assert(back.count() == 100)
    assert(back.agg(sum($"a")).collect()(0).getLong(0) == 99L * 100 / 2)
  }

  test("compressionLevel option: any level roundtrips and stays zlib-valid") {
    for (level <- Seq("1", "9")) {
      val dir = tmp()
      spark.range(500)
        .select($"id".cast("int").as("a"), concat(lit("s"), $"id").as("s"))
        .coalesce(1)
        .write.format("colf").option("compressionLevel", level).mode("overwrite").save(dir)
      val back = spark.read.format("colf").load(dir)
      assert(back.count() == 500 && back.agg(sum($"a")).collect()(0).getLong(0) == 499L * 500 / 2)
      // still readable by the reference's Python zlib-based reader
      if (java.nio.file.Files.exists(java.nio.file.Paths.get("/root/reference/reader.py"))) {
        val part = new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).head
        val out = Files.createTempFile("colf_lvl", ".csv").toString
        val proc = new ProcessBuilder(
          "python3", "/root/reference/reader.py", "custom_to_csv", part.toString, out)
          .redirectErrorStream(true).start()
        val txt = new String(proc.getInputStream.readAllBytes())
        assert(proc.waitFor() == 0, s"reference reader failed at level $level: $txt")
        assert(Files.readAllLines(java.nio.file.Paths.get(out)).size() == 501)
      }
    }
    val err = intercept[Exception] {
      spark.range(1).select($"id".cast("int").as("a"))
        .write.format("colf").option("compressionLevel", "12").mode("overwrite").save(tmp())
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("compressionLevel")))
  }

  /** Files per scan partition, read through the `_file` metadata column. */
  private def filesPerPartition(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.select("_file").rdd
      .mapPartitions(it => Iterator(it.map(_.getString(0)).toSet.size))
      .collect().toSeq.sorted.reverse

  private def writeIntFiles(n: Int): String = {
    val dir = tmp()
    spark.range(n * 100).select($"id".cast("int").as("a"))
      .coalesce(1)
      .write.format("colf").option("maxRowsPerFile", "100").mode("overwrite").save(dir)
    val nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".colf") && !f.getName.startsWith("."))
    assert(nFiles == n)
    dir
  }

  test("small files bin-pack into partitions by maxPartitionBytes") {
    // each file costs size + openCostInBytes (4 MB); P is minPartitionNum,
    // else the leaf-node default parallelism; largest first into the
    // least-loaded bin
    val dir = writeIntFiles(10)
    withSQLConf("spark.sql.files.minPartitionNum" -> "4") {
      val df = spark.read.format("colf").load(dir)
      assert(df.rdd.getNumPartitions == 4)
      assert(filesPerPartition(df) == Seq(3, 3, 2, 2))
    }
    // the default P is the session's parallelism (local[4] here)
    assert(spark.read.format("colf").load(dir).rdd.getNumPartitions ==
      math.min(10, spark.sparkContext.defaultParallelism))
    // a ~1-file-sized target: one task per file, data intact either way
    val fileLen = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).map(_.length).max
    withSQLConf("spark.sql.files.maxPartitionBytes" -> fileLen.toString) {
      val back = spark.read.format("colf").load(dir)
      assert(back.rdd.getNumPartitions == 10)
      assert(back.agg(sum($"a")).collect()(0).getLong(0) == (0L until 1000L).sum)
    }
  }

  test("32 equal files spread over 4 bins of 8") {
    val dir = writeIntFiles(32)
    withSQLConf("spark.sql.files.minPartitionNum" -> "4") {
      val df = spark.read.format("colf").load(dir)
      assert(df.rdd.getNumPartitions == 4)
      assert(filesPerPartition(df) == Seq(8, 8, 8, 8))
      assert(df.agg(sum($"a")).collect()(0).getLong(0) == (0L until 3200L).sum)
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("count(*) pushes down to header metadata — no data blocks read") {
    val dir = tmp()
    spark.range(1234).select($"id".cast("int").as("a"), concat(lit("s"), $"id").as("s"))
      .repartition(3).write.format("colf").mode("overwrite").save(dir)
    val df = spark.read.format("colf").load(dir)
    assert(df.count() == 1234)
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), plan.take(400))
    // count with a residual filter must NOT push (we push no filters)
    assert(df.where($"a" > 1000).count() == 233)
    val planF = df.where($"a" > 1000).groupBy().count().queryExecution.executedPlan.toString
    assert(!planF.contains("PushedAggregates"), planF.take(400))
    // grouped counts must not push either
    assert(df.groupBy($"a" % 2).count().count() == 2)
  }

  test("limit pushdown plans only enough files to cover the limit") {
    val dir = tmp()
    spark.range(1000).select($"id".cast("int").as("a"))
      .coalesce(1)
      .write.format("colf").option("maxRowsPerFile", "100").mode("overwrite").save(dir)
    val df = spark.read.format("colf").load(dir)
    val limited = df.limit(10)
    assert(limited.count() == 10)
    assert(limited.collect().length == 10)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 10"), plan.take(400))
    // a limit larger than the table still returns everything
    assert(df.limit(5000).count() == 1000)
    // unlimited scans stay unlimited
    assert(df.count() == 1000)
  }

  test("concurrent appends from two jobs coexist: unique names, union readable") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmp()
    // two append jobs racing into one directory: query-id-scoped file
    // names and temp sweeps must never collide or delete each other's work
    val jobs = Seq(0L, 1L).map { i =>
      Future {
        spark.range(i * 1000, (i + 1) * 1000).select($"id".cast("int").as("k"))
          .coalesce(2).write.format("colf").mode("append").save(dir)
      }
    }
    Await.result(Future.sequence(jobs), 120.seconds)
    val back = spark.read.format("colf").load(dir)
    assert(back.count() == 2000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"k")).head.getLong(0) ==
      (0L until 2000L).sum)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".colf.tmp")))
  }

  test("corrupted files fail loudly: bad magic, truncated data block") {
    val dir = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "s").coalesce(1)
      .write.format("colf").mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).head

    // truncate the data region: header parses, block read must fail clearly
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val truncDir = tmp()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(truncDir, "part-trunc.colf"),
      java.util.Arrays.copyOf(bytes, bytes.length - 6))
    val e1 = intercept[Exception] {
      spark.read.format("colf").load(truncDir).collect()
    }
    val m1 = (e1.getMessage + Option(e1.getCause).map(_.getMessage).mkString).toLowerCase
    assert(m1.contains("eof") || m1.contains("truncated") || m1.contains("decompress"),
      s"unhelpful truncation error: $m1")

    // garbage bytes: magic check rejects before anything decodes
    val junkDir = tmp()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junkDir, "part-junk.colf"),
      "this is not a colf file at all, not even close".getBytes("UTF-8"))
    val e2 = intercept[Exception] {
      spark.read.format("colf").load(junkDir).collect()
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).mkString)
      .toLowerCase.contains("magic"), s"bad-magic error unclear: ${e2.getMessage}")
  }

  test("SQL DDL: CREATE TABLE USING colf, INSERT INTO, SELECT") {
    val dir = tmp()
    spark.range(5).select($"id".cast("int").as("k"), concat(lit("v"), $"id").as("s"))
      .write.format("colf").mode("overwrite").save(dir)
    val table = s"colf_ddl_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $table USING colf OPTIONS (path '$dir')")
    try {
      assert(spark.sql(s"SELECT sum(k) FROM $table").collect()(0).getLong(0) == 10L)
      spark.sql(s"INSERT INTO $table VALUES (99, 'x')")
      assert(spark.sql(s"SELECT count(*) FROM $table").collect()(0).getLong(0) == 6L)
      assert(spark.sql(s"SELECT s FROM $table WHERE k = 99").collect()(0).getString(0) == "x")
    } finally spark.sql(s"DROP TABLE $table")
  }

  test("statistics report row counts from headers") {
    val dir = tmp()
    spark.range(500).select($"id".cast("int").as("a"))
      .write.format("colf").mode("overwrite").save(dir)
    val rel = spark.read.format("colf").load(dir)
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(500)))
  }
}

object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
