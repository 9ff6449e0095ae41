package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL row-level DML on colf tables (group-based copy-on-write):
  * `MERGE INTO`, `UPDATE`, and arbitrary-predicate `DELETE FROM`
  * through the path catalog. The load-bearing claims:
  *
  *  1. results match the relational definition of each command;
  *  2. REPLACED == SCANNED — runtime group filtering on the `_file`
  *     metadata column selects exactly the files containing affected
  *     rows, and every other file is bytewise untouched (same name,
  *     same mtime) — the property that makes DML affordable at 100 TB;
  *  3. versioned tables commit DML as one atomic manifest flip, so the
  *     pre-DML snapshot stays time-travelable.
  */
class ColfRowLevelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("colf_rl_test").toString

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.colf_rl",
      classOf[graft.sources.colf.ColfCatalog].getName)

  private def colfFiles(dir: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val es = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      es.filter(f => f.isFile && f.getName.endsWith(".colf") && !f.getName.startsWith(".")) ++
        es.filter(_.isDirectory).filterNot(d => d.getName.startsWith("_")).flatMap(walk)
    }
    walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("MERGE INTO: matched updates, unmatched inserts; only affected files rewritten") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 1000)
      .select($"id".cast("int").as("k"), ($"id" % 10).cast("int").as("p"),
        ($"id" * 1.5).as("v"))
      .write.format("colf").option("partitionBy", "p").mode("append").save(dir)
    val before = colfFiles(dir)
    assert(before.size == 10)

    Seq((5, 5, -1.0), (2000, 0, -2.0)).toDF("k", "p", "v")
      .createOrReplaceTempView("rl_merge_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_merge_src s
         |ON t.k = s.k AND t.p = s.p
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 1001)
    assert(t.where($"k" === 5).select("v").as[Double].head() == -1.0)
    assert(t.where($"k" === 2000).select("v").as[Double].head() == -2.0)
    // group filtering: the only MATCHED row lives in p=5's file — the
    // other 9 original files must be bytewise untouched (the insert
    // lands as a NEW file, replacing nothing)
    val after = colfFiles(dir)
    val untouched = before.count { case (path, m) => after.get(path).contains(m) }
    assert(untouched == 9, s"expected 9 untouched files, got $untouched")
  }

  test("UPDATE and data-predicate DELETE work through pure SQL") {
    registerCatalog()
    val dir = tmp()
    Seq((1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"), (4, 40.0, "b"))
      .toDF("k", "v", "p")
      .write.format("colf").option("partitionBy", "p").mode("append").save(dir)

    spark.sql(s"UPDATE colf_rl.`$dir` SET v = v + 1000 WHERE k = 3")
    assert(spark.read.format("colf").load(dir).where($"k" === 3)
      .select("v").as[Double].head() == 1030.0)

    // v < 15 is NOT provable from partition values — copy-on-write path
    spark.sql(s"DELETE FROM colf_rl.`$dir` WHERE v < 15")
    val got = spark.read.format("colf").load(dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set((2, 20.0, "a"), (3, 1030.0, "b"), (4, 40.0, "b")))
  }

  test("MERGE on an unpartitioned table; _file metadata column is selectable") {
    registerCatalog()
    val dir = tmp()
    (1 to 100).map(i => (i, i.toDouble)).toDF("k", "v").coalesce(2)
      .write.format("colf").mode("append").save(dir)
    Seq((7, -7.0), (101, 101.0)).toDF("k", "v").createOrReplaceTempView("rl_flat_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_flat_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 101)
    assert(t.where($"k" === 7).select("v").as[Double].head() == -7.0)
    // _file: selectable, non-null, one value per physical file
    val files = spark.sql(s"SELECT DISTINCT _file FROM colf_rl.`$dir`")
      .as[String].collect()
    assert(files.nonEmpty && files.forall(_.endsWith(".colf")))
  }

  test("DML on a versioned table is one manifest flip; old snapshot stays readable") {
    registerCatalog()
    val dir = tmp()
    Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v").coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)

    spark.sql(s"DELETE FROM colf_rl.`$dir` WHERE k = 2")
    // latest = post-delete; v1 = pre-delete, still time-travelable
    assert(spark.read.format("colf").load(dir).count() == 2)
    assert(spark.read.format("colf").option("versionAsOf", 1).load(dir).count() == 3)
    assert(spark.sql(s"SELECT count(*) FROM colf_rl.`$dir` VERSION AS OF 1")
      .as[Long].head() == 3L)

    spark.sql(s"UPDATE colf_rl.`$dir` SET v = 0.0 WHERE k = 1")
    assert(spark.read.format("colf").load(dir)
      .where($"k" === 1).select("v").as[Double].head() == 0.0)
    // three commits → three versions, each a complete snapshot
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.sources.colf.ColfVersions.listVersions(fs, root) == Seq(1L, 2L, 3L))
  }

  test("UPDATE that changes a partition value moves the row across directories") {
    // The copy-on-write path handles partition MOVES correctly (unlike
    // partition-scoped restatement, which must forbid them): the
    // replacement write re-partitions by the layout columns, so an
    // updated row lands in its NEW k=v directory while its old file is
    // replaced without it.
    registerCatalog()
    val dir = tmp()
    Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "p")
      .write.format("colf").option("partitionBy", "p").mode("append").save(dir)
    spark.sql(s"UPDATE colf_rl.`$dir` SET p = 'b' WHERE k = 2")
    val t = spark.read.format("colf").load(dir)
    assert(t.where($"p" === "a").select("k").as[Int].collect().toSet == Set(1))
    assert(t.where($"p" === "b").select("k").as[Int].collect().toSet == Set(2, 3))
    // the row physically lives under p=b now (not a read-time illusion)
    val bFiles = spark.sql(s"SELECT DISTINCT _file FROM colf_rl.`$dir` WHERE k = 2")
      .as[String].head()
    assert(bFiles.contains("p=b/"), s"row must live under p=b, got $bFiles")
  }

  test("MERGE INTO a session-catalog DDL table (not the path catalog)") {
    val dir = tmp()
    Seq((1, 10.0), (2, 20.0)).toDF("k", "v")
      .write.format("colf").mode("append").save(dir)
    val table = s"colf_rl_ddl_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $table USING colf OPTIONS (path '$dir')")
    try {
      Seq((2, 22.0), (3, 33.0)).toDF("k", "v").createOrReplaceTempView("rl_ddl_src")
      spark.sql(
        s"""MERGE INTO $table t USING rl_ddl_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.table(table).collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == Set((1, 10.0), (2, 22.0), (3, 33.0)))
    } finally spark.sql(s"DROP TABLE $table")
  }

  test("a DATA column named _file wins over the metadata constant") {
    registerCatalog()
    val dir = tmp()
    // legal via CSV conversion: a real column called _file
    Seq((1, "origA"), (2, "origB")).toDF("k", "_file")
      .write.format("colf").mode("append").save(dir)
    val t = spark.read.format("colf").load(dir)
    // the DATA values come back, not file paths
    assert(t.select("_file").as[String].collect().toSet == Set("origA", "origB"))
    assert(spark.sql(s"SELECT _file FROM colf_rl.`$dir` ORDER BY _file")
      .as[String].collect().toSeq == Seq("origA", "origB"))
    // row-level DML needs the metadata column, which is suppressed here:
    // fail at analysis instead of silently mis-grouping files
    Seq((1, "x")).toDF("k", "_file").createOrReplaceTempView("rl_conflict_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO colf_rl.`$dir` t USING rl_conflict_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage != null)
    // and the table is untouched
    assert(spark.read.format("colf").load(dir).count() == 2)
  }

  test("randomized MERGE equivalence: SQL DML == relational upsert across layouts") {
    // Deterministic random sweep: varied partition counts, file layouts,
    // update/insert mixes — the SQL MERGE (group-filtered copy-on-write)
    // must equal the relational definition (updates win on key, rest
    // pass through, inserts append) computed independently in memory.
    registerCatalog()
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 5) {
      val dir = tmp()
      val nParts = 1 + rnd.nextInt(4)
      val n = 50 + rnd.nextInt(150)
      val base = (0 until n).map(i => (i, rnd.nextDouble(), s"p${i % nParts}"))
      base.toDF("k", "v", "p").repartition(1 + rnd.nextInt(3))
        .write.format("colf").option("partitionBy", "p")
        .option("manifest", trial % 2 == 0).mode("append").save(dir)
      // updates: a random subset re-valued; inserts: fresh keys
      val upd = rnd.shuffle(base).take(rnd.nextInt(20))
        .map { case (k, _, p) => (k, -rnd.nextDouble(), p) }
      val ins = (0 until rnd.nextInt(10)).map(i => (n + i, 100.0 + i, s"p${rnd.nextInt(nParts)}"))
      (upd ++ ins).toDF("k", "v", "p").createOrReplaceTempView(s"rl_rand_src_$trial")
      spark.sql(
        s"""MERGE INTO colf_rl.`$dir` t USING rl_rand_src_$trial s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = spark.read.format("colf").load(dir)
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSet
      val updByKey = upd.map(u => u._1 -> u).toMap
      val expected = (base.map(b => updByKey.getOrElse(b._1, b)) ++ ins).toSet
      assert(got == expected, s"trial $trial (nParts=$nParts, n=$n, " +
        s"upd=${upd.size}, ins=${ins.size}) diverged")
    }
  }

  test("row-level commit conflict: losing committer aborts instead of duplicating rows") {
    // Two concurrent copy-on-write commits replacing the SAME file would
    // each publish a full copy of its rows — every common row duplicated,
    // both updates half-applied. First committer wins; the loser must
    // abort inside the manifest claim loop (where the basis is re-read
    // atomically). Simulated deterministically: a fabricated row-level
    // commit whose scanned set is a file a REAL merge replaced first.
    registerCatalog()
    import graft.sources.colf.{ColfCommitMessage, ColfFileRef, ColfWrite}
    val dir = tmp()
    Seq((1, 10.0), (2, 20.0)).toDF("k", "v").coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).head
    val staleRef = ColfFileRef("file:" + f.getAbsolutePath, f.length(), f.lastModified())

    // the real committer replaces that file (MERGE rewrites it)
    Seq((1, 11.0)).toDF("k", "v").createOrReplaceTempView("rl_conf_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_conf_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)

    // Failure diagnosis clue: this scenario once failed a gate run and
    // passed 50+ attempts at reproduction — if it ever trips again, the
    // manifest history + physical listing IS the investigation, so bake
    // it into the failure message instead of losing it to a green rerun.
    def tableState(): String = {
      val manifests = Option(new java.io.File(dir, "_graft_versions").listFiles())
        .map(_.toSeq.sortBy(_.getName)).getOrElse(Seq.empty)
        .map(v => s"${v.getName}=${scala.io.Source.fromFile(v).mkString}")
      val files = new java.io.File(dir).listFiles().map(_.getName).sorted
      s"stale=${staleRef.path} manifests=${manifests.mkString("; ")} files=${files.mkString(",")}"
    }

    // the straggler, scanned before the merge: its commit must abort
    val loser = new ColfWrite(dir, spark.read.format("colf").load(dir).schema,
      "conflict-test-q", false, 1024, 1L << 20, 3,
      replaceScannedFn = () => Seq(staleRef))
    withClue(tableState()) {
      val e = intercept[java.util.ConcurrentModificationException] {
        loser.commit(Array(ColfCommitMessage(Seq.empty)))
      }
      assert(e.getMessage.contains("conflict"))
      // table state is the first committer's, intact
      val got = spark.read.format("colf").load(dir)
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == Set((1, 11.0), (2, 20.0)))
    }

    // unversioned best-effort: replaced file vanished ⇒ loud conflict too
    val dir2 = tmp()
    Seq((1, 1.0)).toDF("k", "v").coalesce(1)
      .write.format("colf").mode("append").save(dir2)
    val f2 = new java.io.File(dir2).listFiles()
      .filter(f => f.getName.endsWith(".colf") && !f.getName.startsWith(".")).head
    val ref2 = ColfFileRef("file:" + f2.getAbsolutePath, f2.length(), f2.lastModified())
    assert(f2.delete())
    val loser2 = new ColfWrite(dir2, spark.read.format("colf").load(dir).schema,
      "conflict-test-q2", false, 1024, 1L << 20, 3,
      replaceScannedFn = () => Seq(ref2))
    intercept[java.util.ConcurrentModificationException] {
      loser2.commit(Array(ColfCommitMessage(Seq.empty)))
    }
  }

  test("emptied partitioned table keeps its layout: DELETE-all then MERGE then append") {
    // Found by ColfHistoryFuzzProps: with zero live files the write
    // builder derived NO partition columns, so a MERGE insert wrote a
    // flat root file carrying `p` in-file — and the next partitioned
    // append made the table permanently unreadable (file column `p`
    // colliding with the `p=…` directory column). Layout must survive
    // an empty snapshot via the same retained-file fallback the read
    // schema uses.
    registerCatalog()
    val dir = tmp()
    Seq((0, "a", 0), (1, "b", 3)).toDF("k", "s", "p")
      .write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    spark.sql(s"DELETE FROM colf_rl.`$dir` WHERE k <= 5")
    assert(spark.read.format("colf").load(dir).count() == 0)

    Seq((6, "y", 1), (7, "z", 3)).toDF("k", "s", "p")
      .createOrReplaceTempView("rl_empty_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_empty_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the inserts landed in k=v partition directories, not at the root
    val rootFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".colf"))
    assert(rootFiles.isEmpty, s"flat root files written: ${rootFiles.mkString(",")}")

    Seq((8, "w", 1)).toDF("k", "s", "p")
      .write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    val got = spark.read.format("colf").load(dir)
      .select("k", "s", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set((6, "y", 1), (7, "z", 3), (8, "w", 1)))
  }

  test("DML on an evolved table: catalog carries every column; bare DDL refuses loudly") {
    // A MERGE matching a row in a file that carries a LATE-ADDED column
    // must not rewrite that file through a narrower schema — doing so
    // silently nulls the late column (found by driving exactly this).
    // The path catalog resolves the union schema, so the rewrite carries
    // `extra`; a DDL table created without mergeSchema hits the commit
    // guard instead — loudly, before any rename lands.
    registerCatalog()
    val dir = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "s").coalesce(1)
      .write.format("colf").mode("append").save(dir)
    Seq((3, "c", 99.5), (4, "d", 11.25)).toDF("k", "s", "extra").coalesce(1)
      .write.format("colf").mode("append").save(dir)

    Seq((3, "C")).toDF("k", "s").createOrReplaceTempView("rl_evo_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_evo_src u ON t.k = u.k
         |WHEN MATCHED THEN UPDATE SET t.s = u.s""".stripMargin)
    val got = spark.read.format("colf").option("mergeSchema", "true").load(dir)
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    assert(got == Set((1, "a", null), (2, "b", null), (3, "C", 99.5), (4, "d", 11.25)),
      s"late-added column must survive the rewrite, got $got")

    // DDL table frozen at the narrow schema: the rewrite guard refuses
    val tbl = s"rl_evo_ddl_${System.nanoTime()}"
    val dir2 = tmp()
    Seq((1, "a")).toDF("k", "s").write.format("colf").mode("append").save(dir2)
    spark.sql(s"CREATE TABLE $tbl USING colf OPTIONS (path '$dir2')")
    Seq((2, "b", 7.5)).toDF("k", "s", "extra")
      .write.format("colf").mode("append").save(dir2)
    try {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $tbl SET s = 'X' WHERE k = 2")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("DROP column") && m.contains("extra")),
        s"expected the schema-evolution guard, got $e")
      // zero visible effect: both rows intact, extra preserved
      val after = spark.read.format("colf").option("mergeSchema", "true").load(dir2)
        .collect().map(r => (r.getInt(0), r.getString(1),
          if (r.isNullAt(2)) null else r.getDouble(2))).toSet
      assert(after == Set((1, "a", null), (2, "b", 7.5)))
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("MERGE with NOT MATCHED BY SOURCE deletes the unreferenced rows") {
    registerCatalog()
    val dir = tmp()
    Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v")
      .write.format("colf").mode("append").save(dir)
    Seq((1, 11.0), (4, 44.0)).toDF("k", "v").createOrReplaceTempView("rl_nbs_src")
    spark.sql(
      s"""MERGE INTO colf_rl.`$dir` t USING rl_nbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.read.format("colf").load(dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == Set((1, 11.0), (4, 44.0)))
  }

  test("copy-on-write rewrite scan stays packed: UPDATE of 8 tiny files writes one file") {
    // read scans spread over the session's cores, but a rewrite scan's
    // partitions become its output files — spreading it would turn 8
    // tiny files into 4 rewritten ones instead of 1
    registerCatalog()
    val dir = tmp()
    spark.range(800).select($"id".cast("int").as("k"), ($"id" * 0.5).as("v"))
      .coalesce(1)
      .write.format("colf").option("maxRowsPerFile", "100").mode("append").save(dir)
    val before = colfFiles(dir)
    assert(before.size == 8)
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    try {
      assert(spark.read.format("colf").load(dir).rdd.getNumPartitions == 4)
      spark.sql(s"UPDATE colf_rl.`$dir` SET v = -v WHERE k % 100 = 0")
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
    val after = colfFiles(dir)
    assert(after.keySet.intersect(before.keySet).isEmpty, "every file holds a matched row")
    assert(after.size == 1, s"expected one rewritten file, got ${after.size}")
    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 800)
    assert(t.where($"v" < 0).count() == 7) // k = 0 stays 0.0
  }
}
