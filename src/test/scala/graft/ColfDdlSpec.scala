package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.colf.{ColfCatalog, ColfVersions}

/** Catalog DDL (ColfCatalog + ColfVersions.TableMeta): CREATE/DROP/
  * RENAME TABLE and metadata-only ALTER TABLE ADD/DROP COLUMN, with the
  * declared schema living in the table's own manifest — versioned and
  * time-travelable alongside the data, zero data files read or written
  * by any schema change.
  */
class ColfDdlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkTest.session
    s.conf.set("spark.sql.catalog.colf_ddl", classOf[ColfCatalog].getName)
    s
  }
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("colf_ddl_test").toString

  /** data files (name → lastModified) under dir, recursive over k=v. */
  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val es = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      es.filter(f => f.isFile && f.getName.endsWith(".colf") && !f.getName.startsWith(".")) ++
        es.filter(f => f.isDirectory && f.getName.contains('=')).flatMap(walk)
    }
    walk(new java.io.File(dir)).map(f => f.getName -> f.lastModified()).toMap
  }

  test("CREATE TABLE: empty, typed, partitioned; INSERT writes hive layout") {
    val dir = tmp() + "/t"
    spark.sql(s"""CREATE TABLE colf_ddl.`$dir`
                 |(k INT, v STRING, seg STRING) PARTITIONED BY (seg)""".stripMargin)
    // the empty table exists, with the declared shape
    val empty = spark.sql(s"SELECT * FROM colf_ddl.`$dir`")
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v", "seg"))
    assert(empty.count() == 0)
    // first INSERT partitions by the DECLARED column (no files existed to
    // derive the layout from)
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val segDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(segDirs == Set("seg=x", "seg=y"))
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dir` WHERE seg = 'x'")
      .as[Int].collect().toSeq == Seq(1))
  }

  test("CREATE TABLE: duplicate fails, bad types fail, non-identity partitioning fails") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    val dup = intercept[Exception] {
      spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    }
    assert(dup.getMessage.toLowerCase.contains("already exists"))
    val badType = intercept[Exception] {
      spark.sql(s"CREATE TABLE colf_ddl.`${tmp()}/u` (k BIGINT, v STRING)")
    }
    assert(badType.getMessage.contains("int/double/string"))
    val badPart = intercept[Exception] {
      spark.sql(s"CREATE TABLE colf_ddl.`${tmp()}/w` (k INT, d STRING) " +
        "PARTITIONED BY (days(d))")
    }
    assert(badPart.getMessage.toLowerCase.contains("identity"))
  }

  test("ADD COLUMN is metadata-only: old files read null, data files untouched") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a'), (2, 'b')")
    val before = dataFiles(dir)
    assert(before.nonEmpty)

    spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN score DOUBLE")
    assert(dataFiles(dir) == before, "ALTER must not touch any data file")

    // visible immediately; pre-existing rows read it as null
    val rows = spark.sql(s"SELECT k, score FROM colf_ddl.`$dir` ORDER BY k")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows.toSeq == Seq((1, None), (2, None)))

    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (3, 'c', 9.5)")
    val after = spark.sql(
      s"SELECT k, score FROM colf_ddl.`$dir` WHERE score IS NOT NULL").collect()
    assert(after.map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((3, 9.5)))
  }

  test("DROP COLUMN is metadata-only; time travel shows the pre-DDL schema") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING, w DOUBLE)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a', 0.5)")  // commits v2
    val before = dataFiles(dir)
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` DROP COLUMN v")         // commits v3
    assert(dataFiles(dir) == before)
    assert(spark.sql(s"SELECT * FROM colf_ddl.`$dir`").schema.fieldNames.toSeq
      == Seq("k", "w"))
    // the declaration versions with the data: AS OF the pre-drop commit,
    // the column is back (bytes were never touched)
    val asOf = spark.sql(s"SELECT * FROM colf_ddl.`$dir` VERSION AS OF 2")
    assert(asOf.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(asOf.select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("ADD COLUMN refuses resurrection: a live file already stores that name") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'secret')")
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` DROP COLUMN v")
    // the file still stores 'v' — re-adding the name would resurrect 'secret'
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN v STRING")
    }
    assert(e.getMessage.contains("resurrect"))
    // a fresh name is fine
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN v2 STRING")
    assert(spark.sql(s"SELECT * FROM colf_ddl.`$dir`").schema.fieldNames.toSeq
      == Seq("k", "v2"))
  }

  test("ALTER guard rails: NOT NULL add, partition/last-column drop, rename, type change") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'x')")
    val notNull = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN m INT NOT NULL")
    }
    assert(notNull.getMessage.contains("nullable"))
    val dropPart = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` DROP COLUMN seg")
    }
    assert(dropPart.getMessage.contains("partition column"))
    val dropLast = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` DROP COLUMN k")
    }
    assert(dropLast.getMessage.contains("last data column"))
    val retype = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` ALTER COLUMN k TYPE DOUBLE")
    }
    assert(retype.getMessage.contains("TYPE is not supported"))
    // DROP NOT NULL (widen nullability) is allowed
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` ALTER COLUMN k DROP NOT NULL")
  }

  test("RENAME COLUMN is metadata-only column mapping: old data readable, writes stay physical") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val before = dataFiles(dir)

    spark.sql(s"ALTER TABLE colf_ddl.`$dir` RENAME COLUMN v TO label")
    assert(dataFiles(dir) == before, "RENAME must not touch any data file")
    val df = spark.sql(s"SELECT * FROM colf_ddl.`$dir`")
    assert(df.schema.fieldNames.toSeq == Seq("k", "label", "seg"))
    // old data reads under the NEW name
    assert(spark.sql(s"SELECT label FROM colf_ddl.`$dir` ORDER BY k")
      .as[String].collect().toSeq == Seq("a", "b"))
    // filters on the renamed column work (and push/prune physically)
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dir` WHERE label = 'b'")
      .as[Int].collect().toSeq == Seq(2))

    // a write AFTER the rename keeps storing the PHYSICAL name — files
    // carry one stable column name for the table's whole lifetime
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (3, 'c', 'x')")
    val newFile = (dataFiles(dir).keySet -- before.keySet).head
    def findFile(d: java.io.File, name: String): java.io.File = {
      val es = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      es.find(f => f.isFile && f.getName == name).getOrElse(
        es.filter(_.isDirectory).map(findFile(_, name)).find(_ != null).orNull)
    }
    val part = findFile(new java.io.File(dir), newFile)
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(part))
    val hdr = try graft.sources.colf.ColfCodec.readHeader(in) finally in.close()
    assert(hdr.schema.fields.map(_.name).toSeq == Seq("k", "v"),
      "new files must store the physical name 'v', not the logical 'label'")
    assert(spark.sql(s"SELECT label FROM colf_ddl.`$dir` WHERE k = 3")
      .as[String].collect().toSeq == Seq("c"))

    // time travel shows the schema as declared THEN
    assert(spark.sql(s"SELECT * FROM colf_ddl.`$dir` VERSION AS OF 2")
      .schema.fieldNames.toSeq == Seq("k", "v", "seg"))

    // the physical slot stays occupied: re-adding 'v' would alias the
    // renamed column's stored data
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN v STRING")
    }
    assert(e.getMessage.contains("physical name"))

    // renaming BACK drops to the identity mapping and still reads
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` RENAME COLUMN label TO v")
    assert(spark.sql(s"SELECT v FROM colf_ddl.`$dir` ORDER BY k")
      .as[String].collect().toSeq == Seq("a", "b", "c"))
  }

  test("RENAME COLUMN on a partition column: directories keep the physical name") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, seg STRING) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` RENAME COLUMN seg TO region")
    // reads resolve the logical name from the physical k=v layout
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dir` WHERE region = 'y'")
      .as[Int].collect().toSeq == Seq(2))
    // INSERT still routes partition values into the PHYSICAL directories
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (3, 'y')")
    val segDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).toSet
    assert(segDirs == Set("seg=x", "seg=y"), s"got $segDirs")
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dir` WHERE region = 'y' ORDER BY k")
      .as[Int].collect().toSeq == Seq(2, 3))
    // metadata-only agg over the renamed partition column still answers
    assert(spark.sql(s"SELECT region, count(*) AS n FROM colf_ddl.`$dir` GROUP BY region ORDER BY region")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("x", 1L), ("y", 2L)))
  }

  test("row-level DML works through the rename mapping (CoW and merge-on-read)") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` RENAME COLUMN v TO label")

    // copy-on-write UPDATE on the renamed column
    spark.sql(s"UPDATE colf_ddl.`$dir` SET label = 'B' WHERE label = 'b'")
    assert(spark.sql(s"SELECT label FROM colf_ddl.`$dir` ORDER BY k")
      .as[String].collect().toSeq == Seq("a", "B", "c"))
    // rewritten files still store the physical name
    assert(spark.read.format("colf").load(dir).schema.fieldNames.toSeq
      == Seq("k", "label"))

    // merge-on-read DELETE keyed on the renamed column
    spark.conf.set("spark.colf.dml.mode", "merge-on-read")
    try {
      val files = dataFiles(dir)
      spark.sql(s"DELETE FROM colf_ddl.`$dir` WHERE label = 'a'")
      assert(dataFiles(dir) == files, "merge-on-read must not rewrite data files")
      assert(spark.sql(s"SELECT label FROM colf_ddl.`$dir` ORDER BY k")
        .as[String].collect().toSeq == Seq("B", "c"))
    } finally spark.conf.unset("spark.colf.dml.mode")
  }

  test("ALTER adopts a pre-DDL versioned table's schema (union + layout parts)") {
    val dir = tmp() + "/t"
    Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "seg")
      .write.format("colf").option("manifest", "true")
      .option("partitionBy", "seg").mode("append").save(dir)
    // evolved file: extra column 'extra' (union schema table)
    Seq((3, "c", 1.5, "x")).toDF("k", "v", "extra", "seg")
      .write.format("colf").option("partitionBy", "seg").mode("append").save(dir)

    spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN score DOUBLE")
    val df = spark.sql(s"SELECT * FROM colf_ddl.`$dir`")
    // adopted union (k, v, extra) + layout partition col (seg) + added
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "extra", "seg", "score"))
    assert(df.count() == 3)
    // partition layout survives adoption: next INSERT still writes seg=…
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (4, 'd', NULL, 'z', 2.0)")
    assert(new java.io.File(dir).listFiles().exists(_.getName == "seg=z"))
    // and the bare-path Scala read sees the same declared schema
    assert(spark.read.format("colf").load(dir).schema.fieldNames.toSeq
      == Seq("k", "v", "extra", "seg", "score"))
  }

  test("ALTER adoption: a type conflict between live files names both files") {
    val dir = tmp() + "/t"
    Seq((1, "a")).toDF("k", "v")
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    Seq((1.5, "b")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    val before = dataFiles(dir)
    assert(before.size == 2)
    // SQL ALTER loads the table first, and that load's mergeSchema read
    // fails on the conflict before adoption; the catalog call adopts
    // without a load
    val cat = new ColfCatalog()
    cat.initialize("colf_ddl", org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val err = intercept[IllegalArgumentException] {
      cat.alterTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, dir),
        org.apache.spark.sql.connector.catalog.TableChange.addColumn(Array("score"),
          org.apache.spark.sql.types.DoubleType))
    }
    val msg = err.getMessage
    assert(msg.startsWith("colf: cannot adopt a declared schema for "), msg)
    assert(msg.contains("column 'k' is ") && msg.contains("int32") && msg.contains("float64"), msg)
    before.keys.foreach(n => assert(msg.contains(n), msg))
    assert(dataFiles(dir) == before)
  }

  test("ALTER on an unversioned table fails with enable_versioning guidance") {
    val dir = tmp() + "/t"
    Seq((1, "a")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN m INT")
    }
    assert(e.getMessage.contains("enable_versioning"))
  }

  test("DROP TABLE deletes a colf table; refuses a non-table directory") {
    val dir = tmp() + "/t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a')")
    spark.sql(s"DROP TABLE colf_ddl.`$dir`")
    assert(!new java.io.File(dir).exists())

    val plain = tmp() + "/not_a_table"
    Files.createDirectories(java.nio.file.Paths.get(plain))
    Files.writeString(java.nio.file.Paths.get(plain, "precious.txt"), "keep me")
    // from SQL, Spark's resolution already reports not-found (the dir has
    // no colf table to load); the catalog-level guard is the backstop
    // against a direct dropTable on a mistyped path
    intercept[Exception] { spark.sql(s"DROP TABLE colf_ddl.`$plain`") }
    val cat = new ColfCatalog
    cat.initialize("colf_direct", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Collections.emptyMap()))
    val e = intercept[IllegalArgumentException] {
      cat.dropTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], plain))
    }
    assert(e.getMessage.contains("refusing"))
    assert(new java.io.File(plain, "precious.txt").exists())
  }

  test("RENAME TABLE relocates; snapshots and commit times survive") {
    val base = tmp()
    val dir = base + "/old_t"
    spark.sql(s"CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a')")
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (2, 'b')")
    val dst = base + "/new_t"
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` RENAME TO colf_ddl.`$dst`")
    assert(!new java.io.File(dir).exists())
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dst` ORDER BY k")
      .as[Int].collect().toSeq == Seq(1, 2))
    // snapshot history relocates intact (manifest-relative paths + embedded ts)
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dst` VERSION AS OF 2")
      .as[Int].collect().toSeq == Seq(1))
  }

  test("table properties persist in the manifest: dmlMode sticks across sessions") {
    val dir = tmp() + "/t"
    spark.sql(s"""CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)
                 |TBLPROPERTIES ('dmlMode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a'), (2, 'b')")
    // NO session conf set: the persisted property alone must route the
    // DELETE through the delta (deletion-vector) path — data files untouched
    val before = dataFiles(dir)
    spark.sql(s"DELETE FROM colf_ddl.`$dir` WHERE v = 'a'")
    assert(dataFiles(dir) == before,
      "persisted dmlMode=merge-on-read must keep DML from rewriting files")
    assert(spark.sql(s"SELECT k FROM colf_ddl.`$dir`").as[Int].collect().toSeq == Seq(2))

    // ALTER ... SET/UNSET TBLPROPERTIES flips it durably
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` SET TBLPROPERTIES ('dmlMode' = 'copy-on-write')")
    spark.sql(s"DELETE FROM colf_ddl.`$dir` WHERE v = 'b'")
    assert(dataFiles(dir) != before, "copy-on-write DML rewrites/replaces files")
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` UNSET TBLPROPERTIES ('dmlMode')")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ColfVersions.tableMeta(fs, root).get.props.isEmpty)
    // bad values refuse at CREATE and at SET
    val bad = intercept[Exception] {
      spark.sql(s"CREATE TABLE colf_ddl.`${tmp()}/u` (k INT, v STRING) " +
        "TBLPROPERTIES ('dmlMode' = 'nope')")
    }
    assert(bad.getMessage.contains("dmlMode"))
  }

  test("colf_versions records each commit's operation (DESCRIBE HISTORY)") {
    val dir = tmp() + "/t"
    GraftFunctions.register(spark)
    spark.sql(s"""CREATE TABLE colf_ddl.`$dir` (k INT, v STRING)
                 |TBLPROPERTIES ('dmlMode' = 'merge-on-read')""".stripMargin)
    spark.sql(s"INSERT INTO colf_ddl.`$dir` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE colf_ddl.`$dir` ADD COLUMN score DOUBLE")
    spark.sql(s"DELETE FROM colf_ddl.`$dir` WHERE k = 1")
    val hist = spark.sql(
      s"""SELECT version, operation, num_rows FROM colf_versions('$dir')
         |ORDER BY version""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.map(_._2).toSeq == Seq("create", "append", "alter", "dml.mor"))
    // live row counts track the history: empty → 2 → 2 → 1 (DV applied)
    assert(hist.map(_._3).toSeq == Seq(0L, 2L, 2L, 1L))
  }

  test("CTAS creates and loads in one statement") {
    val dir = tmp() + "/t"
    spark.sql(s"""CREATE TABLE colf_ddl.`$dir` AS
                 |SELECT CAST(id AS INT) AS k, CAST(id * 0.5 AS DOUBLE) AS half
                 |FROM range(5)""".stripMargin)
    val got = spark.sql(s"SELECT k, half FROM colf_ddl.`$dir` ORDER BY k").collect()
    assert(got.map(r => (r.getInt(0), r.getDouble(1))).toSeq
      == (0 until 5).map(i => (i, i * 0.5)))
    // CTAS went through CREATE (v1, declared) + INSERT (v2, files)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ColfVersions.listVersions(fs, root) == Seq(1L, 2L))
    assert(ColfVersions.tableMeta(fs, root).isDefined)
  }
}
