package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.colf.{ColfDeletes, ColfMaintenance, ColfVersions}

/** Merge-on-read row-level DML (deletion vectors): `DELETE`/`UPDATE`/
  * `MERGE` under `spark.colf.dml.mode=merge-on-read` must
  *
  *  1. leave every data file BYTEWISE untouched (same names, same
  *     mtimes) — the write-amplification fix the mode exists for;
  *  2. read back exactly the relational result through the one
  *     columnar reader: DV'd files as a row selection, clean files
  *     zero-copy;
  *  3. keep every earlier snapshot time-travelable (old versions read
  *     the old vectors, or none);
  *  4. compose: a second delete against the same file merges vectors;
  *  5. fold away under compaction (clean files, no dv entries, metadata
  *     aggregate pushdown restored);
  *  6. fail LOUDLY where merge-on-read state cannot be represented:
  *     adds-only CDC and the streaming source.
  */
class ColfDeleteVectorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("colf_dv_test").toString

  private def registerCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.colf_dv",
      classOf[graft.sources.colf.ColfCatalog].getName)

  private def withMoR[T](body: => T): T = {
    spark.conf.set("spark.colf.dml.mode", "merge-on-read")
    try body finally spark.conf.unset("spark.colf.dml.mode")
  }

  private def colfFiles(dir: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val es = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      es.filter(f => f.isFile && f.getName.endsWith(".colf") && !f.getName.startsWith(".")) ++
        es.filter(_.isDirectory).filterNot(d => d.getName.startsWith("_")).flatMap(walk)
    }
    walk(new java.io.File(dir)).map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  private def dvEntries(dir: String): Seq[ColfVersions.Entry] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    ColfVersions.latest(fs, root).map(_._2).getOrElse(Seq.empty).filter(_.dv != null)
  }

  test("DV file format: roundtrip, union, empty, corruption fails loudly") {
    val root = new org.apache.hadoop.fs.Path(tmp())
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rnd = new scala.util.Random(7)
    val pos = Array.fill(5000)(rnd.nextInt(1 << 24).toLong).distinct.sorted
    val rel = ColfDeletes.write(fs, root, pos)
    assert(ColfDeletes.read(fs, root, rel).toSeq == pos.toSeq)
    // empty vector roundtrips (a merge can start from nothing)
    val empty = ColfDeletes.write(fs, root, Array.empty[Long])
    assert(ColfDeletes.read(fs, root, empty).isEmpty)
    // union: overlap dedups, order holds
    val a = Array(1L, 5L, 9L); val b = Array(0L, 5L, 10L)
    assert(ColfDeletes.union(a, b).toSeq == Seq(0L, 1L, 5L, 9L, 10L))
    assert(ColfDeletes.union(Array.empty[Long], a).toSeq == a.toSeq)
    // unsorted input refused at write; corrupt bytes refused at read
    intercept[IllegalArgumentException] {
      ColfDeletes.write(fs, root, Array(3L, 2L))
    }
    val bad = new org.apache.hadoop.fs.Path(root, "_graft_deletes/bad.gdv")
    val out = fs.create(bad, true); out.write("nonsense".getBytes); out.close()
    intercept[java.io.IOException] {
      ColfDeletes.read(fs, root, "_graft_deletes/bad.gdv")
    }
    // a zero gap (position 3 twice) is refused when the vector is read
    val dup = new org.apache.hadoop.fs.Path(root, "_graft_deletes/dup.gdv")
    val dout = fs.create(dup, true)
    dout.write("GDV1".getBytes ++ Array[Byte](2, 4, 0)); dout.close()
    intercept[java.io.IOException] {
      ColfDeletes.read(fs, root, "_graft_deletes/dup.gdv")
    }
  }

  test("a deletion vector naming a row beyond its data file fails the scan") {
    val dir = tmp()
    spark.range(0, 10).select($"id".cast("int").as("k")).coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // ordinal 10 of a 10-row file: written by hand, as a corrupt or
    // foreign writer could
    val dv = ColfDeletes.write(fs, root, Array(3L, 10L))
    ColfVersions.append(fs, root, basis => basis.get._2.map(_.copy(dv = dv, dvRows = 2L)))
    val e = intercept[Exception](spark.read.format("colf").load(dir).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    val dataFile = ColfVersions.latest(fs, root).get._2.head.relPath
    assert(msgs.contains(new org.apache.hadoop.fs.Path(dv).getName) &&
      msgs.contains(new org.apache.hadoop.fs.Path(dataFile).getName) &&
      msgs.contains("row 10"), msgs)
  }

  test("merge-on-read DELETE: data files bytewise untouched, vectors merge, snapshots hold") {
    registerCatalog()
    val dir = tmp()
    // 4 files of 100 rows each, versioned
    spark.range(0, 400)
      .select($"id".cast("int").as("k"), ($"id" % 4).cast("int").as("p"),
        ($"id" * 1.5).as("v"))
      .repartition(1).write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    val before = colfFiles(dir)
    assert(before.size == 4)

    withMoR {
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k IN (5, 17, 206)")
    }
    // every data file survives bytewise — names AND mtimes
    assert(colfFiles(dir) == before, "merge-on-read DELETE must not touch data files")
    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 397)
    assert(t.where($"k".isin(5, 17, 206)).count() == 0)
    // v1 still reads the pre-delete table
    assert(spark.read.format("colf").option("versionAsOf", 1).load(dir).count() == 400)
    // manifest: exactly the two touched files carry vectors
    val dvd1 = dvEntries(dir)
    assert(dvd1.map(_.dvRows).sum == 3)
    assert(dvd1.size == 2, s"expected 2 DV'd entries, got ${dvd1.map(_.relPath)}")

    // second delete hitting one already-vectored file (k=6 lands in p=2,
    // which already masks k=206): vectors MERGE
    withMoR {
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 6")
    }
    assert(colfFiles(dir) == before)
    assert(spark.read.format("colf").load(dir).count() == 396)
    assert(dvEntries(dir).map(_.dvRows).sum == 4)
    // and the older snapshots still read THEIR vectors
    assert(spark.read.format("colf").option("versionAsOf", 2).load(dir).count() == 397)
    assert(spark.read.format("colf").option("versionAsOf", 1).load(dir).count() == 400)

    // aggregates on a DV table bypass metadata pushdown but stay exact
    registerCatalog()
    val cnt = spark.sql(s"SELECT count(*) AS c, min(k) AS mn, max(v) AS mx FROM colf_dv.`$dir`")
      .collect()(0)
    assert(cnt.getLong(0) == 396 && cnt.getInt(1) == 0)
  }

  test("merge-on-read UPDATE: delete + insert, one atomic version, files untouched") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 300)
      .select($"id".cast("int").as("k"), ($"id" % 3).cast("int").as("p"),
        ($"id" * 2.0).as("v"))
      .repartition(1).write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    val before = colfFiles(dir)
    assert(before.size == 3)

    withMoR {
      spark.sql(s"UPDATE colf_dv.`$dir` SET v = -1.0 WHERE k = 100")
    }
    // ALL pre-existing files bytewise untouched; the updated row lives in
    // a NEW small file
    val after = colfFiles(dir)
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"pre-existing file $p was rewritten")
    }
    assert(after.size == before.size + 1, "update's insert half must land as a new file")
    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 300)
    assert(t.where($"k" === 100).select("v").as[Double].collect().toSeq == Seq(-1.0))
    assert(t.where($"v" === 200.0).count() == 0)
    // old snapshot unperturbed
    assert(spark.read.format("colf").option("versionAsOf", 1).load(dir)
      .where($"k" === 100).select("v").as[Double].head() == 200.0)
  }

  test("merge-on-read MERGE: matched updates + inserts in one commit") {
    registerCatalog()
    val dir = tmp()
    Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v").coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    val before = colfFiles(dir)
    Seq((2, -2.0), (9, 90.0)).toDF("k", "v").createOrReplaceTempView("dv_merge_src")
    withMoR {
      spark.sql(
        s"""MERGE INTO colf_dv.`$dir` t USING dv_merge_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    before.foreach { case (p, m) =>
      assert(colfFiles(dir).get(p).contains(m), s"pre-existing file $p was rewritten")
    }
    val got = spark.read.format("colf").load(dir)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == Set((1, 10.0), (2, -2.0), (3, 30.0), (9, 90.0)))
  }

  test("a fully-deleted file leaves the manifest (entry and vector dropped)") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 200)
      .select($"id".cast("int").as("k"), ($"id" % 2).cast("int").as("p"), $"id".cast("double").as("v"))
      .repartition(1).write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    withMoR {
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE p = 0 AND k >= 0")
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = ColfVersions.latest(fs, root).map(_._2).get
    assert(live.size == 1 && live.forall(_.dv == null),
      s"fully-deleted file must leave the manifest, got $live")
    assert(spark.read.format("colf").load(dir).count() == 100)
    // the file itself still backs v1 until vacuum
    assert(spark.read.format("colf").option("versionAsOf", 1).load(dir).count() == 200)
  }

  test("_pos metadata column: original ordinals, stable under deletes") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 50).select($"id".cast("int").as("k")).coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    val posBefore = spark.read.format("colf").load(dir)
      .select($"k", $"_pos").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(posBefore(7) == 7L && posBefore.size == 50)
    withMoR { spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 7") }
    assert(dvEntries(dir).nonEmpty)
    // survivors keep their ORIGINAL ordinals (deletes never renumber)
    val after = spark.read.format("colf").load(dir).select($"k", $"_pos")
    // the DV'd file is read by the columnar reader too
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val posAfter = after.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(posAfter.size == 49 && !posAfter.contains(7))
    assert(posAfter(8) == 8L && posAfter(49) == 49L)
  }

  test("compaction folds deletion vectors into clean files") {
    registerCatalog()
    val dir = tmp()
    // s: a nullable string, so the reader's row selection gathers string
    // offsets and null masks as well as numbers
    spark.range(0, 400)
      .select($"id".cast("int").as("k"), ($"id" % 4).cast("int").as("p"),
        ($"id" * 1.5).as("v"),
        when($"id" % 5 =!= 0, concat(lit("s"), $"id".cast("string"))).as("s"))
      .repartition(1).write.format("colf").option("partitionBy", "p")
      .option("manifest", "true").mode("append").save(dir)
    withMoR {
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k IN (1, 2, 3, 101, 102, 201)")
    }
    // p=0 stays clean; its file shares a scan partition with DV'd ones
    assert(dvEntries(dir).size == 3)
    def checkRows(): Unit = {
      val rows = spark.read.format("colf").load(dir).select($"k", $"v", $"s").collect()
      assert(rows.map(_.getInt(0)).sorted.toSeq ==
        (0 until 400).filterNot(Set(1, 2, 3, 101, 102, 201)))
      rows.foreach { r =>
        val k = r.getInt(0)
        assert(r.getDouble(1) == k * 1.5 && r.getString(2) == (if (k % 5 == 0) null else s"s$k"),
          s"row $r")
      }
    }
    checkRows()
    // while vectors exist, header-only aggregation must DECLINE (headers
    // still count masked rows) — the count comes from the real scan
    val dvPlan = spark.sql(s"SELECT count(*) AS c FROM colf_dv.`$dir`")
      .queryExecution.executedPlan.toString
    assert(!dvPlan.contains("PushedAggregates"),
      s"metadata-only count over a DV table would be wrong:\n$dvPlan")
    assert(spark.sql(s"SELECT count(*) AS c FROM colf_dv.`$dir`")
      .collect()(0).getLong(0) == 394)
    ColfMaintenance.compact(spark, dir)
    // vectors folded: no entry carries one, rows exact, deleted rows gone
    assert(dvEntries(dir).isEmpty, "compaction must fold every deletion vector")
    checkRows()
    val t = spark.read.format("colf").load(dir)
    assert(t.count() == 394)
    assert(t.where($"k".isin(1, 2, 3, 101, 102, 201)).count() == 0)
    // p=1 held k≡1 (mod 4): three of the deleted keys — folded away
    assert(t.where($"p" === 1).count() == 97)
    assert(t.where($"p" === 0).count() == 100)
    // metadata-only aggregate pushdown is live again on the clean table
    val plan = spark.sql(s"SELECT count(*) AS c FROM colf_dv.`$dir`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates") && plan.contains("header-only"),
      s"expected metadata-only count after folding, got:\n$plan")
  }

  test("adds-only CDC and the streaming source reject DV deltas loudly") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 100).select($"id".cast("int").as("k")).coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    withMoR { spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 3") }
    // changesSinceVersion(1) spans the delete: no adds-only representation
    val e = intercept[Exception] {
      spark.read.format("colf").option("changesSinceVersion", 1).load(dir).collect()
    }
    assert(e.getMessage.contains("row-level deletes"), e.getMessage)
    // the streaming source refuses the whole table while vectors exist
    val se = intercept[Exception] {
      val q = spark.readStream.format("colf")
        .schema(spark.read.format("colf").load(dir).schema)
        .load(dir).writeStream.format("memory").queryName("dv_stream")
        .option("checkpointLocation", tmp() + "/ck").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(se.getMessage != null && se.getMessage.contains("deletion vectors") ||
      se.getCause != null, se.toString)
    // after compaction folds the vectors, both paths work again
    ColfMaintenance.compact(spark, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = ColfVersions.latestVersion(fs, root).get
    assert(spark.read.format("colf").option("changesSinceVersion", v).load(dir).count() == 0)
  }

  test("vacuum reclaims superseded vectors, keeps referenced ones") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 100).select($"id".cast("int").as("k")).coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    withMoR {
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 1") // v2: dv A
      spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 2") // v3: dv B (A superseded)
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // task partials are cleaned eagerly: only the two published vectors remain
    assert(ColfDeletes.listDvFiles(fs, root).size == 2)
    val (_, pruned) = ColfMaintenance.vacuumVersions(spark, dir, retainLast = 1, graceMs = 0)
    assert(pruned == 2)
    // v3's vector survives, superseded/orphaned ones are gone
    val left = ColfDeletes.listDvFiles(fs, root).map(st => s"${ColfDeletes.DeletesDir}/${st.getPath.getName}")
    assert(left.toSet == dvEntries(dir).map(_.dv).toSet)
    assert(spark.read.format("colf").load(dir).count() == 98)
  }

  test("copy-on-write stays the default: same DELETE rewrites the touched file") {
    registerCatalog()
    val dir = tmp()
    spark.range(0, 100).select($"id".cast("int").as("k")).coalesce(1)
      .write.format("colf").option("manifest", "true").mode("append").save(dir)
    val before = colfFiles(dir)
    spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 5") // no MoR conf set
    val after = colfFiles(dir)
    assert(before.keySet.forall(p => !after.contains(p) || after(p) != before(p)) ||
      after.keySet != before.keySet,
      "copy-on-write DELETE must rewrite the touched file")
    assert(dvEntries(dir).isEmpty)
    assert(spark.read.format("colf").load(dir).count() == 99)
  }

  test("merge-on-read on an unversioned table fails with guidance") {
    registerCatalog()
    val dir = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.format("colf").mode("append").save(dir)
    val e = intercept[Exception] {
      withMoR { spark.sql(s"DELETE FROM colf_dv.`$dir` WHERE k = 1") }
    }
    assert(e.getMessage.contains("VERSIONED") || e.getMessage.contains("versioned"),
      e.getMessage)
  }
}
