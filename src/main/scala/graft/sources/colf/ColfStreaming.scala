package graft.sources.colf

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Stream position over an append-only .colf directory: everything at or
  * before `mtime` is consumed — except that files SHARING the boundary
  * millisecond are tracked by name (`names`), so two files committed in
  * the same clock tick can straddle a batch boundary without loss or
  * duplication. Serialized into the checkpoint as JSON.
  */
case class ColfSourceOffset(mtime: Long, names: Seq[String]) extends Offset {
  override def json(): String = {
    val quoted = names.map(ColfSchema.quote).mkString("[", ",", "]")
    s"""{"mtime":$mtime,"names":$quoted}"""
  }
}

object ColfSourceOffset {
  private val mapper = new ObjectMapper()
  val Initial: ColfSourceOffset = ColfSourceOffset(Long.MinValue, Nil)

  def fromJson(json: String): ColfSourceOffset = {
    val root = mapper.readTree(json)
    val names = root.get("names")
    ColfSourceOffset(root.get("mtime").asLong(),
      (0 until names.size()).map(names.get(_).asText()))
  }
}

/** Micro-batch streaming SOURCE over a colf directory
  * (`readStream.format("colf")`).
  *
  * Contract: the directory is APPEND-ONLY — files become visible by
  * atomic rename with a fresh name and a then-current mtime (exactly what
  * both our batch writer and streaming sink produce). Each micro batch is
  * "files that appeared since the last offset", discovered by directory
  * listing; a file is read exactly once. Rewriting a file in place (a
  * newer mtime under an old name) violates the contract and would
  * re-emit it.
  *
  * Pushed stats filters prune each batch's files the same way batch scans
  * prune (`ColfPrune`); readers are the same zero-copy columnar readers.
  */
class ColfMicroBatchStream(paths: Seq[String], required: StructType,
    mergeSchema: Boolean, filters: Seq[Filter], conf: Configuration,
    maxFilesPerTrigger: Option[Int] = None, maxRowsPerTrigger: Option[Long] = None,
    absorbed: Seq[Filter] = Seq.empty, fullSchema: StructType = StructType(Nil))
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow snapshot: batches drain up to the files present
    * when the trigger fired (in capped increments), then the query stops —
    * later arrivals wait for the next run.
    */
  @volatile private var availableNowTarget: Option[ColfSourceOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset().asInstanceOf[ColfSourceOffset])

  override def reportLatestOffset(): Offset = latestOffset()

  /** Live view, with the merge-on-read guard: the stream's contract is
    * append-only FILES, but a deletion vector ([[ColfDeletes]]) mutates a
    * file's logical content in place — rows this stream may have already
    * emitted become deleted with no retraction to send. There is no
    * sound way to represent that in an append-only source, so ANY DV in
    * the view fails the stream loudly (even one on a not-yet-consumed
    * file: its vector could grow after consumption just as silently).
    * Fold deletes away with compaction, or diff snapshots in batch
    * ([[ColfMaintenance.diffVersions]] emits added/removed rows).
    */
  private def list(): Seq[ColfFileRef] = {
    val refs = ColfUtil.resolveFileRefs(paths, conf)
    val dvd = refs.filter(_.dvPath != null)
    if (dvd.nonEmpty)
      throw new IllegalStateException(
        s"colf stream: ${paths.mkString(",")} carries deletion vectors on " +
          s"${dvd.length} file(s) (merge-on-read DML ran against it) — an " +
          "append-only stream cannot retract already-emitted rows. Stream " +
          "with option(\"readChangeFeed\",\"true\") to receive inserts AND " +
          "deletes, compact the table to fold the vectors, or use " +
          "ColfMaintenance.diffVersions for batch change capture")
    refs
  }

  /** Strictly after `o`: a later millisecond, or an unseen name within
    * the boundary millisecond. Boundary names are probed as a Set — a
    * capped catch-up through one large same-mtime cohort (coarse-mtime
    * filesystems) makes the boundary list as large as the cohort, and a
    * linear `contains` per listed file would go quadratic on the driver.
    * The offset itself shrinks back to the new boundary's files as soon
    * as the stream crosses into a later millisecond.
    */
  private def isAfter(r: ColfFileRef, o: ColfSourceOffset, names: Set[String]): Boolean =
    r.mtime > o.mtime || (r.mtime == o.mtime && !names.contains(r.path))

  override def initialOffset(): Offset = ColfSourceOffset.Initial

  override def latestOffset(): Offset = {
    val refs = list()
    if (refs.isEmpty) ColfSourceOffset.Initial
    else {
      val maxM = refs.map(_.mtime).max
      ColfSourceOffset(maxM, refs.filter(_.mtime == maxM).map(_.path))
    }
  }

  /** Admission control (`option("maxFilesPerTrigger", n)` /
    * `option("maxRowsPerTrigger", n)`): cap each micro batch. Without a
    * cap, a stream started against a year of backlog ingests the WHOLE
    * directory as one batch — caps turn catch-up into bounded,
    * checkpointed increments. The row cap admits whole files until their
    * header row counts reach n (headers are free via the cache — the
    * format makes row-based rate control exact without opening data
    * blocks). Files admit in (mtime, path) order; when the cut lands
    * inside a boundary millisecond, the offset's name list keeps the
    * already-covered files so the remainder (and only the remainder)
    * admits next batch.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxRowsPerTrigger.map(ReadLimit.maxRows).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Most-restrictive prefix of `fresh` under the limit (whole files;
    * always ≥1 file when any is available so the stream progresses).
    */
  private def admit(fresh: Seq[ColfFileRef], limit: ReadLimit): Seq[ColfFileRef] = limit match {
    case m: ReadMaxFiles => fresh.take(m.maxFiles())
    case m: ReadMaxRows =>
      // row counts come from the manifest when recorded (zero I/O — the
      // versioned-table stream never opens a header to admit); otherwise
      // headers fetch in parallel CHUNKS ahead of the row-count walk — a
      // cold-cache catch-up admitting ~1000 files must not serialize one
      // blocking header RPC at a time on the driver
      val taken = Seq.newBuilder[ColfFileRef]
      var acc = 0L
      var n = 0
      var i = 0
      while (i < fresh.length && acc < m.maxRows()) {
        val chunk = fresh.slice(i, math.min(i + 64, fresh.length))
        val headers = ColfHeaderCache.getAllPlanning(chunk, conf)
        var j = 0
        while (j < chunk.length && acc < m.maxRows()) {
          taken += chunk(j); n += 1
          acc += headers(j).schema.numRows
          j += 1
        }
        i += chunk.length
      }
      if (n == 0) fresh.take(1) else taken.result()
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(fresh)((acc, l) => admit(acc, l))
    case _ => fresh
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ColfSourceOffset]
    val sNames = s.names.toSet
    val fresh0 = list().filter(isAfter(_, s, sNames))
    val fresh = (availableNowTarget match {
      case Some(t) =>
        val tNames = t.names.toSet
        fresh0.filter(r => !isAfter(r, t, tNames))
      case None => fresh0
    }).sortBy(r => (r.mtime, r.path))
    val admitted = admit(fresh, limit)
    if (admitted.isEmpty) s
    else {
      val maxM = admitted.last.mtime
      val atBoundary = admitted.filter(_.mtime == maxM).map(_.path)
      val carried = if (maxM == s.mtime) s.names ++ atBoundary else atBoundary
      ColfSourceOffset(maxM, carried)
    }
  }

  override def deserializeOffset(json: String): Offset = ColfSourceOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ColfSourceOffset]
    val e = end.asInstanceOf[ColfSourceOffset]
    val sNames = s.names.toSet
    val eNames = e.names.toSet
    val batch0 = list().filter(r => isAfter(r, s, sNames) && !isAfter(r, e, eNames))
    // Absorbed partition filters are not re-evaluated by Spark, so their
    // file-level application must be exact — undecidable fails loudly
    // (see ColfScan.absorbedRefs; new files must keep the layout shape).
    val batch =
      if (absorbed.isEmpty) batch0
      else batch0.filter { r =>
        val tv = ColfUtil.typedPartValues(r, fullSchema)
        absorbed.forall(f => ColfPartitions.evalExact(tv, f).getOrElse(
          throw new IllegalStateException(
            s"colf stream: absorbed partition filter $f undecidable for ${r.path}")))
      }
    val pruned =
      if (filters.isEmpty) batch
      else ColfPrune.pruneRefs(batch, filters, conf) // manifest-first tiering
    ColfUtil.binPack(pruned)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ColfPartitionReaderFactory(required, mergeSchema, new SerializableConfiguration(conf),
      fileMetaEnabled = !fullSchema.fieldNames.contains(ColfUtil.FileMetaCol),
      posMetaEnabled = !fullSchema.fieldNames.contains(ColfUtil.PosMetaCol))

  override def commit(end: Offset): Unit = () // nothing to clean up
  override def stop(): Unit = ()
}

/** Change-feed stream position: the last fully-consumed manifest
  * VERSION (0 = nothing consumed).
  */
case class ColfCdfOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

object ColfCdfOffset {
  private val mapper = new ObjectMapper()
  def fromJson(json: String): ColfCdfOffset =
    ColfCdfOffset(mapper.readTree(json).get("version").asLong())
}

/** Streaming CHANGE FEED over a versioned colf table
  * (`readStream.format("colf").option("readChangeFeed", "true")`):
  * each micro batch emits the ROW-LEVEL changes of one or more manifest
  * versions, every row tagged with `_change_type` ('insert' | 'delete')
  * and `_commit_version` — the streaming CDC surface that the
  * append-only source cannot provide once merge-on-read DML runs
  * (its contract rejects deletion vectors loudly; this source is the
  * escape hatch it points to).
  *
  * Offsets are manifest versions — exact, replayable, and shared with
  * time travel — so a checkpointed restart resumes at the next
  * unconsumed commit. Per version, the file-level manifest diff maps to
  * row changes with NO join and no shuffle:
  *
  *  - added files → their live rows as inserts (the entry's own DV
  *    applied — a file added and vectored in the same commit delivers
  *    exactly its surviving rows);
  *  - removed files → their previously-live rows as deletes (the PRIOR
  *    version's DV applied: rows already deleted are not re-retracted);
  *  - same-path entries whose DV GREW → exactly the newly-masked
  *    ordinals as deletes: the reader's row selection is the new vector
  *    minus the prior one ([[ColfInputPartition.emitOnlyDeleted]]);
  *  - same-path entries whose bytes changed (size/mtime — an epoch
  *    replay's idempotent rewrite) → old rows deleted, new inserted.
  *
  * DDL-only commits (schema changes, property flips) change no entries
  * and emit nothing. Vacuumed-away versions fail loudly (the manifest
  * read names what survives) — a stream lagging past the retention
  * window must not silently skip changes. Version numbers are capped to
  * Int range by the int32 column lattice; `startingVersion` (default 1)
  * begins the feed later.
  */
class ColfChangeFeedStream(path: String, required: StructType,
    conf: Configuration, startingVersion: Long = 1L,
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val root = new org.apache.hadoop.fs.Path(path)
  private def fs = root.getFileSystem(conf)

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestVersion())

  private def latestVersion(): Long =
    ColfVersions.latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"colf: readChangeFeed requires a VERSIONED table, but $path has " +
          "no manifests — write with option(\"manifest\",\"true\") or " +
          "CALL <catalog>.enable_versioning first"))

  override def initialOffset(): Offset = ColfCdfOffset(startingVersion - 1)

  override def latestOffset(): Offset = ColfCdfOffset(latestVersion())

  override def reportLatestOffset(): Offset = latestOffset()

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Admit whole versions; `maxFilesPerTrigger` caps the batch by the
    * cumulative CHANGED-file count (always ≥ 1 version, so the stream
    * progresses even past a wide commit).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ColfCdfOffset].version
    val target = availableNowTarget.getOrElse(latestVersion())
    if (target <= s) return ColfCdfOffset(s)
    val cap = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _               => Int.MaxValue
    }
    var v = s
    var files = 0
    while (v < target && (files == 0 || files < cap)) {
      v += 1
      files += changedFiles(v)
    }
    ColfCdfOffset(v)
  }

  /** Number of entries that differ between v-1 and v (admission cost). */
  private def changedFiles(v: Long): Int = {
    val prev = entriesOf(v - 1)
    val cur = entriesOf(v)
    val prevBy = prev.map(e => e.relPath -> e).toMap
    val curBy = cur.map(e => e.relPath -> e).toMap
    cur.count(e => !prevBy.get(e.relPath).contains(e)) +
      prev.count(e => !curBy.contains(e.relPath))
  }

  private def entriesOf(v: Long): Seq[ColfVersions.Entry] =
    if (v < 1) Seq.empty else ColfVersions.read(fs, root, v)

  override def deserializeOffset(json: String): Offset = ColfCdfOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ColfCdfOffset].version
    val e = end.asInstanceOf[ColfCdfOffset].version
    val parts = Array.newBuilder[InputPartition]
    var v = s + 1
    while (v <= e) {
      require(v <= Int.MaxValue, s"colf: change-feed version $v exceeds int32")
      val prev = entriesOf(v - 1).map(e => e.relPath -> e).toMap
      val cur = entriesOf(v).map(e => e.relPath -> e).toMap

      def refsOf(es: Seq[ColfVersions.Entry]): Seq[ColfFileRef] =
        ColfVersions.toRefs(fs, root, es)
      def tagged(r: ColfFileRef, tpe: String): Map[String, String] =
        r.partValues ++ Map(
          ColfChangeFeedStream.ChangeTypeCol -> tpe,
          ColfChangeFeedStream.CommitVersionCol -> v.toString)

      // inserts: files new in v (their own DV applied)
      val added = refsOf(cur.collect {
        case (rel, e) if !prev.contains(rel) => e }.toSeq)
      if (added.nonEmpty)
        parts += ColfInputPartition(added.map(_.path),
          added.map(tagged(_, "insert")), added.map(_.dvPath))
      // deletes: files gone in v (retract what was LIVE at v-1)
      val removed = refsOf(prev.collect {
        case (rel, e) if !cur.contains(rel) => e }.toSeq)
      if (removed.nonEmpty)
        parts += ColfInputPartition(removed.map(_.path),
          removed.map(tagged(_, "delete")), removed.map(_.dvPath))
      // same path, changed entry
      val common = cur.keySet.intersect(prev.keySet).toSeq.sorted
      val replacedRel = common.filter { rel =>
        val (p, c) = (prev(rel), cur(rel))
        p.size != c.size || p.mtime != c.mtime
      }
      val dvGrewRel = common.filterNot(replacedRel.contains).filter { rel =>
        prev(rel).dv != cur(rel).dv
      }
      if (replacedRel.nonEmpty) {
        val olds = refsOf(replacedRel.map(prev(_)))
        val news = refsOf(replacedRel.map(cur(_)))
        parts += ColfInputPartition(olds.map(_.path),
          olds.map(tagged(_, "delete")), olds.map(_.dvPath))
        parts += ColfInputPartition(news.map(_.path),
          news.map(tagged(_, "insert")), news.map(_.dvPath))
      }
      if (dvGrewRel.nonEmpty) {
        val news = refsOf(dvGrewRel.map(cur(_)))
        val priors = dvGrewRel.map(rel => refsOf(Seq(prev(rel))).head.dvPath)
        parts += ColfInputPartition(news.map(_.path),
          news.map(tagged(_, "delete")), news.map(_.dvPath),
          emitOnlyDeleted = true, priorDvs = priors)
      }
      v += 1
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ColfPartitionReaderFactory(required, missingAsNull = true,
      new SerializableConfiguration(conf),
      fileMetaEnabled = !required.fieldNames.contains(ColfUtil.FileMetaCol),
      posMetaEnabled = !required.fieldNames.contains(ColfUtil.PosMetaCol))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object ColfChangeFeedStream {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
}
