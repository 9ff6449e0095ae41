package graft.sources.colf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** Directory maintenance for colf tables. The streaming sink emits one
  * part file per epoch per partition — exactly the small-file accretion
  * pattern that, left alone, turns a year-old table into 10⁶ tiny files
  * whose per-file open/seek overhead dwarfs the data. Compaction rewrites
  * the directory into files sized near the write-side rolling cap.
  */
object ColfMaintenance {

  /** Remove orphaned write temps (`.*-<queryId>-*.colf.tmp`) left by a
    * hard driver kill — the one crash the rename-first commit protocol
    * cannot self-clean (task/job abort handles every softer failure).
    * Temps are invisible to readers (dot-prefixed), so this is hygiene,
    * not correctness — but at 10⁵ part files a year of kill -9s is real
    * storage. `graceMs` protects IN-FLIGHT writes: a temp younger than
    * the grace window may belong to a running job and is left alone
    * (default 24 h — no sane single write runs longer). Returns
    * (tempsSeen, tempsDeleted). Idempotent; safe to run concurrently
    * with writers given an honest grace window.
    */
  def vacuum(spark: SparkSession, dir: String,
      graceMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return (0, 0)
    val cutoff = System.currentTimeMillis() - graceMs
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val (dirs, files) = fs.listStatus(p).toSeq.partition(_.isDirectory)
      files ++ dirs.flatMap(d => walk(d.getPath))
    }
    val temps = walk(root).filter { st =>
      val n = st.getPath.getName
      n.startsWith(".") && n.endsWith(".colf.tmp")
    }
    val stale = temps.filter(_.getModificationTime < cutoff)
    ColfHeaderCache.mapParallel(stale)(st => fs.delete(st.getPath, false))
    (temps.length, stale.length)
  }

  /** Rewrite `dir` into ~`targetBytes`-sized part files (compressed size
    * basis; the writer's own rolling caps still bound each file). A
    * hive-partitioned table compacts per partition directory — the
    * `k=v` layout is preserved, and `sortBy` re-clusters WITHIN each
    * partition (name file columns, not partition columns).
    *
    * Do NOT compact a directory a streaming SOURCE is tailing: the
    * compacted files are new names with new mtimes, so a tailing reader
    * would re-ingest the rewritten data (the source's append-only
    * contract, [[ColfMicroBatchStream]]). Compact downstream tables, or
    * pause the consumer across the rewrite.
    *
    * Concurrent-writer safe: the rewrite reads EXACTLY the files listed
    * up front (by explicit path, not a re-listing), so a file appended
    * mid-compaction is neither copied nor deleted — it simply waits for
    * the next compaction. Data is never LOST: new files land (append
    * mode, fresh query-id names) before any old file is deleted. The
    * remaining crash window is between write commit and the deletes: old
    * and new copies coexist then, and without a manifest a re-run cannot
    * tell them apart — DUPLICATE rows persist until one set is removed
    * (the new files share one query id, making manual repair
    * unambiguous). Accept that window or front a manifest-based table
    * format.
    *
    * @param sortBy optional re-clustering: the rewrite range-partitions +
    *               sorts on these columns (the writer's `sortBy` path), so
    *               compaction doubles as layout OPTIMIZE — compacted files
    *               get tight disjoint min/max stats and pruning starts
    *               biting on a table whose original write order had none.
    * @return (filesBefore, filesAfter)
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = ColfWrite.DefaultMaxBytesPerFile,
      sortBy: Seq[String] = Seq.empty): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val conf = ColfUtil.driverHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // Versioned tables compact a PINNED snapshot (the latest version at
    // entry): every group read below plans from that one manifest, so a
    // concurrent commit landing mid-compaction can neither leak its new
    // files into the rewrite nor change what the final diff removes.
    // Pinned reads also carry the snapshot's DELETION VECTORS, and the
    // scan applies them — compaction is the operation that FOLDS
    // merge-on-read deletes back into clean files (outputs get no dv),
    // so it must run even for a single-file table that carries one.
    val pinned: Option[(Long, Seq[ColfVersions.Entry])] = ColfVersions.latest(fs, root)
    val before = pinned match {
      case Some((_, entries)) => ColfVersions.toRefs(fs, root, entries)
      case None               => ColfUtil.resolveFileRefs(Seq(dir), conf)
    }
    if (before.lengthCompare(1) <= 0 && sortBy.isEmpty &&
        before.forall(_.dvPath == null))
      return (before.length, before.length)

    // Hive-partitioned tables compact PER PARTITION DIRECTORY: each
    // group's files are read exactly (explicit paths on unversioned
    // tables; a pinned `_file IN (...)` selection on versioned ones —
    // which the scan prunes to exactly those files, zero value-semantics
    // traps), rewritten into that same directory, so the layout readers
    // partition-prune on is preserved byte-for-byte. This is also the
    // scale-correct granularity — partition-local I/O, bounded rewrite
    // working set, and sortBy clusters WITHIN a partition where stats
    // pruning actually bites. An unpartitioned table is the single group
    // rooted at `dir`, the previous behavior exactly.
    val partCols = ColfPartitions.partitionCols(before)
    val groups = before.groupBy(r => new Path(r.path).getParent.toString)
    // The rewrite reads through a session copy whose scans stay packed
    // (minPartitionNum = 1), as a copy-on-write rewrite scan does: the
    // read's partitions are concatenated into the output files, so a scan
    // spread over the cores would make a compacted file's row order, and
    // its bytes, depend on the session's core count.
    val packed = GraftSqlBridge.cloneSession(spark)
    packed.conf.set("spark.sql.files.minPartitionNum", "1")
    def writeGroups(skipManifest: Boolean): Unit = groups.foreach {
      case (parent, refs) =>
        val bytes = refs.map(_.size).sum
        val nParts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        // mergeSchema: a directory that evolved columns over time
        // compacts to the UNION schema (older rows null-extended).
        // Without it the first file's schema would silently drop
        // later-added columns — and the delete below would make that
        // loss permanent. Type conflicts fail loudly before anything is
        // written or deleted.
        val df = pinned match {
          case Some((v, _)) =>
            // pinned manifest read: DVs applied, file set immutable; the
            // partition columns it surfaces are dropped again because the
            // write target IS the partition directory
            import org.apache.spark.sql.functions.col
            val full = packed.read.format("colf")
              .option("versionAsOf", v).option("mergeSchema", "true").load(dir)
              .where(col(ColfUtil.FileMetaCol).isin(refs.map(_.path): _*))
            if (partCols.isEmpty) full else full.drop(partCols: _*)
          case None =>
            packed.read.format("colf").option("mergeSchema", "true")
              .load(refs.map(_.path): _*)
        }
        val w0 =
          if (sortBy.nonEmpty)
            df.write.format("colf")
              .option("sortBy", sortBy.mkString(","))
              .option("numFiles", nParts)
          else df.coalesce(nParts).write.format("colf")
        val w = if (skipManifest) w0.option("__skipManifest", "true") else w0
        w.mode("append").save(parent)
    }

    if (pinned.isDefined) {
      // Versioned table: ONE atomic manifest flip — the rewrite's append
      // suppresses its own manifest (__skipManifest) so no reader ever
      // sees the transient old∪new duplicate state, then the compaction
      // publishes (previous − inputs) ∪ outputs as the next version.
      // Inputs stay on disk backing earlier versions (vacuumVersions
      // reclaims); the crash window the unversioned path documents
      // (duplicates between write commit and the deletes) is GONE — a
      // crash before the manifest append leaves invisible new files only.
      val diskBefore = ColfVersions.listDataFiles(fs, root).map(_.relPath).toSet
      writeGroups(skipManifest = true)
      // compacted outputs are found by disk diff (their write suppressed
      // its manifest), so their schemas come from a bounded header sweep
      // of just those new files — keeping the manifest fully recorded
      val newEntries = ColfVersions.withSchemas(fs, root,
        ColfVersions.listDataFiles(fs, root)
          .filterNot(e => diskBefore.contains(e.relPath)), conf)
      val beforeRel = before.map(r =>
        ColfVersions.relativize(fs, root, new Path(r.path))).toSet
      ColfVersions.append(fs, root, op = "compact", compute = { basis =>
        val prev = basis.map(_._2).getOrElse(Seq.empty)
        // a concurrent append's files show up BOTH in the disk diff and
        // in the basis manifest — keep the basis copy only, or the
        // published manifest would list (and scans would read) them twice
        val prevPaths = prev.map(_.relPath).toSet
        prev.filterNot(e => beforeRel(e.relPath)) ++
          newEntries.filterNot(e => prevPaths(e.relPath))
      })
    } else {
      writeGroups(skipManifest = false)
      before.foreach { r =>
        if (!fs.delete(new Path(r.path), false))
          throw new java.io.IOException(s"compact: failed to delete ${r.path}")
      }
    }
    (before.length, ColfUtil.resolveFileRefs(Seq(dir), conf).length)
  }

  /** Turn snapshot versioning ON for an existing table: v1 = the current
    * listing. From here every connector commit appends the next version
    * (see [[ColfVersions]]); pass `option("manifest", "true")` on a first
    * WRITE to enable at creation instead. Returns the created version.
    */
  def enableVersioning(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    require(!ColfVersions.enabled(fs, root), s"colf: $dir is already versioned")
    // one-time header sweep: v1 records every file's schema, so all later
    // resolutions of this table are manifest-only
    ColfVersions.append(fs, root, _ =>
      ColfVersions.withSchemas(fs, root, ColfVersions.listDataFiles(fs, root), conf),
      op = "enable_versioning")
  }

  /** Rewrite the latest version's METADATA into fresh segments — fold
    * every tombstone away, drop references to partially-dead segments,
    * re-dictionary the schemas — without touching a single data file.
    * The manifest analogue of compaction: long DML histories accumulate
    * tombstone debt below the per-segment rewrite ratio, and this clears
    * all of it in one O(live entries) commit. Old segments stay on disk
    * backing earlier versions until [[vacuumVersions]]. Publishes one
    * new version with byte-identical table CONTENT; returns it.
    */
  def rewriteManifests(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(ColfVersions.enabled(fs, root),
      s"colf: $dir is not a versioned table — nothing to rewrite")
    ColfVersions.append(fs, root,
      basis => basis.map(_._2).getOrElse(Seq.empty), freshSegments = true,
      op = "rewrite_manifests")
  }

  /** Row-level snapshot diff of a versioned table: what changed between
    * version `from` and version `to` (default: latest)? Returns the full
    * rows tagged `added` / `removed` — multiset semantics via
    * `exceptAll`, so duplicate-row count changes surface too. The "what
    * did yesterday's ingest actually change" audit: both sides are
    * manifest-planned scans, the diff is two hash-partitioned anti
    * joins, and for append-only histories the `added` side reduces to
    * the [[ColfVersions]] file delta (`changesSinceVersion`) without
    * scanning the overlap.
    */
  def diffVersions(spark: SparkSession, dir: String, from: Long,
      to: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val older = spark.read.format("colf").option("versionAsOf", from).load(dir)
    val newer = to match {
      case Some(v) => spark.read.format("colf").option("versionAsOf", v).load(dir)
      case None    => spark.read.format("colf").load(dir)
    }
    newer.exceptAll(older).withColumn("change", lit("added"))
      .unionByName(older.exceptAll(newer).withColumn("change", lit("removed")))
  }

  /** Reclaim versioned-table storage: keep the last `retainLast`
    * versions, delete every manifest before them and every data file
    * referenced ONLY by them. The latest version's files are always
    * retained (retainLast >= 1), so readers of current data are never
    * disturbed; readers pinned (`versionAsOf`) to a pruned version fail
    * loudly on their next planning pass rather than reading holes.
    *
    * `graceMs` protects IN-FLIGHT commits, exactly like [[vacuum]]'s
    * temp sweep: a data file younger than the window may belong to a
    * commit that has renamed its files into place but not yet appended
    * its manifest (or to compaction's __skipManifest rewrite) — it is
    * referenced by NO manifest yet, and deleting it would corrupt the
    * version that commit is about to publish. Returns
    * (dataFilesDeleted, versionsPruned). Idempotent; safe to run
    * concurrently with writers given an honest grace window.
    *
    * `olderThanMillis` adds TIME-based retention, the idiom operations
    * teams actually express ("expire snapshots older than 30 days"): a
    * version is pruned only if its commit time ([[ColfVersions.commitTime]]
    * — embedded ts, mtime fallback) is before the cutoff AND it falls
    * outside the `retainLast` tail — the two protections are a union, so
    * the default `Long.MaxValue` cutoff ("any age is prunable") keeps
    * the count-only behavior, and `retainLast = 1` with a cutoff gives
    * pure time-based expiry with the latest version always surviving.
    */
  def vacuumVersions(spark: SparkSession, dir: String, retainLast: Int = 2,
      graceMs: Long = 24L * 3600 * 1000,
      olderThanMillis: Long = Long.MaxValue): (Int, Int) = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = ColfVersions.listVersions(fs, root)
    if (versions.isEmpty) return (0, 0)
    val cutoff = System.currentTimeMillis() - graceMs
    val (byCount, tail) = versions.splitAt(math.max(0, versions.length - retainLast))
    val (pruned, protectedByAge) =
      byCount.partition(v => ColfVersions.commitTime(fs, root, v) < olderThanMillis)
    val retained = (protectedByAge ++ tail).sorted
    val retainedEntries = retained.flatMap(v => ColfVersions.read(fs, root, v))
    val referenced = retainedEntries.map(_.relPath).toSet
    // Manifests BEFORE data files: a crash between the two phases must
    // leave only re-vacuumable garbage. Deleting data first would let a
    // crash strand pruned manifests that reference deleted files — a
    // versionAsOf reader of one would then fail MID-SCAN on a missing
    // file instead of at planning with the clear "version does not
    // exist" error. Orphaned data files (manifests gone, data still
    // present) are invisible to every reader and swept by the next run.
    // Segments referenced by the RETAINED versions must survive; resolve
    // this before deleting any version file so a crash mid-prune can only
    // strand re-vacuumable orphans, never break a retained version.
    val refSegs = retained.flatMap(v => ColfVersions.segmentNames(fs, root, v)).toSet
    // deletion vectors referenced by any retained version must survive;
    // the rest (superseded merged vectors, task partials from failed or
    // finished commits) are unreferenced scratch once their versions go
    val refDvs = retainedEntries.flatMap(e => Option(e.dv)).toSet
    pruned.foreach { v =>
      fs.delete(new Path(new Path(root, ColfVersions.VersionsDir), f"v$v%012d.json"), false)
    }
    val dvStale = ColfDeletes.listDvFiles(fs, root).filter { st =>
      !refDvs.contains(s"${ColfDeletes.DeletesDir}/${st.getPath.getName}") &&
        st.getModificationTime < cutoff
    }
    ColfHeaderCache.mapParallel(dvStale)(st => fs.delete(st.getPath, false))
    // Orphaned segments: unreferenced by any remaining version file —
    // pruned versions' exclusive segments and failed-claim leftovers. The
    // grace window keeps an in-flight commit's just-written segments safe
    // (they become referenced the moment its version file publishes).
    val vp = new Path(root, ColfVersions.VersionsDir)
    if (fs.exists(vp)) fs.listStatus(vp).toSeq.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("seg-") && n.endsWith(".json") && !refSegs.contains(n) &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }
    val stale = ColfVersions.listDataFiles(fs, root)
      .filterNot(e => referenced.contains(e.relPath))
      .filter(_.mtime < cutoff)
    ColfHeaderCache.mapParallel(stale)(e => fs.delete(new Path(root, e.relPath), false))
    (stale.length, pruned.length)
  }
}
