package graft.sources.colf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** DSv2 write path: each task buffers columns and emits part files. The
  * format's header carries absolute block offsets and precedes all data
  * (SPEC.md:14,21), so sizes must be known before the first data byte —
  * hence buffer-then-write, exactly the constraint the reference writer
  * works under (writer.py:174-210). A directory of part files is the
  * scale-out layout; the reader unions them (one InputPartition each).
  *
  * Rolling files: a task rolls to a new part file every `maxRowsPerFile`
  * rows (write option, default 8M). The format has no row groups — a file
  * is the unit of both decompression and read parallelism, and u64 block /
  * u32 string-offset limits cap a single file — so bounding rows per file
  * is what keeps a 1000-task, multi-TB write inside the format's limits
  * and keeps read-side parallelism proportional to data size.
  *
  * Commit protocol (crash-safe):
  *  - tasks write to dot-prefixed temp names (the reader skips `.`/`_`
  *    prefixes), embedding the query id + partition + file seq + task id so
  *    two concurrent/successive writes can never collide — and create with
  *    overwrite=false so an unexpected collision fails loudly;
  *  - job commit renames every temp to its final
  *    `part-<pid>-<seq>-<queryId>.colf` name FIRST, and only then applies
  *    the deferred truncate (mode=overwrite), deleting old files not part
  *    of this write. A failure before job commit leaves only invisible
  *    temps (old data intact); a crash MID-commit leaves a SUPERSET —
  *    old files plus some new — never a partial loss: nothing is deleted
  *    until every new file is in place, and re-running the overwrite
  *    converges;
  *  - task abort deletes that task's temps; job abort deletes all temps.
  */
class ColfWriteBuilder(paths: Seq[String], info: LogicalWriteInfo,
    defaultPartitionBy: Seq[String] = Seq.empty,
    names: ColfNames = ColfNames.Identity)
    extends WriteBuilder with SupportsTruncate
    with SupportsOverwrite with SupportsDynamicOverwrite {
  // NAME DOMAINS ([[ColfNames]]): everything here — the write schema,
  // sortBy/partitionBy options, overwrite filters — arrives LOGICAL;
  // [[build]] hands [[ColfWrite]] the PHYSICAL schema/columns/filters
  // (what files and partition directories store) plus the logical
  // partition/sort columns for the distribution API, which Spark
  // resolves against the INSERT query's (logical) output.
  private var truncateMode = false
  private var overwriteFilters: Seq[Filter] = Seq.empty
  private var dynamicMode = false

  override def truncate(): WriteBuilder = { truncateMode = true; this }

  /** Filter-based INSERT OVERWRITE (the static `PARTITION (k=v)` SQL spec
    * arrives here as equality filters). All-`AlwaysTrue` degenerates to
    * truncate; anything else is validated in [[build]] against the
    * partition layout — replacement happens at file granularity, so only
    * conditions that whole partition directories provably satisfy are
    * accepted.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncateMode = true
    else overwriteFilters = filters.toSeq
    this
  }

  /** Dynamic partition overwrite: replace exactly the partitions the new
    * data writes into, leave every other partition untouched — the
    * idempotent re-ingestion mode ("recompute day X") at any scale.
    */
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamicMode = true; this }

  override def build(): Write = {
    require(paths.size == 1, s"colf write requires exactly one output path, got $paths")
    // Validate schema and options up front — fail at planning, not mid-job.
    ColfUtil.colfFields(info.schema())
    val maxRows = Option(info.options.get("maxRowsPerFile")).map(_.toInt)
      .getOrElse(ColfWrite.DefaultMaxRowsPerFile)
    require(maxRows > 0, s"maxRowsPerFile must be positive, got $maxRows")
    val level = Option(info.options.get("compressionLevel")).map(_.toInt)
      .getOrElse(ColfCodec.DefaultCompressionLevel)
    require(level >= 1 && level <= 9, s"compressionLevel must be in 1..9, got $level")
    val maxBytes = Option(info.options.get("maxBytesPerFile")).map(_.toLong)
      .getOrElse(ColfWrite.DefaultMaxBytesPerFile)
    require(maxBytes > 0, s"maxBytesPerFile must be positive, got $maxBytes")
    // option("sortBy", "a,b"): cluster the write on these columns so each
    // part file covers a tight value range (resolved case-insensitively,
    // validated at planning).
    val sortBy = Option(info.options.get("sortBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map { c =>
        info.schema().fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"colf sortBy column '$c' not in schema ${info.schema().fieldNames.mkString(", ")}"))
      }
    val targetBytes = Option(info.options.get("targetPartitionBytes")).map(_.toLong)
      .getOrElse(0L)
    require(targetBytes >= 0, s"targetPartitionBytes must be >= 0, got $targetBytes")
    val numFiles = Option(info.options.get("numFiles")).map(_.toInt).getOrElse(0)
    require(numFiles >= 0, s"numFiles must be >= 0, got $numFiles")
    require(numFiles == 0 || targetBytes == 0L,
      "colf: numFiles and targetPartitionBytes are mutually exclusive " +
        "(exact partition count vs advisory sizing)")
    // option("partitionBy", "a,b"): hive-layout partitioned write — values
    // become k=v path segments (and are NOT stored in the files), so reads
    // partition-prune with zero I/O.
    val partitionBy = (Option(info.options.get("partitionBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)) match {
        case Seq() => defaultPartitionBy // DDL INSERTs: the table's layout
        case opt   => opt
      })
      .map { c =>
        info.schema().fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"colf partitionBy column '$c' not in schema " +
              info.schema().fieldNames.mkString(", ")))
      }
    require(partitionBy.intersect(sortBy).isEmpty,
      "colf: a column cannot be in both partitionBy and sortBy")
    require(partitionBy.size < info.schema().size,
      "colf: partitionBy cannot cover every column (files would be empty)")
    require(numFiles == 0 || sortBy.nonEmpty || partitionBy.nonEmpty,
      "colf: numFiles requires sortBy or partitionBy (it sizes the clustering exchange)")
    // Filter/dynamic overwrite replace whole FILES, so they are sound only
    // at partition granularity: conditions must cover partition columns
    // with shapes whose truth is constant per partition directory.
    if (overwriteFilters.nonEmpty || dynamicMode)
      require(partitionBy.nonEmpty,
        "colf: filter/dynamic overwrite requires a partitioned table " +
          "(option(\"partitionBy\", ...)) — file-level replacement is only " +
          "sound when every row of a replaced file matches the condition")
    def supportedShape(f: Filter): Boolean = f match {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case org.apache.spark.sql.sources.And(l, r) => supportedShape(l) && supportedShape(r)
      case org.apache.spark.sql.sources.EqualTo(a, _) => partitionBy.exists(_.equalsIgnoreCase(a))
      case org.apache.spark.sql.sources.EqualNullSafe(a, v) =>
        v != null && partitionBy.exists(_.equalsIgnoreCase(a))
      case org.apache.spark.sql.sources.In(a, _) => partitionBy.exists(_.equalsIgnoreCase(a))
      case _ => false
    }
    overwriteFilters.foreach(f => require(supportedShape(f),
      s"colf: unsupported overwrite condition $f — only equality/IN over " +
        s"partition columns (${partitionBy.mkString(", ")}) replaces files soundly"))
    // option("manifest", "true") ENABLES snapshot versioning on first use
    // (ColfVersions); once a table has manifests every later write keeps
    // them current regardless of the option. __skipManifest is internal
    // (compaction composes its own single atomic version).
    val manifestOpt = Option(info.options.get("manifest")).exists(_.toBoolean)
    val skipManifest = Option(info.options.get("__skipManifest")).exists(_.toBoolean)
    // logical → physical at the boundary; overwrite shapes (equality/IN
    // over named columns) always translate, enforced by supportedShape
    val physOverwrite = overwriteFilters.map(f => names.physFilter(f).getOrElse(
      throw new IllegalArgumentException(
        s"colf: overwrite condition $f cannot be resolved against the " +
          "table's stored column names")))
    new ColfWrite(paths.head, names.physSchema(info.schema()), info.queryId(),
      truncateMode, maxRows, maxBytes,
      level, sortBy.map(names.phys), targetBytes, numFiles,
      partitionBy.map(names.phys), physOverwrite, dynamicMode,
      manifestOpt, skipManifest,
      distPartitionBy = partitionBy, distSortBy = sortBy)
  }
}

object ColfWrite {
  /** Default rows-per-file cap — bounds decode-side allocation granularity
    * and keeps read parallelism proportional to data.
    */
  val DefaultMaxRowsPerFile: Int = 8 * 1024 * 1024

  /** Default per-file cap on BUFFERED UNCOMPRESSED BYTES (summed across
    * column builders). Rows alone cannot bound memory: a string-heavy
    * table (the normal training-corpus shape, ~KB per document) would blow
    * the 2 GiB JVM-array / u32-string-offset limits long before 8M rows.
    * 512 MiB keeps task memory modest and compressed parts in the
    * 100-250 MB sweet spot.
    */
  val DefaultMaxBytesPerFile: Long = 512L * 1024 * 1024
}

class ColfWrite(dir: String, schema: StructType, queryId: String, truncate: Boolean,
    maxRowsPerFile: Int, maxBytesPerFile: Long, compressionLevel: Int,
    sortBy: Seq[String] = Seq.empty, targetPartitionBytes: Long = 0L, numFiles: Int = 0,
    partitionBy: Seq[String] = Seq.empty, overwriteFilters: Seq[Filter] = Seq.empty,
    dynamicOverwrite: Boolean = false, manifestOpt: Boolean = false,
    skipManifest: Boolean = false,
    replaceScannedFn: () => Seq[ColfFileRef] = null,
    distPartitionBy: Seq[String] = null, distSortBy: Seq[String] = null)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite
    with RequiresDistributionAndOrdering {

  // `schema`/`sortBy`/`partitionBy`/`overwriteFilters` are PHYSICAL
  // (what files and k=v directories store); `distPartitionBy`/
  // `distSortBy` are their LOGICAL twins for requiredDistribution/
  // requiredOrdering, which Spark resolves against the (logical) query
  // output. Null twins = no renames in play (the common case).
  private val dPartitionBy: Seq[String] =
    if (distPartitionBy == null) partitionBy else distPartitionBy
  private val dSortBy: Seq[String] =
    if (distSortBy == null) sortBy else distSortBy

  override def toBatch: BatchWrite = this

  /** Write-side clustering (`option("sortBy", col)`): declare an ORDERED
    * distribution + within-partition ordering and let Spark plan the
    * range-exchange and sort (the declarative DSv2 route — AQE still gets
    * to size/coalesce the exchange; a hand-rolled repartitionByRange in
    * user code would not). Each task then receives a contiguous, sorted
    * value range, so the rolled part files carry tight, disjoint header
    * min/max stats and [[ColfPrune]] can skip files on naturally-written
    * tables — selective I/O is the format's identity (SPEC.md:55), and
    * without clustering the stats never bite on high-entropy layouts.
    * Empty `sortBy` declares nothing and the write plan is untouched.
    */
  private def asOrders(cols: Seq[String]): Array[SortOrder] =
    cols.map(c => Expressions.sort(Expressions.column(c),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  /** With `partitionBy`, tasks must also see each partition's rows as one
    * CONTIGUOUS, ordered run (partition cols lead the ordering), so the
    * writer holds builders for exactly ONE partition value at a time —
    * bounded memory no matter how many distinct values a task gets.
    */
  override def requiredDistribution(): Distribution =
    if (dPartitionBy.nonEmpty && dSortBy.isEmpty)
      Distributions.clustered(dPartitionBy.map(Expressions.column).toArray[
        org.apache.spark.sql.connector.expressions.Expression])
    else if (dPartitionBy.nonEmpty || dSortBy.nonEmpty)
      Distributions.ordered(asOrders(dPartitionBy ++ dSortBy))
    else Distributions.unspecified()

  override def requiredOrdering(): Array[SortOrder] = asOrders(dPartitionBy ++ dSortBy)

  /** Best-effort by default: Spark then plans a range REBALANCE instead of
    * a rigid exchange — AQE coalesces small partitions toward the advisory
    * size AND splits skewed ones (a hot key range stops being one
    * straggler task/file). Splitting can make two adjacent files share a
    * boundary value; min/max stats stay correct, so pruning stays sound.
    * An exact `numFiles` flips to strict: under best-effort the count is
    * only a hint and AQE would coalesce it away.
    */
  override def distributionStrictlyRequired(): Boolean = numFiles > 0

  /** option("numFiles", n): exact partition count for the clustering
    * exchange — AQE cannot coalesce an exact count, so small sorted tables
    * (where every partition sits under AQE's min-partition-size floor and
    * would merge into one file) still get n range-disjoint files. 0 (the
    * default) lets Spark/AQE pick — file count then tracks data volume,
    * not a hardcoded knob, which is the right default at scale.
    */
  override def requiredNumPartitions(): Int = numFiles

  /** option("targetPartitionBytes", n): advisory per-partition shuffle size
    * for the clustering exchange — AQE coalesces toward it, so it is the
    * file-sizing knob for sorted writes (0 = session default advisory
    * size, which targets the ~100 MB+ range appropriate at scale). Note
    * AQE's `coalescePartitions.minPartitionSize` (default 1 MiB) floors
    * the effective size — lower it in-session for sub-MiB experiments.
    */
  override def advisoryPartitionSizeInBytes(): Long = targetPartitionBytes

  /** Both parent traits default this; Scala requires one explicit pick.
    * Keep the coordinator: exactly one task attempt's files per partition
    * reach the commit message.
    */
  override def useCommitCoordinator(): Boolean = true

  /** Streaming sink (`writeStream.format("colf")`): each microbatch epoch
    * is one commit through the SAME rename-first protocol, with the epoch
    * id baked into final file names — a replayed epoch regenerates the
    * same names and overwrites its own files instead of duplicating them
    * (idempotent as long as the replay partitions identically, which
    * microbatch re-execution from a checkpoint does). `outputMode
    * complete` maps to the truncate flag: each epoch's commit replaces
    * the directory contents, deleting old files only after the new ones
    * are in place.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = this

  private def mkFactory(): ColfDataWriterFactory = {
    val conf = ColfUtil.driverHadoopConf()
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) fs.mkdirs(path)
    new ColfDataWriterFactory(dir, schema, queryId, maxRowsPerFile, maxBytesPerFile,
      compressionLevel, new org.apache.spark.util.SerializableConfiguration(conf),
      partitionBy)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    mkFactory()

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    mkFactory()

  private def doCommit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = ColfUtil.driverHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // Row-level (group-based) replacement: the files the operation's OWN
    // scan planned are the replaced groups — the write's output rows ARE
    // those files' surviving rows, so replaced must equal scanned exactly
    // (replace more and untouched rows vanish; replace less and replaced
    // rows resurrect). A commit whose scan never planned fails loudly
    // rather than guessing. Evaluated BEFORE any rename so a failed
    // validation aborts with zero visible effect.
    rowLevelReplaced = Option(replaceScannedFn).map { fn =>
      val scanned = fn()
      if (scanned == null)
        throw new IllegalStateException(
          "colf: row-level write committed before its scan planned — " +
            "cannot determine the replaced file groups")
      // Schema-evolution guard: rewriting a file through a schema
      // NARROWER than the file's own silently destroys the data of every
      // column outside it (the rewrite reads the file as the table
      // schema, so late-added columns never reach the replacement).
      // Found by driving MERGE against an evolved table: the matched
      // file's `extra` column came back null. The path catalog resolves
      // the union schema so this cannot trip there; DDL tables created
      // without `mergeSchema 'true'` fail HERE, loudly, instead.
      val wc = (schema.fields.map(_.name) ++ partitionBy)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      scanned.foreach { ref =>
        // a replaced file that VANISHED belongs to the conflict check
        // below (concurrent committer won) — not a schema problem
        val hdr = try ColfHeaderCache.get(ref, conf)
          catch { case _: java.io.IOException => null }
        val extras =
          if (hdr == null) Seq.empty
          else hdr.schema.fields.map(_.name)
            .filterNot(n => wc(n.toLowerCase(java.util.Locale.ROOT)))
        if (extras.nonEmpty)
          throw new IllegalStateException(
            s"colf: row-level rewrite would DROP column(s) ${extras.mkString(", ")} " +
              s"stored in ${ref.path} but absent from the table schema — the table " +
              "has evolved; load it with option(\"mergeSchema\", \"true\") (or add " +
              "mergeSchema 'true' to the DDL table's OPTIONS) so the rewrite " +
              "carries every column")
      }
      scanned.map(r => ColfVersions.relativize(fs, dirPath, new Path(r.path))).toSet
    }
    // 1) Rename every temp into place — IN PARALLEL: a serial rename loop
    //    is the driver's commit wall-clock at 10⁵ part files on a remote
    //    FS (each rename is an RPC round trip). Hadoop FileSystem handles
    //    are thread-safe; any failed rename still fails the whole commit
    //    loudly. New names embed this write's unique queryId, so they can
    //    never collide with pre-existing data files.
    val pairs = messages.toSeq.flatMap {
      case m: ColfCommitMessage => m.files
      case _                    => Seq.empty
    }
    val facts: Map[String, ColfFileFacts] = messages.toSeq.flatMap {
      case m: ColfCommitMessage => m.facts
      case _                    => Seq.empty
    }.toMap
    val committed = pairs.map { case (_, fin) => new Path(fin).getName }.toSet
    ColfHeaderCache.mapParallel(pairs) { case (tmp, fin) =>
      val src = new Path(tmp)
      val dst = new Path(fin)
      if (fs.exists(dst)) fs.delete(dst, false) // stale file from a dead task attempt
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"colf commit: rename $src -> $dst failed")
    }
    val versioned = manifestOpt || ColfVersions.enabled(fs, dirPath)
    touchedRelDirs = pairs.map { case (_, fin) =>
      relDir(ColfVersions.relativize(fs, dirPath, new Path(fin)))
    }.toSet
    if (versioned && !skipManifest) {
      // Snapshot versioning (ColfVersions): append the next manifest as
      // the commit's visibility switch. Replaced files are NOT deleted —
      // they back earlier versions until vacuumVersions reclaims them —
      // and a reader planning from version N is immune to this commit
      // entirely. The logical "old" state is the previous manifest (or
      // the pre-commit listing when this write CREATES versioning).
      val newNames = committed
      def buildEntries(prev: Seq[ColfVersions.Entry]): Seq[ColfVersions.Entry] = {
        // Row-level (copy-on-write) conflict validation, re-run against
        // every observed basis inside the optimistic claim loop: each
        // file this commit replaces must still be LIVE. If a concurrent
        // committer replaced one first, blindly publishing would leave
        // BOTH replacements visible — every common row duplicated, both
        // updates half-applied. First committer wins; the loser aborts
        // loudly (its renamed files are unreferenced by any manifest,
        // invisible to readers, and vacuumable).
        rowLevelReplaced.foreach { rel =>
          val live = prev.map(_.relPath).toSet
          val gone = rel.diff(live)
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"colf: row-level commit conflict at $dir — file(s) this " +
                s"operation read and rewrote were replaced by a concurrent " +
                s"commit: ${gone.take(5).mkString(", ")}" +
                (if (gone.size > 5) s" (+${gone.size - 5} more)" else "") +
                "; re-run the operation against the new table state")
        }
        val survivors = prev.filterNot { e =>
          newNames.contains(e.relPath.split('/').last) || isReplaced(fs, dirPath, e)
        }
        survivors ++ committedEntries(fs, dirPath, pairs, facts)
      }
      // entry sets derive INSIDE the claim loop from the observed basis
      // (first enable: the pre-commit listing), so a concurrent commit
      // between basis read and slot claim can never be dropped
      // First enable (this write CREATES versioning over existing files):
      // the pre-commit listing seeds the manifest, with each pre-existing
      // file's schema attached by a one-time header sweep so the table is
      // fully recorded from v1 on.
      val opLabel =
        if (rowLevelReplaced.isDefined) "dml.cow"
        else if (truncate) "overwrite"
        else if (dynamicOverwrite) "overwrite.dynamic"
        else if (overwriteFilters.nonEmpty) "overwrite.filter"
        else "append"
      ColfVersions.append(fs, dirPath, basis =>
        buildEntries(basis.map(_._2).getOrElse(
          ColfVersions.withSchemas(fs, dirPath,
            ColfVersions.listDataFiles(fs, dirPath)
              .filterNot(e => newNames.contains(e.relPath.split('/').last)), conf))),
        op = opLabel)
    } else if ((truncate || dynamicOverwrite || overwriteFilters.nonEmpty ||
        rowLevelReplaced.isDefined) && fs.exists(dirPath)) {
      // 2) Deferred deletes LAST (unversioned tables): a crash anywhere
      //    above leaves old data fully intact (plus invisible temps / some
      //    new files) — a superset, never a partial table. Deletes are
      //    parallel for the same reason renames are. The old files are
      //    exactly what a read lists, and [[isReplaced]] scopes them just
      //    as it scopes a versioned commit's previous manifest.
      val old = ColfVersions.listDataFiles(fs, dirPath)
        .filterNot(e => committed.contains(e.relPath.split('/').last))
      // best-effort conflict check (unversioned tables have no atomic
      // validation point — versioning is the real guarantee): every file
      // this op read-and-rewrote must still exist at delete time, else a
      // concurrent commit already replaced it and publishing both copies
      // would duplicate rows
      rowLevelReplaced.foreach { rel =>
        val gone = rel.diff(old.map(_.relPath).toSet)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"colf: row-level commit conflict at $dir — file(s) this " +
              s"operation read and rewrote no longer exist: " +
              s"${gone.take(5).mkString(", ")}; enable versioning " +
              "(option(\"manifest\",\"true\")) for atomic conflict detection")
      }
      ColfHeaderCache.mapParallel(old.filter(isReplaced(fs, dirPath, _)))(e =>
        fs.delete(new Path(dirPath, e.relPath), false))
    }
    deleteQueryTemps(fs)
  }

  /** Is an old file (a previous-version entry, or a listed file of an
    * unversioned table) REPLACED by this commit? Scope:
    *  - row-level: exactly the scanned groups, nothing else;
    *  - truncate: every old file (full overwrite);
    *  - dynamic overwrite: old files only in partition dirs that
    *    RECEIVED new files this commit;
    *  - filter overwrite: old files whose partition-path values PROVABLY
    *    satisfy the condition (constant per directory — a file is never
    *    replaced on a maybe).
    */
  private def isReplaced(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      e: ColfVersions.Entry): Boolean = rowLevelReplaced match {
    case Some(rel) => rel.contains(e.relPath)
    case None =>
      if (truncate) true
      else if (dynamicOverwrite) touchedRelDirs.contains(relDir(e.relPath))
      else overwriteFilters.nonEmpty && {
        val typed = ColfUtil.typedPartValues(ColfVersions.toRefs(fs, root, Seq(e)).head, schema)
        overwriteFilters.forall(ColfPartitions.evalExact(typed, _).contains(true))
      }
  }

  private def relDir(relPath: String): String =
    relPath.split('/').dropRight(1).mkString("/")

  /** This commit's target partition dirs, relative to the table root. */
  private var touchedRelDirs: Set[String] = Set.empty

  /** Row-level mode: the scanned (= replaced) files, relative to the
    * table root. None = not a row-level write; Some(empty) = a row-level
    * op whose scan planned nothing (nothing replaced, new rows appended).
    */
  private var rowLevelReplaced: Option[Set[String]] = None

  /** Manifest entries for the files this commit renamed into place (one
    * parallel status batch for sizes/mtimes). Each entry records its file
    * schema — known WITHOUT any header read: the writer put exactly the
    * write schema minus the partition-path columns into every file it
    * produced ([[ColfDataWriter]] `fields`), so future resolutions of the
    * table never have to open these files.
    */
  private def committedEntries(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      pairs: Seq[(String, String)],
      facts: Map[String, ColfFileFacts] = Map.empty): Seq[ColfVersions.Entry] = {
    val partPos = partitionBy.map(schema.fieldIndex).toSet
    val fileFields: Seq[ColfField] = ColfUtil.colfFields(StructType(
      schema.fields.zipWithIndex.collect { case (f, i) if !partPos(i) => f }))
    ColfHeaderCache.mapParallel(pairs) { case (_, fin) =>
      val p = new Path(fin)
      val st = fs.getFileStatus(p)
      val f = facts.get(fin)
      ColfVersions.Entry(ColfVersions.relativize(fs, root, p), st.getLen,
        st.getModificationTime, fileFields,
        f.map(_.numRows).getOrElse(-1L), f.map(_.stats).orNull)
    }
  }

  private def doAbort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = ColfUtil.driverHadoopConf()
    messages.foreach {
      case m: ColfCommitMessage => m.files.foreach { case (tmp, _) =>
        val p = new Path(tmp)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, false)
      }
      case _ => ()
    }
    deleteQueryTemps(new Path(dir).getFileSystem(conf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = doCommit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = doAbort(messages)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    doCommit(messages)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    doAbort(messages)

  /** Tasks whose results never reached the driver (job cancelled while they
    * were in flight) leave temps that appear in no commit message. Temp
    * names embed this write's unique queryId, so sweeping `*-<queryId>-*.tmp`
    * is safe against concurrent writers.
    */
  private def deleteQueryTemps(fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val dirPath = new Path(dir)
    ColfVersions.walk(fs, dirPath)(n =>
      n.startsWith(".") && n.contains(queryId) && n.endsWith(".colf.tmp"))
      .foreach(e => fs.delete(new Path(dirPath, e.relPath), false))
  }
}

/** (tempPath, finalPath) per rolled file written by one task. */
/** Per-file facts the writing task captured for free while encoding —
  * exactly what it put in the file's header (row count, per-column
  * null-count + min/max, blooms excluded). The commit records them in
  * the manifest ([[ColfVersions.Entry]]) so planning never has to open
  * the file to re-learn them.
  */
final case class ColfFileFacts(numRows: Long, stats: Map[String, ColfColStats])
    extends Serializable

case class ColfCommitMessage(files: Seq[(String, String)],
    facts: Map[String, ColfFileFacts] = Map.empty) extends WriterCommitMessage

class ColfDataWriterFactory(dir: String, schema: StructType, queryId: String,
    maxRowsPerFile: Int, maxBytesPerFile: Long, compressionLevel: Int,
    conf: org.apache.spark.util.SerializableConfiguration =
      new org.apache.spark.util.SerializableConfiguration(new Configuration()),
    partitionBy: Seq[String] = Seq.empty)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ColfDataWriter(dir, schema, queryId, partitionId, taskId, maxRowsPerFile,
      maxBytesPerFile, compressionLevel, conf, None, partitionBy)

  /** Streaming epochs reuse the batch writer with the epoch id folded into
    * file names, making a replayed epoch overwrite itself on commit.
    */
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new ColfDataWriter(dir, schema, queryId, partitionId, taskId, maxRowsPerFile,
      maxBytesPerFile, compressionLevel, conf, Some(epochId), partitionBy)
}

class ColfDataWriter(
    dir: String, schema: StructType, queryId: String, partitionId: Int, taskId: Long,
    maxRowsPerFile: Int, maxBytesPerFile: Long, compressionLevel: Int,
    conf: org.apache.spark.util.SerializableConfiguration =
      new org.apache.spark.util.SerializableConfiguration(new Configuration()),
    epoch: Option[Long] = None, partitionBy: Seq[String] = Seq.empty,
    allowEmptyFile: Boolean = true)
    extends DataWriter[InternalRow] {

  // Partition columns route to k=v path segments; only the remaining
  // (data) columns are written into the files, hive-style.
  private val partPos: Array[Int] = partitionBy.map(schema.fieldIndex).toArray
  private val partTypes: Array[org.apache.spark.sql.types.DataType] =
    partPos.map(schema.fields(_).dataType)
  private val dataPos: Array[Int] =
    schema.fields.indices.filterNot(partPos.contains).toArray
  private val fields = ColfUtil.colfFields(
    StructType(dataPos.map(schema.fields(_))))
  private var builders: IndexedSeq[ColfCodec.ColumnBuilder] = freshBuilders()
  private val ncols = fields.length
  private var fileSeq = 0
  // Rows arrive ordered by the partition columns (requiredOrdering), so
  // one partition value is active at a time — a value change flushes.
  // `currentDir` is its validated `k=v/...` path under `dir`.
  private var currentPart: Seq[String] = null
  private var currentDir: String = null
  // (temp, final, captured facts), newest first
  private var written = List.empty[(Path, Path, ColfFileFacts)]

  private def renderPartValues(record: InternalRow): Seq[String] =
    partPos.indices.map { i =>
      val p = partPos(i)
      require(!record.isNullAt(p),
        s"colf partitionBy: null value in partition column '${partitionBy(i)}' " +
          "(hive-layout paths cannot encode null)")
      partTypes(i) match {
        case org.apache.spark.sql.types.IntegerType => record.getInt(p).toString
        case org.apache.spark.sql.types.DoubleType  => record.getDouble(p).toString
        case _ => record.getUTF8String(p).toString
      }
    }

  private def freshBuilders(): IndexedSeq[ColfCodec.ColumnBuilder] =
    fields.map(f => ColfCodec.builderFor(f.tpe))

  private def totalBufferedBytes(): Long = {
    var total = 0L
    var i = 0
    while (i < builders.length) { total += builders(i).byteSize; i += 1 }
    total
  }

  override def write(record: InternalRow): Unit = {
    if (partPos.nonEmpty) {
      val vals = renderPartValues(record)
      if (currentPart != vals) {
        if (currentPart != null && builders.head.count > 0) {
          flushFile(); builders = freshBuilders()
        }
        currentDir = partitionBy.lazyZip(vals).map(ColfPartitions.segment).mkString("/")
        currentPart = vals
      }
    }
    var c = 0
    while (c < ncols) {
      val p = dataPos(c)
      if (record.isNullAt(p)) builders(c).appendNull()
      else builders(c) match {
        case b: ColfCodec.IntColumnBuilder    => b.append(record.getInt(p))
        case b: ColfCodec.DoubleColumnBuilder => b.append(record.getDouble(p))
        case b: ColfCodec.StringColumnBuilder => b.append(record.getUTF8String(p))
      }
      c += 1
    }
    if (ncols > 0 && (builders.head.count >= maxRowsPerFile ||
        totalBufferedBytes() >= maxBytesPerFile)) {
      flushFile()
      builders = freshBuilders()
    }
  }

  /** Writes the currently buffered rows as one part file (temp name), in
    * the active partition's k=v subdirectory when partitioning.
    */
  private def flushFile(): Unit = {
    val e = epoch.map(id => s"e$id-").getOrElse("")
    val outDir = if (currentDir == null) new Path(dir) else new Path(dir, currentDir)
    val fin = new Path(outDir, f"part-$e$partitionId%05d-$fileSeq%03d-$queryId.colf")
    val tmp = new Path(outDir, f".part-$e$partitionId%05d-$fileSeq%03d-$queryId-$taskId.colf.tmp")
    fileSeq += 1
    val fs = tmp.getFileSystem(conf.value)
    val out = fs.create(tmp, false) // fail loudly on collision; creates parent dirs
    val header =
      try ColfCodec.writeFile(out, fields, builders, compressionLevel)
      finally out.close()
    // the file's facts are the header it wrote — identical row count and
    // bounds, zero re-reads — so the commit can record them in the
    // manifest (blooms stay header-only)
    val facts = ColfFileFacts(header.numRows,
      header.stats.map { case (name, st) => name -> st.copy(bloom = None) })
    written ::= (tmp, fin, facts)
  }

  override def commit(): WriterCommitMessage = {
    val rows = if (builders.isEmpty) 0 else builders.head.count
    // Empty partitions emit no file — except partition 0 when the task wrote
    // nothing at all, so an all-empty DataFrame still round-trips its schema
    // (fixing the reference's own zero-row writer bug, writer.py:153-154 /
    // SURVEY.md §5). Streaming epochs skip this, and so do partitioned
    // writes (a zero-row table has no partition value to place a file
    // under): an empty microbatch must not litter one empty part file per
    // trigger. Merge-on-read DML opts out too (allowEmptyFile=false): a
    // pure DELETE writes no data rows and must not leave a stray file.
    if (rows > 0 ||
        (allowEmptyFile && partitionId == 0 && written.isEmpty &&
          epoch.isEmpty && partPos.isEmpty))
      flushFile()
    ColfCommitMessage(
      written.reverse.map { case (t, f, _) => (t.toString, f.toString) },
      written.map { case (_, f, facts) => f.toString -> facts }.toMap)
  }

  override def abort(): Unit = written.foreach { case (tmp, _, _) =>
    val fs = tmp.getFileSystem(conf.value)
    if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  override def close(): Unit = ()
}
