package graft.sources.colf

import java.util.OptionalLong

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Spark DataSource V2 provider for the COLF columnar format
  * (reference: satyakalla890/columnar-format SPEC.md).
  *
  * Usage: `spark.read.format("colf").load(pathOrDir)`,
  * `df.write.format("colf").mode("overwrite").save(dir)`.
  *
  * A path may be a single `.colf` file, a directory of part files, or a
  * glob; each file is one [[InputPartition]], so a directory of N part
  * files scans with N-way parallelism — the multi-file layout is how this
  * single-file reference format scales out (SURVEY.md §7.1 M1).
  */
class ColfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "colf"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf = ColfUtil.driverHadoopConf()
    // change feed (streaming CDC): the table schema plus the change
    // metadata columns every emitted row carries
    if (options.getBoolean("readChangeFeed", false)) {
      // CaseInsensitiveStringMap stores keys lowercased — remove the
      // lowercased form or the recursion below never terminates
      val opts = new java.util.HashMap[String, String](options)
      opts.remove("readchangefeed")
      val base = inferSchema(new CaseInsensitiveStringMap(opts))
      Seq(ColfChangeFeedStream.ChangeTypeCol,
          ColfChangeFeedStream.CommitVersionCol).foreach { c =>
        require(!base.fieldNames.contains(c),
          s"colf: readChangeFeed reserves the column name '$c' but the " +
            "table already has a data column with that name")
      }
      return base
        .add(StructField(ColfChangeFeedStream.ChangeTypeCol, StringType, nullable = false))
        .add(StructField(ColfChangeFeedStream.CommitVersionCol, IntegerType, nullable = false))
    }
    // A DECLARED schema (catalog DDL, [[ColfVersions.TableMeta]]) is
    // authoritative: it's how an empty CREATE TABLE has a shape at all,
    // how ADD COLUMN is visible before any file stores it, and how DROP
    // COLUMN hides bytes still present in files. versionAsOf pins the
    // declaration too — time travel shows the schema AS OF that commit.
    ColfUtil.declaredMeta(ColfUtil.paths(options), conf,
        ColfUtil.versionAsOf(options)).foreach { m =>
      return StructType(m.fields.map(f =>
        StructField(f.name, ColfUtil.sparkType(f.tpe), f.nullable)))
    }
    val sel = ColfUtil.resolveFileRefs(ColfUtil.paths(options), conf,
      ColfUtil.versionAsOf(options), ColfUtil.changesSince(options))
    // an empty SNAPSHOT still has a schema — an empty incremental delta,
    // or a versioned table whose latest manifest lists nothing after a
    // full DELETE: infer from the retained on-disk files (the raw
    // listing); the scan itself stays empty. A genuinely file-less
    // directory still errors below.
    val files =
      if (sel.nonEmpty) sel
      else ColfUtil.listingFileRefs(ColfUtil.paths(options), conf)
    if (files.isEmpty)
      throw new IllegalArgumentException(
        s"No .colf files found at ${ColfUtil.paths(options).mkString(", ")}")
    val dataSchema = inferDataSchema(files, options, conf)
    // Hive-layout partition columns append after the file columns, typed
    // by the format's own inference lattice over the observed values.
    val partCols = ColfPartitions.partitionCols(files)
    partCols.foldLeft(dataSchema) { (acc, pc) =>
      if (acc.fieldNames.contains(pc))
        throw new IllegalArgumentException(
          s"colf: partition directory column '$pc' collides with a file column of " +
            "the same name")
      val values = files.flatMap(_.partValues.get(pc))
      acc.add(StructField(pc, ColfUtil.sparkType(ColfPartitions.inferType(values)),
        nullable = false))
    }
  }

  private def inferDataSchema(files: Seq[ColfFileRef], options: CaseInsensitiveStringMap,
      conf: Configuration): StructType = {
    // Manifest-recorded schemas (versioned tables) answer without opening
    // any file; headers are fetched (batched, cached) only for refs that
    // lack one — pre-schema manifests, plain listings, explicit paths. At
    // 10⁵ files a fully-recorded table resolves from ONE manifest read.
    def fieldsOf(toResolve: Seq[ColfFileRef]): Seq[Seq[ColfField]] = {
      val unknown = toResolve.filter(_.fileSchema == null)
      val fetched: Map[String, Seq[ColfField]] =
        unknown.lazyZip(ColfHeaderCache.getAll(unknown, conf))
          .map((r, h) => r.path -> (h.schema.fields: Seq[ColfField])).toMap
      toResolve.map(r => if (r.fileSchema != null) r.fileSchema else fetched(r.path))
    }
    if (options.getBoolean("mergeSchema", false)) {
      // Schema evolution across a directory written over time: the table
      // schema is the ORDERED UNION of every file's fields (first
      // appearance wins the position); a column absent from some files is
      // nullable (those files read it as all-null). Same-name different-
      // type conflicts still fail here, loudly. Headers come through the
      // parallel cache — a wide merge costs one batched fetch, not
      // files.length sequential round trips.
      val fields = scala.collection.mutable.LinkedHashMap.empty[String, ColfField]
      val presentIn = scala.collection.mutable.Map.empty[String, Int]
      files.lazyZip(fieldsOf(files)).foreach { (ref, flds) =>
        flds.foreach { fld =>
          fields.get(fld.name) match {
            case Some(prev) if prev.tpe != fld.tpe =>
              // name the culprit — at 10⁵ files "in another file" is
              // undiagnosable
              throw new IllegalArgumentException(
                s"colf mergeSchema: column '${fld.name}' is ${prev.tpe.name} in one file " +
                  s"but ${fld.tpe.name} in ${ref.path}; types cannot be merged")
            case Some(prev) =>
              fields(fld.name) = prev.copy(nullable = prev.nullable || fld.nullable)
            case None =>
              fields(fld.name) = fld
          }
          presentIn(fld.name) = presentIn.getOrElse(fld.name, 0) + 1
        }
      }
      val merged = fields.values.toIndexedSeq.map { f =>
        if (presentIn(f.name) < files.length) f.copy(nullable = true) else f
      }
      ColfUtil.sparkSchema(ColfSchema(0L, merged))
    } else {
      ColfUtil.sparkSchema(ColfSchema(0L, fieldsOf(files.take(1)).head.toIndexedSeq))
    }
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ColfTable(ColfUtil.paths(opts), schema, opts.getBoolean("mergeSchema", false),
      ColfUtil.versionAsOf(opts), ColfUtil.changesSince(opts),
      Option(opts.get("dmlMode")), opts.getBoolean("readChangeFeed", false))
  }
}

private[colf] object ColfUtil {
  private val mapper = new ObjectMapper()

  /** Metadata column: the absolute path of the `.colf` file a row was
    * read from. Exposed via `SupportsMetadataColumns` (SELECT `_file`
    * FROM t works for provenance/debugging), filled as a per-file
    * constant by the readers, and — decisively — the GROUP identity for
    * row-level operations: Spark's runtime group filtering hands the
    * scan `In(_file, <files containing matching rows>)` and pruning
    * becomes exact file selection.
    */
  val FileMetaCol = "_file"

  /** Metadata column: a row's 0-based ORDINAL within its `.colf` file.
    * With [[FileMetaCol]] it forms the row identity `(_file, _pos)` that
    * merge-on-read DML deletes by ([[ColfDeltaOperation]]): a deletion
    * vector is just the set of `_pos` values masked for one file.
    * Positions are original file ordinals — rows surviving a deletion
    * vector KEEP their positions, so later deletes compose.
    */
  val PosMetaCol = "_pos"

  /** The session's Hadoop conf (so `spark.hadoop.*` — S3A credentials,
    * endpoints, timeouts — reach every COLF filesystem call), falling
    * back to defaults only when no session is active (bare unit tests).
    */
  def driverHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(GraftSqlBridge.sessionHadoopConf)
      .getOrElse(new Configuration())

  /** `option("versionAsOf", n)`: pin reads to snapshot n of a versioned
    * table ([[ColfVersions]]). Absent → latest version (or the live
    * listing on unversioned tables).
    */
  def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    parseVersion(options, "versionAsOf")

  /** `option("changesSinceVersion", n)`: read ONLY the files the latest
    * version added relative to version n — the incremental-recompute
    * primitive ("process what arrived since my last run") for versioned
    * append-mostly tables, without a streaming checkpoint. Mutually
    * exclusive with versionAsOf.
    */
  def changesSince(options: CaseInsensitiveStringMap): Option[Long] = {
    val c = parseVersion(options, "changesSinceVersion")
    require(c.isEmpty || versionAsOf(options).isEmpty,
      "colf: versionAsOf and changesSinceVersion are mutually exclusive")
    c
  }

  private def parseVersion(options: CaseInsensitiveStringMap, key: String): Option[Long] =
    Option(options.get(key)).map { v =>
      val n = scala.util.Try(v.toLong).getOrElse(throw new IllegalArgumentException(
        s"colf: $key must be a version number, got '$v'"))
      require(n >= 1, s"colf: $key must be >= 1, got $n")
      n
    }

  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { json =>
      val node = mapper.readTree(json)
      (0 until node.size()).map(node.get(_).asText())
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    val all = (multi ++ single).distinct
    if (all.isEmpty) throw new IllegalArgumentException("colf: no path specified")
    all
  }

  /** Expand files/dirs/globs into concrete .colf files WITH the size and
    * mtime the directory listing already returned — downstream planning
    * (bin-packing, header-cache keys) then needs zero extra FS round
    * trips per file. Driver-side. Many explicit paths (e.g. compaction's
    * exact-file read) resolve in parallel — one status RPC per path would
    * otherwise serialize on FS latency.
    *
    * Hive-layout partitioning: a subdirectory named `k=v` is descended
    * into, its (k, v) recorded on every file beneath it (arbitrary
    * nesting: `dt=2024-01-01/lang=en/part.colf`). Other subdirectories
    * are ignored, as before — only the explicit `k=v` shape opts a path
    * segment into the table schema.
    *
    * Snapshot selection: a DIRECTORY that carries [[ColfVersions]]
    * manifests resolves to one version's exact file list (`versionAsOf`,
    * default latest) instead of the live listing — so concurrent commits
    * never change a running scan's file set and retained old versions
    * stay readable. Directories without manifests (and explicit
    * file/glob-of-file paths) behave as before; `versionAsOf` on an
    * unversioned path fails loudly rather than silently reading the
    * wrong snapshot.
    */
  def resolveFileRefs(paths: Seq[String], conf: Configuration,
      versionAsOf: Option[Long] = None, changesSince: Option[Long] = None,
      ignoreManifests: Boolean = false): Seq[ColfFileRef] = {
    def walk(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
        values: Map[String, String]): Seq[ColfFileRef] = {
      val entries = fs.listStatus(dir).toSeq.sortBy(_.getPath.getName)
      val here = entries
        .filter(s => s.isFile && s.getPath.getName.endsWith(".colf") &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .map(s => ColfFileRef(s.getPath.toString, s.getLen, s.getModificationTime, values))
      val below = entries
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") && s.getPath.getName.count(_ == '=') == 1)
        .flatMap { s =>
          val Array(k, v) = s.getPath.getName.split("=", 2)
          if (k.isEmpty) Seq.empty
          else walk(fs, s.getPath, values + (k -> v))
        }
      here ++ below
    }
    ColfHeaderCache.mapParallel(paths) { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse {
        if (fs.exists(path)) Seq(fs.getFileStatus(path)) else Seq.empty
      }
      matched.flatMap { st =>
        if (st.isDirectory && ignoreManifests) walk(fs, st.getPath, Map.empty)
        else if (st.isDirectory) {
          (versionAsOf, changesSince) match {
            case (Some(v), _) =>
              ColfVersions.toRefs(fs, st.getPath, ColfVersions.read(fs, st.getPath, v))
            case (None, Some(since)) =>
              // incremental read: latest's entries minus version `since`'s
              // (by relative path — files are immutable once committed)
              val baseEntries = ColfVersions.read(fs, st.getPath, since)
              val base = baseEntries.map(_.relPath).toSet
              val cur = ColfVersions.latest(fs, st.getPath).map(_._2).getOrElse(
                throw new IllegalArgumentException(
                  s"colf: changesSinceVersion requires a versioned table; " +
                    s"${st.getPath} has no manifests"))
              // A deletion vector that changed WITHIN the range deletes
              // rows from a file the base version already delivered —
              // adds-only CDC has no way to say "minus these rows", and
              // returning just the new files would silently misreport the
              // delta. Fail loudly; diffVersions carries removals.
              // (A file both ADDED and DV'd inside the range is fine: its
              // delta rows are exactly its live rows, DV applied.)
              val curBy = cur.map(e => e.relPath -> e).toMap
              val dvChanged = baseEntries.filter(e => curBy.get(e.relPath).exists(c =>
                c.dv != e.dv || c.dvRows != e.dvRows))
              if (dvChanged.nonEmpty)
                throw new IllegalArgumentException(
                  s"colf: changesSinceVersion($since) of ${st.getPath} spans " +
                    s"row-level deletes on ${dvChanged.length} pre-existing file(s) " +
                    "(merge-on-read DML) — an adds-only delta cannot represent " +
                    "them; use ColfMaintenance.diffVersions for added+removed rows")
              ColfVersions.toRefs(fs, st.getPath, cur.filterNot(e => base.contains(e.relPath)))
            case (None, None) =>
              ColfVersions.latest(fs, st.getPath) match {
                case Some((_, entries)) => ColfVersions.toRefs(fs, st.getPath, entries)
                case None               => walk(fs, st.getPath, Map.empty)
              }
          }
        } else if (versionAsOf.isDefined || changesSince.isDefined) {
          throw new IllegalArgumentException(
            s"colf: versionAsOf/changesSinceVersion require a versioned table DIRECTORY; " +
              s"got file ${st.getPath}")
        } else Seq(ColfFileRef(st.getPath.toString, st.getLen, st.getModificationTime))
      }
    }.flatten
  }

  /** The raw directory listing, ignoring any manifests — what the table
    * holds ON DISK (retained old versions included). Schema-fallback and
    * maintenance use only.
    */
  def listingFileRefs(paths: Seq[String], conf: Configuration): Seq[ColfFileRef] =
    resolveFileRefs(paths, conf, ignoreManifests = true)

  /** The declared table schema ([[ColfVersions.TableMeta]]) governing
    * `paths`, when there is one: a SINGLE directory path, versioned, and
    * a manifest carrying DDL state (at `versionAsOf`, default latest).
    * Multi-path reads, globs, and explicit files have no DDL surface —
    * they resolve from file schemas as always.
    */
  def declaredMeta(paths: Seq[String], conf: Configuration,
      versionAsOf: Option[Long] = None): Option[ColfVersions.TableMeta] = {
    if (paths.lengthCompare(1) != 0) return None
    val p = new Path(paths.head)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return None
    ColfVersions.tableMeta(fs, p, versionAsOf)
  }

  def sparkType(t: ColfType): DataType = t match {
    case ColfType.Int32   => IntegerType
    case ColfType.Float64 => DoubleType
    case ColfType.Utf8    => StringType
  }

  def colfType(t: DataType): ColfType = t match {
    case IntegerType => ColfType.Int32
    case DoubleType  => ColfType.Float64
    case StringType  => ColfType.Utf8
    case other => throw new IllegalArgumentException(
      s"COLF supports only int/double/string columns; got $other. " +
        "Cast the column first (COLF's type lattice is {int32, float64, utf8}).")
  }

  def sparkSchema(s: ColfSchema): StructType =
    StructType(s.fields.map(f => StructField(f.name, sparkType(f.tpe), f.nullable)))

  /** Partition-path values parsed to the TABLE schema's type for the
    * column (so pruning/absorption compares ints as ints, not strings).
    * Unparseable or unknown-column values are silently dropped — callers
    * needing guarantees gate on the table's exactPartCols set.
    */
  def typedPartValues(r: ColfFileRef, schema: StructType): Map[String, Any] =
    r.partValues.flatMap { case (k, v) =>
      schema.fields.find(_.name == k).flatMap { f =>
        scala.util.Try(ColfPartitions.typedValue(v, colfType(f.dataType))).toOption
          .map(k -> _)
      }
    }

  def colfFields(s: StructType): IndexedSeq[ColfField] =
    ArraySeq.unsafeWrapArray(
      s.fields.map(f => ColfField(f.name, colfType(f.dataType), f.nullable)))

  /** Bin-pack files into partitions by compressed size (first-fit over a
    * size-descending order), targeting `spark.sql.files.maxPartitionBytes`
    * — the same policy as Spark's file sources. One-task-per-file would
    * explode the task count on directories of many small part files (the
    * normal shape of a large rolled write); packing keeps task count
    * proportional to bytes, not file count. A file is never split: it is
    * the format's unit of decompression. Sizes ride in from the original
    * directory listing — zero per-file FS calls here.
    */
  def binPack(refs: Seq[ColfFileRef]): Array[InputPartition] = {
    val maxBytes: Long =
      try org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
      catch { case _: Throwable => 128L * 1024 * 1024 }
    // Files with and without a deletion vector share bins: the columnar
    // reader applies a vector per file, as a row selection.
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[ColfFileRef], Long)]
    refs.sortBy(-_.size).foreach { r =>
      bins.indexWhere(_._2 + r.size <= maxBytes) match {
        case -1 => bins += ((scala.collection.mutable.ArrayBuffer(r), r.size))
        case i  => val (fs0, total) = bins(i); fs0 += r; bins(i) = (fs0, total + r.size)
      }
    }
    bins.map { case (fs0, _) => ColfInputPartition.of(fs0.toSeq): InputPartition }.toArray
  }
}

class ColfTable(paths: Seq[String], override val schema: StructType,
    mergeSchema: Boolean = false, versionAsOf: Option[Long] = None,
    changesSince: Option[Long] = None, dmlMode: Option[String] = None,
    cdf: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `SELECT _file, _pos, * FROM t`: per-row provenance, and the row
    * identity merge-on-read DML deletes by ([[ColfUtil.FileMetaCol]],
    * [[ColfUtil.PosMetaCol]]). Each is suppressed when the table has a
    * DATA column of the same name (then the name means the data, and the
    * DML paths that need the metadata fail at analysis instead of
    * mis-grouping).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val out = Array.newBuilder[org.apache.spark.sql.connector.catalog.MetadataColumn]
    if (!schema.fieldNames.contains(ColfUtil.FileMetaCol))
      out += new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ColfUtil.FileMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "path of the .colf file this row was read from"
      }
    if (!schema.fieldNames.contains(ColfUtil.PosMetaCol))
      out += new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = ColfUtil.PosMetaCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "0-based ordinal of this row within its .colf file"
      }
    out.result()
  }

  /** SQL MERGE INTO / UPDATE / data-predicate DELETE. Two execution
    * strategies, selected by the table option `dmlMode` (DDL OPTIONS or
    * read option), falling back to the session conf `spark.colf.dml.mode`,
    * defaulting to copy-on-write:
    *
    *  - `copy-on-write` ([[ColfRowLevelOperation]]): group-based — every
    *    file holding a matched row is rewritten wholesale. The right plan
    *    for bulk restatement (DML touching a large fraction of rows):
    *    output files are clean, reads stay vectorized.
    *  - `merge-on-read` ([[ColfDeltaOperation]]): delta-based — deletes
    *    become position-delete files ([[ColfDeletes]]), updates become
    *    delete + insert, and NO existing data file is rewritten. The
    *    right plan for frequent small DML at scale: a 1-row UPDATE costs
    *    bytes proportional to 1 row, not to the 512 MB file holding it.
    *    Requires a versioned table (the manifest carries the DV refs).
    *
    * Partition-provable DELETEs still take the metadata-only route below
    * in either mode — Spark's OptimizeMetadataOnlyDeleteFromTable asks
    * [[canDeleteWhere]] first and only falls back to the rewrite when
    * file-level deletion can't answer exactly.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo): org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation = {
        require(versionAsOf.isEmpty && changesSince.isEmpty,
          "colf: DML on a snapshot-pinned read is not meaningful — " +
            "MERGE/UPDATE/DELETE target the latest table state")
        require(!cdf, "colf: a readChangeFeed relation is read-only")
        // without the metadata column, `_file` would resolve to the DATA
        // column and group filtering would prune on document values as
        // if they were file paths — a silent no-op. Refuse instead.
        require(!schema.fieldNames.contains(ColfUtil.FileMetaCol),
          s"colf: row-level DML requires the ${ColfUtil.FileMetaCol} metadata " +
            s"column, but this table has a DATA column named ${ColfUtil.FileMetaCol} — " +
            "rename it (or use ColfTools merge / overwrite paths)")
        val mode = dmlMode.orElse(SparkSession.getActiveSession
            .flatMap(_.conf.getOption("spark.colf.dml.mode")))
          .getOrElse("copy-on-write")
        mode match {
          case "copy-on-write" =>
            new ColfRowLevelOperation(paths, schema, partColsLogical, info,
              nameMap, mergeSchema || declaredMeta.isDefined)
          case "merge-on-read" =>
            require(!schema.fieldNames.contains(ColfUtil.PosMetaCol),
              s"colf: merge-on-read DML needs the ${ColfUtil.PosMetaCol} metadata " +
                s"column, but this table has a DATA column named ${ColfUtil.PosMetaCol} — " +
                "rename it or use dmlMode copy-on-write")
            new ColfDeltaOperation(paths, schema, partColsLogical, info, nameMap)
          case other => throw new IllegalArgumentException(
            s"colf: unknown dmlMode '$other' — use copy-on-write or merge-on-read")
        }
      }
    }

  override def name(): String = s"colf:${paths.mkString(",")}"

  /** Persisted table properties (DESCRIBE EXTENDED surface) — the
    * manifest-declared props, when the table carries DDL state.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    declaredMeta.foreach(_.props.foreach { case (k, v) => m.put(k, v) })
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  /** Hive-layout partition columns, derived from the directory layout once
    * per table instance (the same listing schema inference already pays).
    *
    * Empty-snapshot fallback mirrors [[ColfDataSourceProvider.inferSchema]]
    * exactly: a versioned table whose latest manifest lists nothing (full
    * DELETE) still KEEPS its partition layout, read from the retained
    * on-disk files. Without this, the next DML's write builder saw no
    * partition columns and wrote flat root-level files with the partition
    * value in-file — and the first partitioned write after that made the
    * table unreadable (file column colliding with the partition directory
    * column). Found by ColfHistoryFuzzProps: DELETE-all → MERGE → append.
    */
  private lazy val layoutRefs: Seq[ColfFileRef] = {
    val live = ColfUtil.resolveFileRefs(paths, ColfUtil.driverHadoopConf(), versionAsOf)
    if (live.nonEmpty) live
    else ColfUtil.listingFileRefs(paths, ColfUtil.driverHadoopConf())
  }

  /** DDL state, when the table carries one ([[ColfVersions.TableMeta]]).
    * Declared partition columns then OVERRIDE layout derivation (an
    * empty CREATE TABLE … PARTITIONED BY table has no files to derive
    * from, yet its first INSERT must write hive-layout), and reads
    * treat declared columns missing from older files as null (ADD
    * COLUMN) without requiring the mergeSchema option.
    */
  private lazy val declaredMeta: Option[ColfVersions.TableMeta] =
    ColfUtil.declaredMeta(paths, ColfUtil.driverHadoopConf(), versionAsOf)

  /** Logical↔physical column mapping (RENAME COLUMN): `schema` (this
    * table's Spark-facing surface) is LOGICAL; file bytes, partition
    * directories, manifests, and headers are PHYSICAL. The scan/write
    * builders below receive physical schemas plus this map and translate
    * at their Spark-facing boundaries ([[ColfNames]]). Identity (a
    * no-op) for every table without renames.
    */
  private lazy val nameMap: ColfNames = ColfNames.of(declaredMeta)
  private lazy val physSchema: StructType = nameMap.physSchema(schema)

  /** Partition columns in both domains: declared parts are logical; a
    * layout-derived set (no DDL history) is physical == logical.
    */
  private lazy val partColsLogical: Seq[String] =
    declaredMeta.map(_.parts.toList).getOrElse(
      ColfPartitions.partitionCols(layoutRefs))

  private lazy val layoutPartitionCols: Seq[String] =
    partColsLogical.map(nameMap.phys)

  /** Partition columns with a value present AND parseable (under the
    * table schema's type) on EVERY file — the set over which filters can
    * be absorbed (evaluated exactly per file, removed from Spark's
    * residual set) and aggregates answered from metadata. A mixed layout
    * (some flat files) or an unparseable value keeps the column out: its
    * filters then stay residual, which is always correct.
    */
  private lazy val exactPartCols: Set[String] =
    layoutPartitionCols.filter { pc =>
      physSchema.fields.find(_.name == pc).exists { f =>
        layoutRefs.nonEmpty && layoutRefs.forall { r =>
          r.partValues.get(pc).exists(v =>
            scala.util.Try(
              ColfPartitions.typedValue(v, ColfUtil.colfType(f.dataType))).isSuccess)
        }
      }
    }.toSet

  /** Declared as identity transforms, so SQL `INSERT OVERWRITE ...
    * PARTITION (k=v)` resolves the static spec into an overwrite filter
    * against this table.
    */
  override lazy val partitioning: Array[Transform] =
    partColsLogical // Spark resolves these against the LOGICAL schema
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // non-positive caps would make the stream stall silently (every batch
    // admits nothing); reject at option-parse time like Spark's file source
    def positive[T](name: String, parse: String => T)(implicit num: Numeric[T]): Option[T] =
      Option(options.get(name)).map { v =>
        val n = parse(v)
        require(num.gt(n, num.zero), s"colf option $name must be positive, got $v")
        n
      }
    // a per-read time-travel option REPLACES every table-level pin (a
    // table pinned to versionAsOf read with changesSinceVersion must not
    // silently combine into "old full snapshot"); absent per-read
    // options, the table-level pins apply
    val readVer = ColfUtil.versionAsOf(options)
    val readChg = ColfUtil.changesSince(options)
    val (effVer, effChg) =
      if (readVer.isDefined || readChg.isDefined) (readVer, readChg)
      else (versionAsOf, changesSince)
    val effCdf = cdf || options.getBoolean("readChangeFeed", false)
    require(!effCdf || (effVer.isEmpty && effChg.isEmpty),
      "colf: readChangeFeed is incompatible with versionAsOf/" +
        "changesSinceVersion — the feed's offsets ARE versions")
    val startVer = Option(options.get("startingVersion")).map { v =>
      val n = scala.util.Try(v.toLong).getOrElse(throw new IllegalArgumentException(
        s"colf: startingVersion must be a version number, got '$v'"))
      require(n >= 1, s"colf: startingVersion must be >= 1, got $n")
      n
    }.getOrElse(1L)
    // SPJ eligibility (option preservePartitioning): every layout
    // partition column must be EXACT (value present and parseable on
    // every file) — partial layouts cannot honestly report a
    // key-grouped partitioning
    val spjCols: Seq[String] =
      if (options.getBoolean("preservePartitioning", false) &&
          layoutPartitionCols.nonEmpty && layoutPartitionCols.forall(exactPartCols))
        layoutPartitionCols
      else Seq.empty
    new ColfScanBuilder(paths, physSchema, mergeSchema || declaredMeta.isDefined,
      positive("maxFilesPerTrigger", _.toInt),
      positive("maxRowsPerTrigger", _.toLong),
      exactPartCols, layoutPartitionCols, effVer, effChg, nameMap,
      effCdf, startVer, spjCols)
  }

  /** SQL INSERT paths (DDL tables) don't carry write options, so the
    * table's own layout-derived partition columns serve as the default —
    * without it an INSERT into a partitioned table would write flat
    * root-level files with partition values stored in-file, breaking the
    * layout the readers partition-prune on.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!cdf, "colf: a readChangeFeed relation is read-only")
    new ColfWriteBuilder(paths, info, partColsLogical, nameMap)
  }

  // ------------------------------------------------------- DELETE FROM
  //
  // The format's deletion granule is the FILE (one block per column, no
  // row groups), so `DELETE FROM t WHERE c` is supported exactly when
  // every file's rows are PROVABLY all-matching (delete it) or provably
  // none-matching (keep it) from partition-path values alone. Anything
  // finer — a predicate over data columns — reports "cannot delete",
  // and Spark surfaces that loudly instead of this table guessing.
  // Deletes are idempotent file removals: a crash mid-way leaves a
  // subset of the matching files deleted and a re-run completes the
  // operation; readers never see partially-deleted ROWS.

  /** Files to delete under the conjunction of `filters`, or None when
    * some file is neither provably all-matching nor provably
    * none-matching (file-level deletion would be unsound).
    */
  private def deletePlan(filters: Array[Filter]): Option[Seq[ColfFileRef]] = {
    // filters arrive logical; an untranslatable shape can't be proven at
    // file granularity → refuse (Spark falls back to the row-level path)
    val phys = filters.toSeq.map(f =>
      nameMap.physFilter(f).getOrElse(return None))
    val refs = ColfUtil.resolveFileRefs(paths, ColfUtil.driverHadoopConf())
    val toDelete = Seq.newBuilder[ColfFileRef]
    refs.foreach { r =>
      val tv = ColfUtil.typedPartValues(r, physSchema)
      val evs = phys.map(f => ColfPartitions.evalExact(tv, f))
      if (evs.forall(_.contains(true))) toDelete += r
      else if (evs.exists(_.contains(false))) () // provably untouched: keep
      else return None
    }
    Some(toDelete.result())
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val conf = ColfUtil.driverHadoopConf()
    val files = deletePlan(filters).getOrElse(throw new IllegalStateException(
      s"colf DELETE: condition ${filters.mkString(" AND ")} is no longer " +
        "decidable at file granularity — the directory layout changed " +
        "between analysis and execution"))
    // Versioned roots (ColfVersions): the delete is a MANIFEST flip — the
    // next version simply omits the files, which stay on disk backing
    // earlier versions until vacuumVersions. Unversioned paths delete
    // physically, as before.
    val handled = scala.collection.mutable.Set.empty[String]
    paths.foreach { p =>
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(conf)
      if (fs.exists(root) && fs.getFileStatus(root).isDirectory &&
          ColfVersions.enabled(fs, root)) {
        val q = fs.makeQualified(root).toString
        val deletedUnder = files.map(_.path).filter(_.startsWith(q + "/"))
        if (deletedUnder.nonEmpty) {
          val deletedRel = deletedUnder.map(_.substring(q.length + 1)).toSet
          ColfVersions.append(fs, root, basis =>
            basis.map(_._2).getOrElse(Seq.empty).filterNot(e => deletedRel(e.relPath)),
            op = "delete")
          handled ++= deletedUnder
        }
      }
    }
    val physical = files.filterNot(r => handled.contains(r.path))
    ColfHeaderCache.mapParallel(physical) { r =>
      val p = new org.apache.hadoop.fs.Path(r.path)
      p.getFileSystem(conf).delete(p, false)
    }
  }
}

/** Projection pushdown: Catalyst's V2ScanRelationPushDown hands us the
  * required columns; the reader then seeks/reads/inflates ONLY those
  * blocks — the reference's selective-read fast path (reader.py:165-192)
  * done at the I/O layer.
  *
  * Filter pushdown is STATS-ONLY: every filter is returned as a residual
  * (Catalyst's codegen'd post-scan filter evaluates faster per-row than
  * any reader-side interpretation could), but the prunable subset is kept
  * and evaluated against per-file min/max/null-count header stats to skip
  * whole files — at 100 TB, not opening a file beats any per-row win.
  */
class ColfScanBuilder(paths: Seq[String], fullSchema: StructType,
    mergeSchema: Boolean = false, maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None, exactPartCols: Set[String] = Set.empty,
    layoutPartitionCols: Seq[String] = Seq.empty, versionAsOf: Option[Long] = None,
    changesSince: Option[Long] = None, names: ColfNames = ColfNames.Identity,
    cdf: Boolean = false, cdfStartingVersion: Long = 1L,
    spjCols: Seq[String] = Seq.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownFilters {
  // NAME DOMAINS ([[ColfNames]]): `fullSchema`, `exactPartCols`, and
  // `layoutPartitionCols` arrive PHYSICAL (ColfTable translated them);
  // everything Spark hands this builder — filters, required columns,
  // aggregation references — arrives LOGICAL and is translated at the
  // method boundary below. All internal state is physical.
  private val conf = ColfUtil.driverHadoopConf()
  private var required: StructType = fullSchema            // physical
  private var requiredLog: StructType = names.logSchema(fullSchema)
  private var metaAgg: Option[(StructType, Seq[Seq[Any]], String)] = None
  private var limit: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty          // physical
  private var absorbed: Seq[Filter] = Seq.empty            // physical
  private var pushedLog: Array[Filter] = Array.empty       // logical mirror

  /** LIMIT n plans only enough FILES to cover n rows (header row counts
    * are free), instead of scanning the whole directory and discarding.
    * Partial push: Spark still applies its own Limit on top, so emitting
    * at-least-n rows from the fewest files is sufficient and correct.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Two tiers. Filters EXACTLY decidable from partition-path values on
    * every file are ABSORBED — dropped from the residual set, applied at
    * file granularity by the scan — which both removes per-row work and,
    * decisively, removes the post-scan Filter node so Catalyst can offer
    * aggregate pushdown on filtered queries (`count(*) WHERE dt = X`
    * stays header-only). Everything else: keep the stats-prunable subset
    * for file skipping and hand it back as residual — the scan may return
    * false positives from kept files and Spark's own filter finishes the
    * job (overlap of pushed and residual sets is explicitly allowed by
    * the DSv2 contract).
    *
    * A filter [[ColfNames.physFilter]] cannot translate (unknown shape
    * over a renamed column) stays fully residual and is excluded from
    * every physical-side evaluation — Spark's own filter then decides it
    * per row, which is always correct.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // change feed: every filter stays residual and nothing is absorbed
    // or pruned — a retraction partition's rows are not the live rows
    // the pruning stats describe
    if (cdf) return filters
    val translated: Seq[(Filter, Option[Filter])] =
      filters.toSeq.map(f => f -> names.physFilter(f))
    val (absPairs, resPairs) = translated.partition { case (_, p) =>
      p.exists(pf => exactPartCols.nonEmpty &&
        ColfPartitions.exactShape(pf, exactPartCols, fullSchema))
    }
    absorbed = absPairs.flatMap(_._2)
    val resPrunable = resPairs.filter(_._2.exists(ColfPrune.prunable))
    pushed = resPrunable.flatMap(_._2).toArray
    pushedLog = (resPrunable.map(_._1) ++
      absPairs.map(_._1).filterNot(resPrunable.map(_._1).contains)).toArray
    resPairs.map(_._1).toArray
  }
  override def pushedFilters(): Array[Filter] = pushedLog

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Preserve file column order; an empty projection (count(*)) keeps
    // zero columns and the reader emits empty rows.
    requiredLog = requiredSchema
    required = names.physSchema(requiredSchema)
  }

  // ------------------------------------------------ aggregate pushdown
  //
  // COUNT(*) / COUNT(col) / MIN / MAX — optionally GROUPed BY partition
  // columns, optionally under absorbed partition filters — are answered
  // entirely from file headers (num_rows SPEC.md:27 + the writer's
  // null_count/min/max stats keys): zero column blocks read, zero data
  // bytes decompressed. Aggregating a multi-TB directory costs one
  // cached header fetch per file. Exactness is validated per file at
  // push time (pushAggregation refuses — falling back to a normal scan —
  // whenever any file's stats can't prove the answer: missing stats,
  // non-finite doubles, possibly-truncated string minima, a 0.0 double
  // bound that may mask a normalized -0.0).

  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  /** Aggregation references arrive LOGICAL; translate before any lookup. */
  private def physName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    fieldName(e).map(names.phys)

  private def shapeOk(agg: aggregate.Aggregation): Boolean = {
    if (cdf) return false // header facts describe live rows, not changes
    val colOk = (n: String) =>
      fullSchema.fieldNames.contains(n) &&
        (!layoutPartitionCols.contains(n) || exactPartCols(n))
    agg.groupByExpressions.forall(e => physName(e).exists(exactPartCols)) &&
      agg.aggregateExpressions.forall {
        case _: aggregate.CountStar => true
        case c: aggregate.Count => !c.isDistinct && physName(c.column).exists(colOk)
        case m: aggregate.Min   => physName(m.column).exists(colOk)
        case m: aggregate.Max   => physName(m.column).exists(colOk)
        case _ => false
      }
  }

  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    shapeOk(agg)

  override def pushAggregation(agg: aggregate.Aggregation): Boolean =
    shapeOk(agg) && {
      metaAgg = computeMetaAgg(agg)
      metaAgg.isDefined
    }

  /** Driver-side evaluation of the pushed aggregation from headers alone.
    * None = some file can't prove its contribution exactly → no pushdown
    * (Spark plans the ordinary scan+aggregate; correctness never rests on
    * stats). Spark's complete-pushdown contract expects the scan schema
    * as group columns THEN aggregate columns, rows being final results.
    */
  private def computeMetaAgg(
      agg: aggregate.Aggregation): Option[(StructType, Seq[Seq[Any]], String)] = {
    // physical names for every internal lookup; logical kept for labels
    val groupColsLog = agg.groupByExpressions.toSeq.map(e => fieldName(e).get)
    val groupCols = groupColsLog.map(names.phys)
    val refs = ColfUtil.resolveFileRefs(paths, conf, versionAsOf, changesSince)
    // deletion vectors mask rows the headers still count: every
    // header-derived fact (counts, bounds, null counts) is stale for a
    // DV'd file, so metadata-only answering declines and Spark plans the
    // real scan (which applies the DVs). Compaction restores pushdown.
    if (refs.exists(_.dvRows > 0L)) return None
    val kept = refs.filter { r =>
      val tv = ColfUtil.typedPartValues(r, fullSchema)
      absorbed.forall(f => ColfPartitions.evalExact(tv, f) match {
        case Some(b) => b
        case None    => return None // listing changed under us: stay safe
      })
    }
    // recorded facts answer the whole aggregation with zero header I/O
    // (synthetic headers carry the same exact counts/bounds, minus blooms
    // which this evaluation never consults)
    val live = kept.lazyZip(ColfHeaderCache.getAllPlanning(kept, conf))
      .filter { case (_, h) => h.schema.numRows > 0 }.toSeq

    // One group per distinct partition-value tuple; a single global group
    // (which must emit a row even over zero files) when no grouping.
    val groups: Seq[(Seq[Any], Seq[(ColfFileRef, ColfHeader)])] =
      if (groupCols.isEmpty) Seq((Seq.empty, live))
      else live.groupBy { case (r, _) =>
        val tv = ColfUtil.typedPartValues(r, fullSchema)
        groupCols.map(tv(_))
      }.toSeq

    def ordered(a: Any, b: Any): Option[Int] = ColfPartitions.cmpValues(a, b)

    /** Min/max of `col` over one group's files, `None` = refuse pushdown,
      * `Some(null)` = SQL NULL (no non-null values in the group).
      */
    def minMax(files: Seq[(ColfFileRef, ColfHeader)], col: String,
        wantMax: Boolean): Option[Any] = {
      val bounds = Seq.newBuilder[Any]
      if (exactPartCols(col)) {
        files.foreach { case (r, _) =>
          bounds += ColfUtil.typedPartValues(r, fullSchema)(col)
        }
      } else files.foreach { case (_, h) =>
        val i = h.schema.fields.indexWhere(_.name == col)
        val allNull = (i >= 0 && h.metas(i).compSize == 0L) || i < 0 ||
          h.schema.stats.get(col).exists(_.nullCount == h.schema.numRows)
        if (!allNull) h.schema.stats.get(col).flatMap(st => if (wantMax) st.max else st.min) match {
          case Some(b) => bounds += b
          case None    => return None // no stats / non-finite / dropped bound
        }
      }
      val bs = bounds.result()
      if (bs.isEmpty) return Some(null)
      var w = bs.head
      bs.tail.foreach { b =>
        ordered(b, w) match {
          case Some(c) => if ((wantMax && c > 0) || (!wantMax && c < 0)) w = b
          case None    => return None
        }
      }
      w match {
        // a 0.0 bound may be a normalized -0.0 (writer folds the zeros so
        // range pruning can't mis-fire); MIN/MAX must distinguish them
        case d: java.lang.Double if d.doubleValue() == 0.0d => None
        // a string min at/near the truncation cap may be a prefix of the
        // true minimum (a shorter one is provably exact; max is only ever
        // stored exact)
        case s: String if !wantMax &&
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length >
            ColfCodec.StringStatMaxBytes - 4 => None
        case v => Some(v)
      }
    }

    /** COUNT(col): non-null row count, provable per file from the
      * has-nulls flag (false ⇒ none), the all-null encoding, or the
      * null_count stat.
      */
    def countCol(files: Seq[(ColfFileRef, ColfHeader)], col: String): Option[Long] = {
      if (exactPartCols(col)) return Some(files.map(_._2.schema.numRows).sum)
      var total = 0L
      files.foreach { case (_, h) =>
        val i = h.schema.fields.indexWhere(_.name == col)
        if (i < 0) () // mergeSchema: column absent from this file = all null
        else if (h.metas(i).compSize == 0L) ()
        else if (!h.metas(i).hasNulls) total += h.schema.numRows
        else h.schema.stats.get(col) match {
          case Some(st) => total += h.schema.numRows - st.nullCount
          case None     => return None
        }
      }
      Some(total)
    }

    val fieldsB = Seq.newBuilder[StructField]
    groupCols.lazyZip(groupColsLog).foreach { (c, lg) =>
      fieldsB += fullSchema.fields.find(_.name == c).get
        .copy(name = lg, nullable = false)
    }
    agg.aggregateExpressions.foreach {
      case _: aggregate.CountStar =>
        fieldsB += StructField("count(*)", LongType, nullable = false)
      case c: aggregate.Count =>
        fieldsB += StructField(s"count(${fieldName(c.column).get})", LongType, nullable = false)
      case m: aggregate.Min =>
        val n = fieldName(m.column).get
        fieldsB += StructField(s"min($n)",
          fullSchema.fields.find(_.name == names.phys(n)).get.dataType, nullable = true)
      case m: aggregate.Max =>
        val n = fieldName(m.column).get
        fieldsB += StructField(s"max($n)",
          fullSchema.fields.find(_.name == names.phys(n)).get.dataType, nullable = true)
      case _ => return None
    }

    val rows = groups.map { case (key, files) =>
      val vals = Seq.newBuilder[Any]
      vals ++= key
      agg.aggregateExpressions.foreach {
        case _: aggregate.CountStar => vals += files.map(_._2.schema.numRows).sum
        case c: aggregate.Count =>
          vals += (countCol(files, physName(c.column).get) match {
            case Some(n) => n
            case None    => return None
          })
        case m: aggregate.Min =>
          vals += (minMax(files, physName(m.column).get, wantMax = false) match {
            case Some(v) => v
            case None    => return None
          })
        case m: aggregate.Max =>
          vals += (minMax(files, physName(m.column).get, wantMax = true) match {
            case Some(v) => v
            case None    => return None
          })
        case _ => return None
      }
      vals.result()
    }
    val desc = s"colf ${paths.mkString(",")} PushedAggregates: " +
      s"[${agg.aggregateExpressions.map(_.toString).mkString(", ")}]" +
      (if (groupCols.nonEmpty) s", GroupBy: [${groupCols.mkString(", ")}]" else "") +
      (if (absorbed.nonEmpty) s", PartitionFilters: [${absorbed.mkString(", ")}]" else "") +
      " (header-only)"
    Some((StructType(fieldsB.result()), rows, desc))
  }

  override def build(): Scan = metaAgg match {
    case Some((schema, rows, desc)) => new ColfMetaAggScan(schema, rows, desc)
    case None =>
      // SPJ only when every partition column survives column pruning —
      // a key-grouped partitioning must reference scan OUTPUT columns
      val spjActive =
        if (spjCols.nonEmpty && spjCols.forall(required.fieldNames.contains))
          spjCols
        else Seq.empty[String]
      new ColfScan(paths, fullSchema, required, mergeSchema, limit,
        ArraySeq.unsafeWrapArray(pushed), conf, maxFilesPerTrigger, maxRowsPerTrigger,
        absorbed, versionAsOf, changesSince, names, cdf, cdfStartingVersion,
        spjActive)
  }
}

/** Metadata-only scan backing a pushed-down aggregation: the rows were
  * already computed on the driver from cached headers; a single one-row
  * input partition ships the VALUES, not the file list.
  */
class ColfMetaAggScan(schema: StructType, rows: Seq[Seq[Any]], desc: String)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = desc

  override def planInputPartitions(): Array[InputPartition] =
    Array(ColfMetaAggPartition(rows))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private val it = p.asInstanceOf[ColfMetaAggPartition].rows.iterator
          private var cur: org.apache.spark.sql.catalyst.InternalRow = _
          override def next(): Boolean = it.hasNext && {
            cur = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              it.next().map {
                case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
                case v         => v
              }.toArray)
            true
          }
          override def get(): org.apache.spark.sql.catalyst.InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

case class ColfMetaAggPartition(rows: Seq[Seq[Any]]) extends InputPartition

class ColfScan(paths: Seq[String], fullSchema: StructType, required: StructType,
    mergeSchema: Boolean = false, limit: Option[Int] = None,
    filters: Seq[Filter] = Seq.empty, conf: Configuration = ColfUtil.driverHadoopConf(),
    maxFilesPerTrigger: Option[Int] = None, maxRowsPerTrigger: Option[Long] = None,
    absorbed: Seq[Filter] = Seq.empty, versionAsOf: Option[Long] = None,
    changesSince: Option[Long] = None, names: ColfNames = ColfNames.Identity,
    cdf: Boolean = false, cdfStartingVersion: Long = 1L,
    spjPartCols: Seq[String] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  // NAME DOMAINS: `fullSchema`/`required`/`filters`/`absorbed` are all
  // PHYSICAL; `readSchema`/`filterAttributes` present LOGICAL names to
  // Spark and incoming runtime filters translate back at `filter()`.

  private lazy val allRefs: Seq[ColfFileRef] =
    ColfUtil.resolveFileRefs(paths, conf, versionAsOf, changesSince)

  /** Absorbed partition filters are NOT re-evaluated by Spark (the
    * builder removed them from the residual set), so their file-level
    * application here must be exact — and it is, by the builder's
    * exactShape gate over the table's verified partition columns. A file
    * that defeats exact evaluation anyway (the listing changed shape
    * between table resolution and scan) fails loudly rather than leaking
    * rows the dropped filter should have removed.
    */
  private lazy val absorbedRefs: Seq[ColfFileRef] =
    if (absorbed.isEmpty) allRefs
    else allRefs.filter { r =>
      val tv = typedPartValues(r)
      absorbed.forall(f => ColfPartitions.evalExact(tv, f).getOrElse(
        throw new IllegalStateException(
          s"colf: absorbed partition filter $f is undecidable for ${r.path} — " +
            "the directory layout changed since the table was resolved")))
    }

  /** Data skipping, cheapest test first: (1) EXACT partition pruning from
    * the `k=v` path values — zero I/O, so a selective partition predicate
    * at 10⁵ files never even fetches the losers' headers; (2) header
    * min/max/null-count stats pruning on the survivors (one parallel
    * batched fetch, cached across queries over unchanged files). Files
    * written without stats are always kept.
    */
  private lazy val prunedRefs: Seq[ColfFileRef] =
    if (filters.isEmpty) absorbedRefs else pruneFiles(absorbedRefs, filters)

  /** Keep the files of `base` that may match every filter in `fs`:
    * partition values first (zero I/O), then the two-tier recorded-facts
    * and real-header stats pruning shared with the streaming source
    * ([[ColfPrune.pruneRefs]]).
    *
    * `_file` participates like a partition value (exactly known per
    * file, zero I/O) when it really is the metadata column: a static
    * `_file IN (...)` (compaction's group selection) or a runtime
    * `In(_file, ...)` (row-level group filtering) prunes to exactly those
    * files. A DATA column called `_file` must not be "evaluated" against
    * file paths (that would prune on garbage).
    */
  private def pruneFiles(base: Seq[ColfFileRef], fs: Seq[Filter]): Seq[ColfFileRef] = {
    val fileIsMeta = !fullSchema.fieldNames.contains(ColfUtil.FileMetaCol)
    val partKept = base.filter { r =>
      val vals =
        if (fileIsMeta) typedPartValues(r) + (ColfUtil.FileMetaCol -> r.path)
        else typedPartValues(r)
      fs.forall(ColfPartitions.mayMatch(vals, _))
    }
    ColfPrune.pruneRefs(partKept, fs, conf)
  }

  private def typedPartValues(r: ColfFileRef): Map[String, Any] =
    ColfUtil.typedPartValues(r, fullSchema)

  /** Under a pushed limit, take files (in name order) until their header
    * row counts cover it — a `limit 10` on a thousand-file directory opens
    * one data file. Always keep ≥1 file (when any survived pruning) so
    * schema/zero-row behavior holds.
    */
  /** LIVE rows of a file: recorded (or header) count minus its deletion
    * vector's masked rows — limit coverage counting full rows of a DV'd
    * file would under-deliver the limit.
    */
  private def numRowsOf(f: ColfFileRef): Long =
    (if (f.fileNumRows >= 0) f.fileNumRows
     else ColfHeaderCache.get(f, conf).schema.numRows) - f.dvRows

  private lazy val refs: Seq[ColfFileRef] = limit match {
    case None => prunedRefs
    case Some(n) =>
      var acc = 0L
      val taken = prunedRefs.takeWhile { f =>
        val take = acc < n
        if (take) acc += numRowsOf(f)
        take
      }
      if (taken.isEmpty) prunedRefs.take(1) else taken
  }

  /** Have per-file headers already been (or will be) loaded for planning?
    * Pruning and limit coverage force them; a plain full scan loads them
    * only while the directory is small. Exact row counts matter most
    * exactly when tables are small (broadcast-side decisions), which is
    * also when the batched header fetch is cheap; a 10⁵-file directory
    * doesn't need a precise count to be planned as "big".
    */
  private def headersNeeded: Boolean =
    filters.nonEmpty || absorbed.nonEmpty || limit.isDefined ||
      allRefs.lengthCompare(ColfScan.StatsExactMaxFiles) <= 0

  override def readSchema(): StructType = names.logSchema(required)

  override def toBatch: Batch = this

  override def description(): String = {
    val absorbedPart =
      if (absorbed.isEmpty) ""
      else s" PartitionFilters: [${absorbed.mkString(", ")}]" +
        s", files after partition pruning: ${absorbedRefs.length}/${allRefs.length}"
    val filterPart =
      if (filters.isEmpty) ""
      else s" PushedFilters: [${filters.mkString(", ")}]" +
        s", files after pruning: ${prunedRefs.length}/${allRefs.length}"
    s"colf ${paths.mkString(",")} [${required.fieldNames.mkString(", ")}]" +
      absorbedPart + filterPart + limit.map(n => s" PushedLimit: $n").getOrElse("")
  }

  // ------------------------------------------------- runtime filtering
  //
  // DPP-style execution-time pruning: when this scan joins a filtered
  // dimension, Spark hands the build side's join-key values here (as an
  // `In` filter piggybacking the existing broadcast — no extra job) and
  // the scan re-prunes FILES before planning tasks. Every table column is
  // filterable: partition-path values prune exactly, header min/max stats
  // prune ranges, and the per-column Blooms are tailor-made for exactly
  // this `In`-of-join-keys shape. Pruning is superset-safe (mayMatch),
  // and Spark still applies the real join predicate afterwards.

  private var runtimeFilters: Array[Filter] = Array.empty

  // Only columns in the scan OUTPUT are offerable (Spark resolves these
  // against the pruned read schema, not the table schema) — LOGICAL
  // names, like the read schema itself. Under SPJ, runtime filtering is
  // NOT offered: execution-time file pruning could change the
  // key-grouped partition count the reported partitioning promised.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (spjPartCols.nonEmpty) Array.empty
    else readSchema().fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  // runtime filters arrive logical; untranslatable shapes drop out of
  // the (optional, superset-safe) pruning rather than mis-prune
  override def filter(fs: Array[Filter]): Unit = {
    runtimeFilters = fs.flatMap(names.physFilter)
  }

  /** Re-prune `base` under the runtime filters (same two-tier path as the
    * static pruning: partition values first — zero I/O — then cached
    * headers).
    */
  private def applyRuntimeFilters(base: Seq[ColfFileRef]): Seq[ColfFileRef] =
    if (runtimeFilters.isEmpty) base else pruneFiles(base, runtimeFilters.toSeq)

  protected def plannedRefs: Seq[ColfFileRef] = applyRuntimeFilters(refs)

  // ------------------------------------- storage-partitioned joins (SPJ)
  //
  // Opt-in (`option("preservePartitioning","true")`, activated by the
  // builder only when every layout partition column is exact and
  // projected): the scan groups files by their hive partition-value
  // tuple — ONE InputPartition per tuple, carrying the tuple as a DSv2
  // partition key — and reports KeyGroupedPartitioning over the
  // partition columns. With spark.sql.sources.v2.bucketing.enabled,
  // Spark then plans colf⋈colf joins and aggregations ON the partition
  // columns with NO Exchange on the colf side(s) — at 100 TB, the
  // difference between a co-located merge of two day-partitioned tables
  // and shuffling both. The trade: task granularity becomes one task
  // per partition tuple (why it is opt-in, not the default plan).

  /** One group per distinct typed partition tuple, deterministic order. */
  private lazy val spjGroups: Seq[(Seq[Any], Seq[ColfFileRef])] =
    plannedRefs.groupBy { r =>
      val tv = typedPartValues(r)
      spjPartCols.map(pc => tv.getOrElse(pc, throw new IllegalStateException(
        s"colf: SPJ partition value for '$pc' missing on ${r.path} — " +
          "layout changed since the table was resolved")))
    // NUL-joined sort key, written as an ESCAPE so the source file stays
    // clean text (the r14 escape sweep). A space separator made
    // ("a b","c") and ("a","b c") collide, so "deterministic order"
    // silently depended on groupBy iteration order (ADVICE r14); NUL
    // cannot appear inside a rendered partition value.
    }.toSeq.sortBy(_._1.map(String.valueOf).mkString("\u0000"))

  private def spjActive: Boolean = spjPartCols.nonEmpty && spjGroups.nonEmpty

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        spjPartCols.map(pc => org.apache.spark.sql.connector.expressions.Expressions
          .identity(names.log(pc)))
          .toArray[org.apache.spark.sql.connector.expressions.Expression],
        spjGroups.length)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Size-based first-fit bin-packing — see [[ColfUtil.binPack]] — or,
    * under SPJ, one key-tagged partition per partition-value tuple.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    if (cdf)
      throw new IllegalArgumentException(
        "colf: readChangeFeed is a STREAMING surface (spark.readStream) — " +
          "for batch change capture use ColfMaintenance.diffVersions or " +
          "the colf_diff table function")
    if (spjActive) {
      spjGroups.map { case (key, refs) =>
        val inner = ColfInputPartition.of(refs)
        val vals = key.map {
          case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
          case v         => v
        }.toArray[Any]
        ColfSpjInputPartition(inner,
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
          : InputPartition
      }.toArray
    } else ColfUtil.binPack(plannedRefs)
  }

  /** Micro-batch streaming read of an append-only colf directory; offsets,
    * contract, and per-batch stats pruning in [[ColfMicroBatchStream]].
    *
    * Snapshot pins are batch-only: the stream plans from the LIVE
    * manifest view each batch, so silently accepting `versionAsOf` /
    * `changesSinceVersion` here would stream the wrong data (the latest
    * view instead of the pinned snapshot). Fail loudly instead — the
    * same contract as every other wrong-snapshot path.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (versionAsOf.isDefined || changesSince.isDefined)
      throw new IllegalArgumentException(
        "colf: versionAsOf/changesSinceVersion are batch-only — a stream " +
          "follows the live manifest view; drop the option (incremental " +
          "reads ARE the stream's own offset contract)")
    if (cdf) {
      require(paths.lengthCompare(1) == 0,
        s"colf: readChangeFeed follows ONE versioned table, got $paths")
      return new ColfChangeFeedStream(paths.head, required, conf,
        cdfStartingVersion, maxFilesPerTrigger)
    }
    new ColfMicroBatchStream(paths, required, mergeSchema, filters, conf,
      maxFilesPerTrigger, maxRowsPerTrigger, absorbed, fullSchema)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ColfPartitionReaderFactory(required, mergeSchema, new SerializableConfiguration(conf),
      // a DATA column literally named `_file` / `_pos` (legal in
      // CSV-converted inputs) must win over the metadata value — the
      // table also stops advertising the metadata column in that case
      fileMetaEnabled = !fullSchema.fieldNames.contains(ColfUtil.FileMetaCol),
      posMetaEnabled = !fullSchema.fieldNames.contains(ColfUtil.PosMetaCol))

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new ColfFilesListedMetric, new ColfFilesPlannedMetric)

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(ColfDriverMetric("colfFilesListed", allRefs.length.toLong),
      ColfDriverMetric("colfFilesPlanned", plannedRefs.length.toLong))

  /** Row counts are free when headers were already loaded for planning
    * (pruning/limit) — expose them exactly so Catalyst/AQE can size joins
    * and pick broadcast sides. A plain full scan must NOT pay a per-file
    * header fetch just for an estimate (minutes of driver time at 10⁵⁺
    * files): fall back to listing sizes × a conservative decompression
    * factor, with no row count.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      if (headersNeeded)
        OptionalLong.of(
          ColfHeaderCache.getAll(refs, conf).flatMap(_.metas.map(_.uncompSize)).sum)
      else
        OptionalLong.of(refs.map(_.size).sum * 4) // zlib-3 columnar blocks inflate ~2-4×
    override def numRows(): OptionalLong =
      // manifest-recorded counts are exact and FREE at any file count —
      // a versioned table gives AQE/broadcast decisions real cardinality
      // where an unrecorded 10⁵-file directory must stay silent
      if (refs.forall(_.fileNumRows >= 0))
        OptionalLong.of(refs.map(r => r.fileNumRows - r.dvRows).sum)
      else if (headersNeeded)
        OptionalLong.of(ColfHeaderCache.getAll(refs, conf).map(_.schema.numRows).sum -
          refs.map(_.dvRows).sum)
      else OptionalLong.empty()

    /** Per-column stats for Catalyst's cost-based estimation (Spark's
      * `transformV2Stats` folds these into logical `ColumnStat`s):
      * exact null counts always; exact min/max for NUMERIC columns
      * (CBO's range-selectivity inputs — string bounds are unused there
      * and their external/internal form is ambiguous). Derived entirely
      * from manifest-recorded facts — zero I/O, any file count — so a
      * versioned table under `spark.sql.cbo.enabled` gets real filter
      * selectivity and join-side estimates. Unrecorded tables report
      * nothing, as before.
      */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // deletion vectors invalidate per-column exactness (a masked row
      // may have held the min, or a null) — report nothing rather than
      // skewed estimates; compaction folds DVs and restores the stats
      if (refs.isEmpty || !refs.forall(r => r.recorded && r.dvRows == 0L)) return out
      val totalRows = refs.map(_.fileNumRows).sum
      // metadata columns (_file) are neither in file stats nor partition
      // values — the fold below would misreport them as all-null to CBO
      required.fields.filterNot(_.name == ColfUtil.FileMetaCol).foreach { fld =>
        val isPart = refs.head.partValues.contains(fld.name)
        var nulls = 0L
        var mn: Any = null
        var mx: Any = null
        var boundsOk = fld.dataType == IntegerType || fld.dataType == DoubleType
        def fold(v: Any): Unit = {
          if (mn == null || ColfPartitions.cmpValues(v, mn).exists(_ < 0)) mn = v
          if (mx == null || ColfPartitions.cmpValues(v, mx).exists(_ > 0)) mx = v
        }
        refs.foreach { r =>
          if (isPart) {
            // constant per file, never null, exactly typed
            if (boundsOk && r.fileNumRows > 0)
              fold(ColfUtil.typedPartValues(r, fullSchema)(fld.name))
          } else r.fileStats.get(fld.name) match {
            case Some(st) =>
              nulls += st.nullCount
              if (st.nullCount < r.fileNumRows) {
                // non-null values exist: both bounds must be recorded or
                // the column's extremes are unknowable from here
                if (st.min.isDefined && st.max.isDefined) {
                  if (boundsOk) { fold(st.min.get); fold(st.max.get) }
                } else boundsOk = false
              }
            case None =>
              // file predates the column (schema evolution): all null
              nulls += r.fileNumRows
          }
        }
        out.put(org.apache.spark.sql.connector.expressions.Expressions.column(fld.name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def nullCount(): OptionalLong = OptionalLong.of(nulls)
            override def min(): java.util.Optional[Object] =
              if (boundsOk && mn != null && totalRows > nulls)
                java.util.Optional.of(mn.asInstanceOf[Object])
              else java.util.Optional.empty()
            override def max(): java.util.Optional[Object] =
              if (boundsOk && mx != null && totalRows > nulls)
                java.util.Optional.of(mx.asInstanceOf[Object])
              else java.util.Optional.empty()
          })
      }
      out
    }
  }
}

object ColfScan {
  /** Directories up to this many files get exact header-derived statistics
    * even on unfiltered scans (one cached parallel fetch); larger ones fall
    * back to size-based estimates to keep planning free of per-file I/O.
    */
  val StatsExactMaxFiles = 64
}

/** SQL-UI metrics: how many files the directory listing found vs how many
  * survived stats pruning — the data-skipping win made visible per query
  * (a scan whose two numbers match under a selective filter means the
  * layout isn't sorted/range-partitioned on the filter column).
  */
private class ColfFilesListedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "colfFilesListed"
  override def description(): String = "colf files listed"
}
private class ColfFilesPlannedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "colfFilesPlanned"
  override def description(): String = "colf files planned after stats pruning"
}
private case class ColfDriverMetric(name: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

case class ColfInputPartition(files: Seq[String],
    partValues: Seq[Map[String, String]] = Seq.empty,
    dvs: Seq[String] = Seq.empty,
    emitOnlyDeleted: Boolean = false,
    priorDvs: Seq[String] = Seq.empty) extends InputPartition {
  /** Raw `k=v` values for file i (empty when the layout is flat). */
  def valuesFor(i: Int): Map[String, String] =
    if (partValues.isEmpty) Map.empty else partValues(i)
  /** Deletion-vector path for file i, or null (empty = no file of the
    * partition carries one). The reader emits the file's rows minus the
    * vector's ordinals.
    */
  def dvFor(i: Int): String = if (dvs.isEmpty) null else dvs(i)
  /** Change-feed retraction partitions ([[ColfChangeFeedStream]]):
    * `emitOnlyDeleted` INVERTS the deletion-vector semantics — the
    * reader emits EXACTLY the ordinals of `dvs(i)` minus `priorDvs(i)`
    * (the rows newly masked by one commit's vector growth), instead of
    * the surviving rows.
    */
  def priorDvFor(i: Int): String = if (priorDvs.isEmpty) null else priorDvs(i)
}

object ColfInputPartition {
  /** One scan partition over `refs`, in order; `dvs` stays empty when no
    * file carries a deletion vector.
    */
  def of(refs: Seq[ColfFileRef]): ColfInputPartition =
    ColfInputPartition(refs.map(_.path), refs.map(_.partValues),
      if (refs.exists(_.dvPath != null)) refs.map(_.dvPath) else Seq.empty)
}

/** Storage-partitioned-join partition: one hive partition-value tuple's
  * complete file set, carrying the tuple as the DSv2 partition key
  * ([[org.apache.spark.sql.connector.read.HasPartitionKey]]) so Spark's
  * v2 bucketing plans colf⋈colf joins on partition columns WITHOUT
  * shuffling either side ([[ColfScan.outputPartitioning]]).
  */
case class ColfSpjInputPartition(inner: ColfInputPartition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

class ColfPartitionReaderFactory(required: StructType, missingAsNull: Boolean = false,
    conf: SerializableConfiguration = new SerializableConfiguration(new Configuration()),
    fileMetaEnabled: Boolean = true, posMetaEnabled: Boolean = true)
    extends PartitionReaderFactory {
  private def unwrap(partition: InputPartition): ColfInputPartition = partition match {
    case s: ColfSpjInputPartition => s.inner
    case p                        => p.asInstanceOf[ColfInputPartition]
  }

  /** Every colf read is columnar: each file decodes to per-column arrays
    * anyway, so exposing them as one ColumnarBatch per file lets Spark's
    * codegen'd ColumnarToRow produce rows — no per-row GenericInternalRow
    * allocation, no boxing, and the scan participates in whole-stage
    * codegen. Deletion vectors and change-feed retractions become a
    * per-file row selection inside [[ColfColumnarReader]].
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException("colf partitions are read columnar only")

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new ColfColumnarReader(unwrap(partition), required,
      missingAsNull, conf, fileMetaEnabled, posMetaEnabled)
}

/** Per-file split of the required schema into decoder-read data columns
  * and path-derived partition constants (typed per the session schema).
  * `emit(i)` says where required field i comes from: Left(dataIdx) reads
  * the decoded column, Right([[ColfFilePlan.Pos]]) is the row's file
  * ordinal, any other Right(value) is the file-constant.
  */
private[colf] final class ColfFilePlan(required: StructType, raw: Map[String, String],
    file: String, fileMetaEnabled: Boolean = true, posMetaEnabled: Boolean = true) {
  val dataRequired: StructType = StructType(required.fields.filterNot(f =>
    raw.contains(f.name) || (fileMetaEnabled && f.name == ColfUtil.FileMetaCol) ||
      (posMetaEnabled && f.name == ColfUtil.PosMetaCol)))
  val emit: IndexedSeq[Either[Int, Any]] = {
    var d = -1
    required.fields.toIndexedSeq.map { f =>
      if (fileMetaEnabled && f.name == ColfUtil.FileMetaCol)
        Right(file) // metadata: source file path
      else if (posMetaEnabled && f.name == ColfUtil.PosMetaCol)
        Right(ColfFilePlan.Pos) // metadata: per-row ordinal, not a constant
      else if (raw.contains(f.name))
        Right(try ColfPartitions.typedValue(raw(f.name), ColfUtil.colfType(f.dataType))
        catch {
          case e: Exception => throw new java.io.IOException(
            s"colf: partition value '${raw(f.name)}' for column '${f.name}' does not " +
              s"parse as ${f.dataType.simpleString}", e)
        })
      else { d += 1; Left(d) }
    }
  }
}

private[colf] object ColfFilePlan {
  /** Sentinel emit value for the `_pos` metadata column. */
  case object Pos
}

/** Shared selective-decode: seek straight to each required block via the
  * header offsets (untouched columns cost zero I/O), validate per-file
  * types against the session schema, decompress + decode.
  */
private[colf] class ColfFileDecoder(file: String, required: StructType,
    missingAsNull: Boolean = false, conf: Configuration = new Configuration()) {
  private val expectedTypes: Map[String, ColfType] =
    required.fields.map(f => f.name -> ColfUtil.colfType(f.dataType)).toMap
  private val path = new Path(file)
  private val fs: FileSystem = path.getFileSystem(conf)
  private val in = fs.open(path)

  /** Any header-parse/validation/decode failure must not leak the open
    * stream: failed task attempts retry, and a leaked handle per retry per
    * file exhausts connection pools on remote filesystems.
    */
  private def guarded[T](f: => T): T = try f catch {
    case t: Throwable =>
      try in.close() catch { case _: Throwable => () }
      throw t
  }

  private val header = guarded(ColfCodec.readHeader(in))

  val numRows: Int = guarded {
    val n = header.schema.numRows
    require(n <= Int.MaxValue, s"File $file has $n rows; split into part files")
    n.toInt
  }

  val cols: Array[ColfCodec.DecodedColumn] = guarded(decodeAll())

  private def decodeAll(): Array[ColfCodec.DecodedColumn] = required.fieldNames.map { name =>
    val idx = header.schema.fields.indexWhere(_.name == name)
    if (idx < 0) {
      // Schema evolution (mergeSchema): this file predates the column —
      // read it as all-null. Without the option, fail with guidance.
      if (missingAsNull)
        ColfCodec.allNullColumn(expectedTypes(name), numRows)
      else
        throw new java.io.IOException(
          s"File $file has no column '$name'; the table schema came from another " +
            "file. Read with option(\"mergeSchema\", true) to treat columns " +
            "missing from older files as null")
    } else decodeOne(name, idx)
  }

  private def decodeOne(name: String, idx: Int): ColfCodec.DecodedColumn = {
    val meta = header.metas(idx)
    val tpe = header.schema.fields(idx).tpe
    // Per-file type check: the session schema comes from the FIRST file of
    // a directory; a mixed directory must fail clearly, not ClassCast or
    // silently corrupt (ADVICE r1).
    val expected = expectedTypes.get(name)
    if (expected.exists(_ != tpe))
      throw new java.io.IOException(
        s"File $file: column '$name' has COLF type ${tpe.name} but the table " +
          s"schema (from the first file read) expects ${expected.get.name}; " +
          "all .colf files in a directory must share one schema")
    if (meta.compSize == 0L) ColfCodec.allNullColumn(tpe, numRows)
    else {
      // Sizes are u64 on disk; a block over 2 GiB cannot be buffered in one
      // JVM array — fail with guidance instead of NegativeArraySizeException.
      require(meta.compSize <= Int.MaxValue && meta.uncompSize <= Int.MaxValue,
        s"File $file: column '$name' block is ${meta.uncompSize} bytes " +
          "(limit 2 GiB per column per file); split into more part files")
      in.seek(meta.offset)
      val comp = new Array[Byte](meta.compSize.toInt)
      in.readFully(comp)
      ColfCodec.decodeColumn(
        ColfCodec.decompress(comp, meta.uncompSize.toInt), tpe, numRows, meta.hasNulls)
    }
  }

  def close(): Unit = in.close()
}

/** Zero-copy vector view over a decoded COLF column: getters index the
  * decoded primitive arrays directly; strings wrap (blob, start, end)
  * slices without copying.
  */
private[colf] class ColfColumnVector(dec: ColfCodec.DecodedColumn)
    extends org.apache.spark.sql.vectorized.ColumnVector(ColfUtil.sparkType(dec.tpe)) {
  import org.apache.spark.unsafe.types.UTF8String

  override def close(): Unit = ()
  override def hasNull: Boolean = dec.nulls != null
  private lazy val nullCount: Int =
    if (dec.nulls == null) 0
    else { var n = 0; var i = 0; while (i < dec.nulls.length) { if (dec.nulls(i)) n += 1; i += 1 }; n }
  override def numNulls: Int = nullCount
  override def isNullAt(i: Int): Boolean = dec.isNullAt(i)
  override def getInt(i: Int): Int = dec.ints(i)
  override def getDouble(i: Int): Double = dec.doubles(i)
  override def getUTF8String(i: Int): UTF8String =
    if (dec.isNullAt(i)) null
    else UTF8String.fromBytes(dec.strBlob, dec.strStarts(i), dec.strEnds(i) - dec.strStarts(i))
  override def getBoolean(i: Int): Boolean = throw unsupported("boolean")
  override def getByte(i: Int): Byte = throw unsupported("byte")
  override def getShort(i: Int): Short = throw unsupported("short")
  override def getLong(i: Int): Long = throw unsupported("long")
  override def getFloat(i: Int): Float = throw unsupported("float")
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = throw unsupported("array")
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = throw unsupported("map")
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = throw unsupported("decimal")
  override def getBinary(i: Int): Array[Byte] = throw unsupported("binary")
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = throw unsupported("child")
  private def unsupported(t: String) =
    new UnsupportedOperationException(s"COLF vector has no $t accessor (type is ${dec.tpe.name})")
}

/** Constant vector for a partition-path column: every row of the file
  * shares the value, so the "column" is one boxed constant — zero
  * decode, zero storage.
  */
private[colf] class ColfConstantVector(dt: org.apache.spark.sql.types.DataType, value: Any)
    extends org.apache.spark.sql.vectorized.ColumnVector(dt) {
  import org.apache.spark.unsafe.types.UTF8String
  private val utf8 = value match {
    case s: String => UTF8String.fromString(s)
    case _         => null
  }
  override def close(): Unit = ()
  override def hasNull: Boolean = value == null
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = value == null
  override def getInt(i: Int): Int = value.asInstanceOf[Int]
  override def getDouble(i: Int): Double = value.asInstanceOf[Double]
  override def getUTF8String(i: Int): UTF8String = utf8
  override def getBoolean(i: Int): Boolean = throw unsupported("boolean")
  override def getByte(i: Int): Byte = throw unsupported("byte")
  override def getShort(i: Int): Short = throw unsupported("short")
  override def getLong(i: Int): Long = throw unsupported("long")
  override def getFloat(i: Int): Float = throw unsupported("float")
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = throw unsupported("array")
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = throw unsupported("map")
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = throw unsupported("decimal")
  override def getBinary(i: Int): Array[Byte] = throw unsupported("binary")
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = throw unsupported("child")
  private def unsupported(t: String) =
    new UnsupportedOperationException(s"COLF constant vector has no $t accessor")
}

/** `_pos` metadata vector: a batch spans exactly one file, so for a file
  * read whole the row's file ordinal IS its batch index — no backing
  * array, no allocation.
  */
private[colf] class ColfPositionVector
    extends org.apache.spark.sql.vectorized.ColumnVector(org.apache.spark.sql.types.LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long = i.toLong
  override def getInt(i: Int): Int = throw unsupported("int")
  override def getDouble(i: Int): Double = throw unsupported("double")
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String = throw unsupported("string")
  override def getBoolean(i: Int): Boolean = throw unsupported("boolean")
  override def getByte(i: Int): Byte = throw unsupported("byte")
  override def getShort(i: Int): Short = throw unsupported("short")
  override def getFloat(i: Int): Float = throw unsupported("float")
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray = throw unsupported("array")
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap = throw unsupported("map")
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = throw unsupported("decimal")
  override def getBinary(i: Int): Array[Byte] = throw unsupported("binary")
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = throw unsupported("child")
  private def unsupported(t: String) =
    new UnsupportedOperationException(s"COLF position vector has no $t accessor")
}

/** `_pos` of a file read through a row selection: batch row i is file
  * row `rows(i)` — deletes never renumber survivors.
  */
private[colf] final class ColfSelectedPositionVector(rows: Array[Int]) extends ColfPositionVector {
  override def getLong(i: Int): Long = rows(i).toLong
}

/** The COLF read: one batch per file, files in order; partition-path
  * columns ride as constant vectors. A file without a deletion vector
  * is served zero-copy from its decoded arrays. A file with one, or a
  * change-feed retraction ([[ColfInputPartition.emitOnlyDeleted]]), is
  * read through a row selection: each decoded column is gathered once
  * to the selected ordinals, and a file left with no selected row
  * emits no batch.
  */
class ColfColumnarReader(part: ColfInputPartition, required: StructType,
    missingAsNull: Boolean = false,
    conf: SerializableConfiguration = new SerializableConfiguration(new Configuration()),
    fileMetaEnabled: Boolean = true, posMetaEnabled: Boolean = true)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private val files = part.files
  private var fileIdx = -1
  private var dec: ColfFileDecoder = null
  private var batch: ColumnarBatch = null

  override def next(): Boolean = {
    close()
    while (batch == null) {
      fileIdx += 1
      if (fileIdx >= files.length) return false
      val file = files(fileIdx)
      val plan = new ColfFilePlan(required, part.valuesFor(fileIdx), file,
        fileMetaEnabled, posMetaEnabled)
      dec = new ColfFileDecoder(file, plan.dataRequired, missingAsNull, conf.value)
      val rows = selection(file, dec.numRows)
      if (rows != null && rows.isEmpty) close()
      else {
        val vectors = plan.emit.zipWithIndex.map {
          case (Left(d), _) =>
            new ColfColumnVector(if (rows == null) dec.cols(d) else dec.cols(d).select(rows)): ColumnVector
          case (Right(ColfFilePlan.Pos), _) =>
            if (rows == null) new ColfPositionVector else new ColfSelectedPositionVector(rows)
          case (Right(v), i) => new ColfConstantVector(required.fields(i).dataType, v): ColumnVector
        }
        batch = new ColumnarBatch(vectors.toArray, if (rows == null) dec.numRows else rows.length)
      }
    }
    true
  }

  /** Ascending ordinals of `file` to emit, or null for every row: the
    * complement of the file's deletion vector, or under `emitOnlyDeleted`
    * the vector minus the prior one (the rows one commit newly deleted).
    */
  private def selection(file: String, numRows: Int): Array[Int] = {
    val dv = part.dvFor(fileIdx)
    if (part.emitOnlyDeleted)
      ColfDeletes.diffSorted(deleted(file, dv, numRows),
        deleted(file, part.priorDvFor(fileIdx), numRows)).map(_.toInt)
    else if (dv == null) null
    else ColfDeletes.complement(deleted(file, dv, numRows), numRows)
  }

  /** The ordinals vector `dv` deletes from `file` (none for null). A
    * vector is read from disk, so every ordinal is checked against the
    * file before it can index a decoded column.
    */
  private def deleted(file: String, dv: String, numRows: Int): Array[Long] =
    if (dv == null) Array.empty[Long]
    else {
      val path = new Path(dv)
      val ords = ColfDeletes.readFile(path.getFileSystem(conf.value), path)
      ords.find(o => o < 0 || o >= numRows).foreach { o =>
        throw new java.io.IOException(
          s"colf: deletion vector $dv deletes row $o of $file, which has $numRows rows")
      }
      ords
    }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) { batch.close(); batch = null }
    if (dec != null) { dec.close(); dec = null }
  }
}
