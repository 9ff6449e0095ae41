package graft.sources.colf

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Manifest-based snapshot versioning for colf directories — the
  * "front a manifest-based table format" step [[ColfMaintenance.compact]]
  * points at, and the isolation layer a 1000-executor cluster needs:
  * with directory listing alone, an OVERWRITE's deferred deletes can
  * yank files out from under a concurrent reader mid-scan, and a
  * reader that lists during a commit sees a superset. With manifests,
  * every commit appends an immutable version file and every read plans
  * from ONE version's exact file list — writers never disturb a
  * running scan, and old versions stay readable until vacuumed.
  *
  * Layout: `dir/_graft_versions/v%012d.json`, each the COMPLETE live
  * set at that version: `{"version":N,"files":[{"p":relPath,"s":size,
  * "m":mtime},...]}`. Relative paths keep the table relocatable; size
  * and mtime ride along so planning needs zero per-file status RPCs
  * (same contract as the directory listing). The underscore prefix
  * keeps the subdirectory invisible to the data-file walk AND to the
  * reference reader's tooling.
  *
  * Versioning is OPT-IN per table: the first write with
  * `option("manifest", "true")` creates v1; from then on every commit
  * through this connector (batch append/overwrite, dynamic/static
  * partition overwrite, DELETE FROM, streaming epochs, compaction)
  * appends the next version, and overwritten/deleted files are
  * RETAINED on disk for older versions until
  * [[ColfMaintenance.vacuumVersions]] prunes them. Tables without a
  * `_graft_versions` directory behave exactly as before (listing-based
  * planning, physical deletes at commit).
  *
  * Concurrency: a version file is written to a dot-temp and renamed —
  * rename-to-existing fails on Hadoop filesystems, so two racing
  * committers cannot both claim version N; the loser recomputes from
  * the new latest and retries (bounded optimistic retry).
  */
object ColfVersions {

  val VersionsDir = "_graft_versions"

  /** One live data file: path RELATIVE to the table root (k=v partition
    * segments included), plus the size/mtime planning needs.
    *
    * `schema` is the file's own column list (the exact fields its header
    * declares) when the committing writer recorded it — `null` for
    * entries from pre-schema manifests or disk listings. With it, table
    * resolution (including the union/mergeSchema path every catalog
    * table takes) reads ONE manifest instead of one header per file —
    * the difference between O(1) and 10⁵ driver RPCs before the first
    * query can even plan. Serialized dictionary-style (schemas repeat
    * across files; evolution events are rare), so manifest size grows by
    * ~one schema copy per evolution, not per file.
    *
    * `numRows` / `stats` (per-column null-count + min/max, no blooms)
    * extend the same move to FILE PRUNING and row-count planning: the
    * scan evaluates pushed filters against manifest-recorded bounds and
    * fetches real headers only for files a Bloom probe could still skip
    * — so a selective query over 10⁵ files plans from one manifest read
    * instead of 10⁵ header RPCs, and `estimateStatistics` reports exact
    * row counts at any file count. -1 / null = unrecorded (pre-stats
    * manifests): the scan falls back to header fetches, as before.
    *
    * `dv` / `dvRows` reference this file's deletion vector
    * ([[ColfDeletes]]): the root-relative path of the position-delete
    * file masking `dvRows` of this file's rows, or null/0 when no rows
    * are deleted. A merge-on-read DELETE/UPDATE repoints `dv` at a new
    * merged vector in the next version; the data file itself is
    * immutable throughout.
    */
  final case class Entry(relPath: String, size: Long, mtime: Long,
      schema: Seq[ColfField] = null, numRows: Long = -1L,
      stats: Map[String, ColfColStats] = null,
      dv: String = null, dvRows: Long = 0L)

  /** The table's DECLARED schema — the catalog-DDL surface. `fields` is
    * the full LOGICAL schema in declared order (partition columns
    * included), `parts` names which of them are hive-layout partition
    * columns (logical names). When a version carries one, table
    * resolution returns IT — not the union of file schemas — so `CREATE
    * TABLE` can declare an empty table's shape, `ALTER TABLE ADD
    * COLUMN` makes a column visible before any file stores it (older
    * files read it as null), and `ALTER TABLE DROP COLUMN` is
    * metadata-only (files keep the bytes; scans stop projecting them).
    * Absent (`None`) on tables never touched by DDL: resolution falls
    * back to file schemas exactly as before, so pre-DDL manifests and
    * listing-based tables are unaffected. Carried forward by every
    * commit unless the commit explicitly changes it (the DDL paths in
    * [[graft.sources.colf.ColfCatalog]]).
    *
    * `physical` maps logical column name → the PHYSICAL name stored in
    * data files and partition directories, for columns that have been
    * RENAMED (identity entries are omitted; empty = no renames). The
    * physical name never changes after a column is first declared —
    * renames are pure metadata, old files stay readable, and new writes
    * keep storing the physical name so the reference reader sees one
    * stable column name per table lifetime (column-mapping, as in
    * Delta/Iceberg, minus the id indirection the format cannot store).
    *
    * `props` holds persisted TABLE PROPERTIES (CREATE TABLE
    * OPTIONS/TBLPROPERTIES, ALTER TABLE SET/UNSET TBLPROPERTIES) — most
    * importantly `dmlMode`, so a table declared merge-on-read stays
    * merge-on-read for every session without per-operation confs.
    * Loaded back into the table's options at catalog resolution.
    */
  final case class TableMeta(fields: Seq[ColfField], parts: Seq[String],
      physical: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty) {
    require(parts.forall(p => fields.exists(_.name == p)),
      s"colf: declared partition columns ${parts.mkString(",")} must appear " +
        s"in the declared schema (${fields.map(_.name).mkString(",")})")
    require(physical.keySet.forall(l => fields.exists(_.name == l)),
      s"colf: physical-name mapping references undeclared columns " +
        s"(${physical.keySet.filterNot(l => fields.exists(_.name == l)).mkString(",")})")

    /** Physical (stored) name of logical column `l`. */
    def physicalOf(l: String): String = physical.getOrElse(l, l)
  }

  private val mapper = new ObjectMapper()

  private def versionsPath(root: Path): Path = new Path(root, VersionsDir)

  private def versionFile(root: Path, v: Long): Path =
    new Path(versionsPath(root), f"v$v%012d.json")

  /** Is versioning enabled on this table (any manifest present)? */
  def enabled(fs: FileSystem, root: Path): Boolean =
    latestVersion(fs, root).isDefined

  /** All committed versions, ascending. */
  def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val vp = versionsPath(root)
    if (!fs.exists(vp)) return Seq.empty
    fs.listStatus(vp).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toLong).toOption)
      .sorted
  }

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    listVersions(fs, root).lastOption

  /** A version's composition: ordered (segmentName, rawMembers) pairs —
    * name null for entries inlined in the version file itself — plus the
    * tombstoned relPaths masking dead members of carried-forward
    * segments. `entries` is the live view every caller consumes.
    */
  private[colf] final case class View(segs: Seq[(String, Seq[Entry])],
      dead: Set[String], meta: Option[TableMeta] = None) {
    def entries: Seq[Entry] =
      if (dead.isEmpty) segs.flatMap(_._2)
      else segs.flatMap(_._2).filterNot(e => dead(e.relPath))
  }

  /** Read one version's entries. Fails loudly on a missing version —
    * either it never existed or vacuum pruned it — and on a malformed
    * manifest, NAMING the corrupt file (a planning-time NPE from deep
    * inside Jackson would be undiagnosable at 10⁵ files).
    */
  def read(fs: FileSystem, root: Path, version: Long): Seq[Entry] =
    readView(fs, root, version).entries

  private[colf] def readView(fs: FileSystem, root: Path, version: Long): View = {
    val p = versionFile(root, version)
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"colf: version $version of $root does not exist " +
          s"(available: ${listVersions(fs, root).mkString(", ")})")
    try {
      val in = fs.open(p)
      val node = try mapper.readTree(in) finally in.close()
      val meta = parseMeta(node)
      if (node.has("files")) {
        // inline format: small tables and every pre-sharding manifest
        View(Seq((null: String) -> parseBody(node)), Set.empty, meta)
      } else {
        // sharded format: the version file references immutable entry
        // SEGMENTS (written once, reused across versions) plus the
        // tombstones masking their dead members — a commit then writes
        // new entries + touched segments, not the whole table
        val sn = node.get("segs")
        require(sn != null && sn.isArray, "no 'files' or 'segs' array")
        val names = (0 until sn.size()).map(sn.get(_).asText())
        val dn = node.get("dead")
        val dead: Set[String] =
          if (dn == null || !dn.isArray) Set.empty
          else (0 until dn.size()).map(dn.get(_).asText()).toSet
        val segs = ColfHeaderCache.mapParallel(names)(n =>
          n -> readSegment(fs, root, n))
        View(segs, dead, meta)
      }
    } catch {
      case e: IllegalArgumentException if e.getMessage.startsWith("colf:") => throw e
      case e: Exception =>
        throw new IllegalArgumentException(
          s"colf: manifest $p is corrupt (${e.getMessage}) — " +
            "restore it or vacuum past it", e)
    }
  }

  /** Segments are immutable by construction (uuid-named, written once,
    * never modified), so the name→entries cache needs no invalidation
    * key — repeated plans over a big table parse each segment once per
    * driver. LRU-capped like the header cache.
    */
  private val segCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[Entry]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Entry]]): Boolean = size() > 512
    })

  private def readSegment(fs: FileSystem, root: Path, name: String): Seq[Entry] = {
    val p = new Path(versionsPath(root), name)
    val key = fs.makeQualified(p).toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val in = fs.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val es = parseBody(node)
    segCache.put(key, es)
    es
  }

  /** Parse a manifest/segment entry body (schema dictionary + entries). */
  private def parseBody(node: com.fasterxml.jackson.databind.JsonNode): Seq[Entry] = {
      // Schema dictionary (absent in pre-schema manifests: entries then
      // carry null and resolution falls back to reading file headers).
      val sn = node.get("schemas")
      val schemas: IndexedSeq[Seq[ColfField]] =
        if (sn == null || !sn.isArray) IndexedSeq.empty
        else (0 until sn.size()).map { i =>
          val arr = sn.get(i)
          require(arr.isArray, s"schema $i is not an array")
          (0 until arr.size()).map { j =>
            val f = arr.get(j)
            require(f.hasNonNull("n") && f.hasNonNull("t") && f.hasNonNull("nl"),
              s"schema $i field $j missing n/t/nl")
            ColfField(f.get("n").asText(), ColfType.fromName(f.get("t").asText()),
              f.get("nl").asBoolean())
          }
        }
      val files = node.get("files")
      require(files != null && files.isArray, "no 'files' array")
      (0 until files.size()).map { i =>
        val f = files.get(i)
        require(f.hasNonNull("p") && f.hasNonNull("s") && f.hasNonNull("m"),
          s"entry $i missing p/s/m")
        val sc = if (f.hasNonNull("sc")) f.get("sc").asInt() else -1
        require(sc < schemas.length, s"entry $i schema index $sc out of range")
        val schema = if (sc >= 0) schemas(sc) else null
        val numRows = if (f.hasNonNull("r")) f.get("r").asLong() else -1L
        // column stats type against the entry's own recorded schema;
        // stats without a schema are unusable (bounds would be untyped)
        val st = f.get("st")
        val stats: Map[String, ColfColStats] =
          if (st == null || !st.isObject || schema == null) null
          else {
            val types = schema.map(fl => fl.name -> fl.tpe).toMap
            val b = Map.newBuilder[String, ColfColStats]
            val names = st.fieldNames()
            while (names.hasNext) {
              val col = names.next()
              types.get(col).foreach { tpe =>
                val cs = st.get(col)
                def bound(key: String): Option[Any] =
                  if (!cs.hasNonNull(key)) None
                  else Some(tpe match {
                    case ColfType.Int32   => cs.get(key).asInt()
                    case ColfType.Float64 => cs.get(key).asDouble()
                    case ColfType.Utf8    => cs.get(key).asText()
                  })
                b += col -> ColfColStats(
                  if (cs.hasNonNull("nc")) cs.get("nc").asLong() else 0L,
                  bound("mn"), bound("mx"))
              }
            }
            b.result()
          }
        val dv = if (f.hasNonNull("dv")) f.get("dv").asText() else null
        val dvRows = if (f.hasNonNull("dr")) f.get("dr").asLong() else 0L
        Entry(f.get("p").asText(), f.get("s").asLong(), f.get("m").asLong(),
          schema, numRows, stats, dv, dvRows)
      }
  }

  /** Declared-schema fields of a version header: `"tschema":[{n,t,nl}…],
    * "parts":[…]`. Absent keys (every pre-DDL manifest) → None.
    */
  private def parseMeta(node: com.fasterxml.jackson.databind.JsonNode): Option[TableMeta] = {
    val ts = node.get("tschema")
    if (ts == null || !ts.isArray) None
    else {
      val physical = Map.newBuilder[String, String]
      val fields = (0 until ts.size()).map { j =>
        val f = ts.get(j)
        require(f.hasNonNull("n") && f.hasNonNull("t") && f.hasNonNull("nl"),
          s"tschema field $j missing n/t/nl")
        val name = f.get("n").asText()
        if (f.hasNonNull("pn")) physical += name -> f.get("pn").asText()
        ColfField(name, ColfType.fromName(f.get("t").asText()),
          f.get("nl").asBoolean())
      }
      val pn = node.get("parts")
      val parts =
        if (pn == null || !pn.isArray) Seq.empty[String]
        else (0 until pn.size()).map(pn.get(_).asText())
      val pr = node.get("props")
      val props: Map[String, String] =
        if (pr == null || !pr.isObject) Map.empty
        else {
          val b = Map.newBuilder[String, String]
          val it = pr.fieldNames()
          while (it.hasNext) { val k = it.next(); b += k -> pr.get(k).asText() }
          b.result()
        }
      Some(TableMeta(fields, parts, physical.result(), props))
    }
  }

  /** Render the declared-schema header fields (after "ts", before the
    * entry body — [[commitTime]] reads only the first bytes and must
    * still find "ts" there).
    */
  private def renderMeta(meta: Option[TableMeta], sb: StringBuilder): Unit =
    meta.foreach { m =>
      sb.append(""","tschema":[""")
      m.fields.zipWithIndex.foreach { case (f, j) =>
        if (j > 0) sb.append(',')
        val pn = m.physical.get(f.name)
          .map(p => s""","pn":"${esc(p)}"""").getOrElse("")
        sb.append(s"""{"n":"${esc(f.name)}","t":"${f.tpe.name}","nl":${f.nullable}$pn}""")
      }
      sb.append(']')
      if (m.parts.nonEmpty) {
        sb.append(""","parts":[""")
        m.parts.zipWithIndex.foreach { case (p, j) =>
          if (j > 0) sb.append(',')
          sb.append('"').append(esc(p)).append('"')
        }
        sb.append(']')
      }
      if (m.props.nonEmpty) {
        sb.append(""","props":{""")
        m.props.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), j) =>
          if (j > 0) sb.append(',')
          sb.append('"').append(esc(k)).append("\":\"").append(esc(v)).append('"')
        }
        sb.append('}')
      }
    }

  /** Cache key for a version file: qualified path + mtime + length.
    * Version files are immutable while a table LIVES, but a table
    * dropped and recreated at the same path is reborn with a fresh
    * `v00000001.json` — a path-only key would keep serving the dead
    * incarnation's values (stale declared schema, stale `TIMESTAMP AS
    * OF` resolution, a prior query's applied-batch id tripping the
    * severance guard; VERDICT r16 #1). (path, mtime, length) is the
    * same file identity [[ColfHeaderCache]] uses via [[ColfFileRef]];
    * the extra `getFileStatus` is one metadata round-trip per miss or
    * recheck, negligible next to the open+read it guards.
    */
  private def versionCacheKey(fs: FileSystem, root: Path, version: Long): String = {
    val p = versionFile(root, version)
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        // same diagnosable error readView raises — a vacuumed/never-
        // existed version must not surface as a raw FS stack trace
        throw new IllegalArgumentException(
          s"colf: version $version of $root does not exist " +
            s"(available: ${listVersions(fs, root).mkString(", ")})")
    }
    s"${fs.makeQualified(p)}@${st.getModificationTime}:${st.getLen}"
  }

  /** The declared table schema at `version` (default: latest), or None
    * when the table is unversioned or no DDL ever declared one. One
    * version-file read; results cache with the (immutable) version file,
    * keyed by (path, mtime, length) so a recreated table misses.
    */
  def tableMeta(fs: FileSystem, root: Path, version: Option[Long] = None): Option[TableMeta] = {
    val v = version.orElse(latestVersion(fs, root)).getOrElse(return None)
    val key = versionCacheKey(fs, root, v)
    metaCache.get(key) match {
      case null =>
        // corruption propagates (resolution would fail on the entries
        // anyway) — a silent None here would quietly fall back to
        // union-of-files schema and unhide dropped columns
        val m = readView(fs, root, v).meta
        metaCache.put(key, m)
        m
      case hit => hit
    }
  }

  private val metaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[TableMeta]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[TableMeta]]): Boolean = size() > 4096
    })

  /** Entries of the latest version, or None when versioning is off. */
  def latest(fs: FileSystem, root: Path): Option[(Long, Seq[Entry])] =
    latestVersion(fs, root).map(v => v -> read(fs, root, v))

  /** A version's commit time: the `ts` field the committer EMBEDDED in
    * the manifest JSON, falling back to the manifest file's mtime for
    * pre-ts manifests. The embedded field is what survives a table
    * copy/restore/relocation — file mtimes silently become the copy
    * time, so resolving `TIMESTAMP AS OF` from them would time-travel a
    * restored table to the wrong snapshots. Cached per
    * (path, mtime, length) — see [[versionCacheKey]].
    */
  def commitTime(fs: FileSystem, root: Path, version: Long): Long = {
    val p = versionFile(root, version)
    val key = versionCacheKey(fs, root, version)
    val hit = tsCache.get(key)
    if (hit != null) return hit
    val st = fs.getFileStatus(p)
    // the header is rendered first ({"version":N,"ts":T,...}) — read one
    // small block, not the (possibly inline-2048-entry) whole manifest
    val in = fs.open(p)
    val head = try {
      val buf = new Array[Byte](256)
      var off = 0
      var n = 0
      while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
        off += n
      new String(buf, 0, off, "UTF-8")
    } finally in.close()
    val ts = TsField.findFirstMatchIn(head).map(_.group(1).toLong)
      .getOrElse(st.getModificationTime)
    tsCache.put(key, ts)
    ts
  }

  private val TsField = """"ts":(\d+)""".r
  private val tsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size() > 4096
    })

  /** A version's OPERATION label ("append", "overwrite", "dml.mor", …),
    * embedded by the committer; "commit" for pre-op manifests. Same
    * head-bytes read as [[commitTime]] — ts and op render first.
    */
  def commitOp(fs: FileSystem, root: Path, version: Long): String = {
    val p = versionFile(root, version)
    val key = versionCacheKey(fs, root, version)
    val hit = opCache.get(key)
    if (hit != null) return hit
    val in = fs.open(p)
    val head = try {
      val buf = new Array[Byte](256)
      var off = 0
      var n = 0
      while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
        off += n
      new String(buf, 0, off, "UTF-8")
    } finally in.close()
    val op = OpField.findFirstMatchIn(head).map(_.group(1)).getOrElse("commit")
    opCache.put(key, op)
    op
  }

  private val OpField = """"op":"([^"\\]+)"""".r
  private val opCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, String]): Boolean = size() > 4096
    })

  /** COMMIT properties of one version: the `"cprops"` header object the
    * committer embedded in the version file itself. Unlike
    * [[TableMeta.props]] (declared table properties, carried forward by
    * every commit), cprops are VERSION-SCOPED facts about one commit —
    * e.g. the streaming batch id a foreachBatch maintenance loop applied
    * — and they become visible ATOMICALLY with the data the version
    * publishes: there is no instant where the commit is live but its
    * cprops are not, which is exactly the double-apply window a separate
    * marker file leaves open (VERDICT r15 #1). Empty for versions whose
    * committer staged none. Cached per (path, mtime, length) — see
    * [[versionCacheKey]].
    */
  def commitProps(fs: FileSystem, root: Path, version: Long): Map[String, String] = {
    val p = versionFile(root, version)
    val key = versionCacheKey(fs, root, version)
    val hit = cpropsCache.get(key)
    if (hit != null) return hit
    val in = fs.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val cn = node.get("cprops")
    val out: Map[String, String] =
      if (cn == null || !cn.isObject) Map.empty
      else {
        val b = Map.newBuilder[String, String]
        val it = cn.fieldNames()
        while (it.hasNext) { val k = it.next(); b += k -> cn.get(k).asText() }
        b.result()
      }
    cpropsCache.put(key, out)
    out
  }

  private val cpropsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, String]]): Boolean = size() > 4096
    })

  /** Newest value of commit property `key` across the table's versions
    * (newest-first scan, stopping at the first version that carries it) —
    * robust to interleaved commits that stage no cprops (a compaction
    * between two maintenance batches must not erase the applied-batch
    * record). None when no version carries the key or the table is
    * unversioned. Scan length is bounded by vacuum retention, and the
    * common case (the latest commit staged it) reads one version file.
    */
  def latestCommitProp(fs: FileSystem, root: Path, key: String): Option[String] = {
    listVersions(fs, root).reverseIterator
      .map(v => commitProps(fs, root, v).get(key))
      .collectFirst { case Some(v) => v }
  }

  /** The newest version committed at or before `tsMillis` (embedded
    * manifest commit times, mtime fallback — see [[commitTime]]). Backs
    * SQL `TIMESTAMP AS OF`. Fails loudly on an unversioned table and on
    * a timestamp before the first commit. Linear over the version list
    * rather than a binary search: a restored table mixing pre-ts
    * manifests (whose mtimes jumped to the copy time) with embedded-ts
    * ones need not be monotone, and the version count is bounded by
    * vacuum retention, not table size.
    */
  def versionAt(fs: FileSystem, root: Path, tsMillis: Long): Long = {
    val vs = listVersions(fs, root)
    require(vs.nonEmpty, s"colf: $root is not a versioned table (no manifests)")
    val committed = vs.map(v => v -> commitTime(fs, root, v))
    val at = committed.filter(_._2 <= tsMillis)
    if (at.isEmpty)
      throw new IllegalArgumentException(
        s"colf: no version of $root existed at epoch-millis $tsMillis " +
          s"(first commit: version ${committed.head._1} at ${committed.head._2})")
    at.map(_._1).max
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
  }

  /** Render the version-scoped commit-properties object (after op,
    * before the declared-schema fields — ts/op head-reads are unmoved).
    */
  private def renderCprops(cprops: Map[String, String], sb: StringBuilder): Unit =
    if (cprops.nonEmpty) {
      sb.append(""","cprops":{""")
      cprops.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), j) =>
        if (j > 0) sb.append(',')
        sb.append('"').append(esc(k)).append("\":\"").append(esc(v)).append('"')
      }
      sb.append('}')
    }

  /** Inline version file: header + full entry body. `ts` (epoch millis)
    * embeds the commit time in the manifest itself — the durable record
    * [[commitTime]] prefers over the copy-fragile file mtime.
    */
  private def render(version: Long, entries: Seq[Entry],
      meta: Option[TableMeta], op: String,
      cprops: Map[String, String] = Map.empty): Array[Byte] = {
    val sb = new StringBuilder
    // ts and op render FIRST — commitTime/commitOp read only the head
    sb.append(s"""{"version":$version,"ts":${System.currentTimeMillis()},"op":"${esc(op)}"""")
    renderCprops(cprops, sb)
    renderMeta(meta, sb)
    renderBody(entries, sb)
    sb.append('}')
    sb.toString.getBytes("UTF-8")
  }

  /** Immutable entry segment (same body as an inline manifest — one
    * parser reads both; the leading marker field is ignored on read).
    */
  private def renderSegment(entries: Seq[Entry]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("""{"format":"colf-seg"""")
    renderBody(entries, sb)
    sb.append('}')
    sb.toString.getBytes("UTF-8")
  }

  /** Append `,"schemas":[…],"files":[…]` for `entries`. */
  private def renderBody(entries: Seq[Entry], sb: StringBuilder): Unit = {
    // distinct file schemas, first-appearance order; entries reference by
    // index ("sc"). Unknown (null) schemas serialize as no "sc" key.
    val schemas = entries.collect { case e if e.schema != null => e.schema }.distinct
    val schemaIdx: Map[Seq[ColfField], Int] = schemas.zipWithIndex.toMap
    if (schemas.nonEmpty) {
      sb.append(""","schemas":[""")
      schemas.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) sb.append(',')
        sb.append('[')
        s.zipWithIndex.foreach { case (f, j) =>
          if (j > 0) sb.append(',')
          // column names come from validated write schemas but may hold
          // any UTF-8 (CSV-inherited headers) — escape like relPaths
          sb.append(s"""{"n":"${esc(f.name)}","t":"${f.tpe.name}","nl":${f.nullable}}""")
        }
        sb.append(']')
      }
      sb.append(']')
    }
    sb.append(""","files":[""")
    entries.zipWithIndex.foreach { case (e, i) =>
      if (i > 0) sb.append(',')
      // relPaths come from our own writers (no quotes/control chars possible
      // in k=v segments or part names), but escape defensively anyway
      val sc =
        if (e.schema == null) "" else s""","sc":${schemaIdx(e.schema)}"""
      sb.append(s"""{"p":"${esc(e.relPath)}","s":${e.size},"m":${e.mtime}$sc""")
      if (e.numRows >= 0) sb.append(s""","r":${e.numRows}""")
      if (e.dv != null) sb.append(s""","dv":"${esc(e.dv)}","dr":${e.dvRows}""")
      // stats render in schema field order (determinism) and only WITH a
      // schema — parsing types each bound against the recorded column type
      if (e.stats != null && e.schema != null) {
        sb.append(""","st":{""")
        var first = true
        e.schema.foreach { f =>
          e.stats.get(f.name).foreach { st =>
            if (!first) sb.append(',')
            first = false
            sb.append(s""""${esc(f.name)}":{"nc":${st.nullCount}""")
            st.min.foreach(v => sb.append(s""","mn":${ColfSchema.statJson(v)}"""))
            st.max.foreach(v => sb.append(s""","mx":${ColfSchema.statJson(v)}"""))
            sb.append('}')
          }
        }
        sb.append('}')
      }
      sb.append('}')
    }
    sb.append(']')
  }

  /** Per-table-root monitors serializing SAME-PROCESS appends: local
    * filesystems rename with plain POSIX semantics (destination silently
    * overwritten, data and .crc sidecar renamed non-atomically), so two
    * threads of one driver racing the same slot could interleave into a
    * checksum-corrupt manifest. Cross-PROCESS claims go through
    * [[publish]], whose guarantee is per-scheme (see there).
    */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically publish version file `dst` from fully-written `tmp`:
    * true iff THIS caller claimed the slot. The cross-process guarantee
    * is per scheme:
    *
    *  - `file:` — exists()+rename() is a TOCTOU (POSIX rename silently
    *    OVERWRITES an existing destination, so two processes can both
    *    "claim" version N and one commit vanishes). The claim is a
    *    hard link instead: link(2) fails with EEXIST atomically AND
    *    makes the complete content visible in one shot — the POSIX
    *    atomic-publish primitive.
    *  - HDFS (and any FS whose rename is atomic fail-if-destination-
    *    exists) — tmp + rename, the classic manifest commit.
    *  - Object stores without atomic rename-if-absent need an external
    *    committer lock, as with every rename-based table format; the
    *    same-JVM monitor still serializes single-driver commits there.
    */
  private[graft] def publish(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    if (fs.getScheme == "file") {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath)
      try { java.nio.file.Files.createLink(d, t); fs.delete(tmp, false); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // file:-mounted filesystems without hard links (CIFS, some NFS):
        // link(2) fails for every commit, not just contended ones — fall
        // back to exists+rename, accepting its weaker (TOCTOU) guarantee
        // rather than making the table unwritable on such mounts.
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          !fs.exists(dst) && fs.rename(tmp, dst)
      }
    } else {
      // rename-to-existing returns false on HDFS-semantics filesystems:
      // the slot was claimed by a concurrent committer
      !fs.exists(dst) && fs.rename(tmp, dst)
    }
  }

  /** Append the next version: `compute` receives the OBSERVED latest
    * (version, entries) — or None on an unversioned table — and returns
    * the complete live set for the new version. The entry set is always
    * derived inside the claim loop against the basis actually observed,
    * so a commit can never be built from a stale snapshot and silently
    * drop a concurrent commit's files (the lost-update failure a
    * precomputed entry list invites). Optimistic: a racing committer
    * that claims the slot first makes the rename fail; `compute` then
    * re-derives against the new latest and the claim retries. Returns
    * the committed version.
    */
  def append(fs: FileSystem, root: Path,
      compute: Option[(Long, Seq[Entry])] => Seq[Entry],
      maxRetries: Int = 5,
      freshSegments: Boolean = false,
      metaUpdate: (Option[TableMeta], Seq[Entry]) => Option[TableMeta] =
        (m, _) => m,
      op: String = "commit"): Long = {
    val qualified = fs.makeQualified(root).toString
    // Staged commit properties ride into THIS commit's version file —
    // consumed exactly once, whichever write path (batch append, CoW/MoR
    // DML, DDL, compaction) carries the commit. See [[ColfCommitProps]].
    val cprops = ColfCommitProps.take(qualified)
    val lock = appendLocks.computeIfAbsent(qualified, _ => new Object)
    lock.synchronized {
      var attempt = 0
      while (true) {
        val basisV = latestVersion(fs, root)
        val basisView = basisV.map(readView(fs, root, _))
        val basisEntries = basisView.map(_.entries)
        val next = basisV.getOrElse(0L) + 1
        val current = compute(basisV.zip(basisEntries))
        // The declared schema (DDL) carries forward by DEFAULT: data
        // commits never touch it, so an ALTER is never lost to a racing
        // append. Like `compute`, the update runs INSIDE the claim loop
        // against the basis actually observed — a racing DDL makes the
        // loser re-derive, not overwrite.
        val meta = metaUpdate(basisView.flatMap(_.meta), current)
        val vp = versionsPath(root)
        if (!fs.exists(vp)) fs.mkdirs(vp)
        // Small version → inline (one file, trivially atomic). Big →
        // sharded: the commit's write cost is proportional to what
        // CHANGED plus the version file, not to the table's file count —
        // the property that keeps a 10⁵-file table's commits O(delta).
        // Segments written by an attempt that then loses the claim race
        // are orphans (unreferenced by any version) and vacuumable.
        // freshSegments (manifest rewrite): ignore the basis layout so
        // every entry lands in brand-new segments — tombstones fold away
        val bytes =
          if (current.lengthCompare(InlineMaxEntries) <= 0)
            render(next, current, meta, op, cprops)
          else renderSharded(fs, root,
            if (freshSegments) None else basisView, current, next, meta, op, cprops)
        val tmp = new Path(vp, s".v$next-${java.util.UUID.randomUUID()}.json.tmp")
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        val dst = versionFile(root, next)
        if (publish(fs, tmp, dst)) return next
        fs.delete(tmp, false)
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"colf: lost the manifest race $maxRetries times at $root — " +
              "pathological commit contention")
      }
      -1 // unreachable
    }
  }

  /** Version files inline their entries up to this count; above it they
    * reference immutable segments. Vars so specs can force sharding on
    * small tables; production never mutates them.
    */
  @volatile private[graft] var InlineMaxEntries: Int = 2048
  @volatile private[graft] var SegmentMaxEntries: Int = 8192
  /** A carried-forward segment is rewritten once this fraction of its
    * members is dead — bounding both tombstone-list growth and the wasted
    * parse work of mostly-dead segments.
    */
  private val SegmentRewriteDeadRatio = 0.5

  /** Sharded version file: reuse every basis segment whose members are
    * (mostly) still live, tombstone the dead ones, and write only the
    * remaining entries into fresh segments. Segment reuse is by NAME —
    * their content is immutable — so an unchanged 10⁵-file table costs a
    * commit one new segment plus one version file.
    *
    * Correctness invariant (checked, fail-loudly): the view the new
    * version file reconstructs — kept segments minus tombstones plus new
    * segments — must equal `current` exactly. Path-collision edge cases
    * (a relPath dead in one keepable segment but live in another, e.g.
    * after a remove + byte-identical re-add) force a rewrite of the
    * conflicting segment instead of risking a tombstone that masks a
    * live member.
    */
  private def renderSharded(fs: FileSystem, root: Path,
      basisView: Option[View], current: Seq[Entry], next: Long,
      meta: Option[TableMeta], op: String = "commit",
      cprops: Map[String, String] = Map.empty): Array[Byte] = {
    val vp = versionsPath(root)
    val curByPath: Map[String, Entry] = current.map(e => e.relPath -> e).toMap
    require(curByPath.size == current.size,
      s"colf: duplicate relPath in computed entry set for version $next")
    def isLive(e: Entry): Boolean = curByPath.get(e.relPath).contains(e)

    val kept = Seq.newBuilder[(String, Seq[Entry])]
    val claimed = scala.collection.mutable.Set.empty[String]  // live via kept segs
    val poisoned = scala.collection.mutable.Set.empty[String] // tombstoned so far
    basisView.toSeq.flatMap(_.segs).foreach { case (name, members) =>
      if (name != null) {
        val liveM = members.filter(isLive)
        val deadM = members.filterNot(isLive)
        val keepable = liveM.nonEmpty &&
          deadM.lengthCompare(
            (members.length * SegmentRewriteDeadRatio).toInt) <= 0 &&
          liveM.forall(e => !claimed(e.relPath) && !poisoned(e.relPath)) &&
          // a dead member whose path is still PRESENT in the new version
          // (same-name replacement: a changed size/mtime entry, e.g. a
          // streaming epoch replay overwriting its own file) cannot be
          // tombstoned — the tombstone would mask the new entry too.
          // Rewrite the segment instead, dropping the stale member.
          deadM.forall(e => !claimed(e.relPath) && !curByPath.contains(e.relPath))
        if (keepable) {
          kept += name -> members
          claimed ++= liveM.map(_.relPath)
          poisoned ++= deadM.map(_.relPath)
        }
      } // inline basis (name null) and rewritten/dropped segs: their live
        // members simply stay uncovered and land in the fresh segments
    }
    val loose = current.filterNot(e => claimed(e.relPath))
    val newSegs: Seq[(String, Seq[Entry])] =
      loose.grouped(math.max(1, SegmentMaxEntries)).map { chunk =>
        val name = s"seg-${java.util.UUID.randomUUID()}.json"
        val out = fs.create(new Path(vp, name), false)
        try out.write(renderSegment(chunk)) finally out.close()
        name -> chunk
      }.toSeq

    // fail-loudly reconstruction check: never publish a view that doesn't
    // equal the computed entry set
    val view = View(kept.result() ++ newSegs, poisoned.toSet)
    val got = view.entries.map(e => e.relPath -> e).toMap
    if (got != curByPath)
      throw new IllegalStateException(
        s"colf: sharded manifest reconstruction diverged for version $next " +
          s"(${got.size} vs ${curByPath.size} entries) — refusing to publish")

    val sb = new StringBuilder
    sb.append(s"""{"version":$next,"ts":${System.currentTimeMillis()},"op":"${esc(op)}"""")
    renderCprops(cprops, sb)
    renderMeta(meta, sb)
    sb.append(""","segs":[""")
    view.segs.zipWithIndex.foreach { case ((n, _), i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(esc(n)).append('"')
    }
    sb.append("],\"dead\":[")
    view.dead.toSeq.sorted.zipWithIndex.foreach { case (p, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(esc(p)).append('"')
    }
    sb.append("]}")
    sb.toString.getBytes("UTF-8")
  }

  /** Segment files referenced by one version (empty for inline). */
  private[colf] def segmentNames(fs: FileSystem, root: Path, version: Long): Seq[String] =
    readView(fs, root, version).segs.collect { case (n, _) if n != null => n }

  /** Relative path of `file` under `root` (both made absolute/qualified
    * first). Fails if `file` is not under `root`.
    */
  def relativize(fs: FileSystem, root: Path, file: Path): String = {
    val r = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val f = fs.makeQualified(file).toUri.getPath
    require(f.startsWith(r + "/"), s"colf: $file is not under table root $root")
    f.substring(r.length + 1)
  }

  /** Manifest entries → fully-resolved [[ColfFileRef]]s, partition values
    * parsed from the relative path's k=v segments
    * ([[ColfPartitions.parseSegment]]).
    */
  def toRefs(fs: FileSystem, root: Path, entries: Seq[Entry]): Seq[ColfFileRef] = {
    val q = fs.makeQualified(root)
    entries.map { e =>
      ColfFileRef(new Path(q, e.relPath).toString, e.size, e.mtime,
        e.relPath.split('/').dropRight(1).flatMap(ColfPartitions.parseSegment).toMap,
        e.schema, e.numRows, e.stats,
        if (e.dv == null) null else new Path(q, e.dv).toString, e.dvRows)
    }
  }

  /** The raw on-disk data files under `root` (ignoring manifests) — what
    * the table would look like WITHOUT versioning, and exactly what an
    * unversioned read lists. Used to seed the first manifest, by the
    * unversioned commit's replaced-file scope, and by compaction's
    * before/after diff.
    */
  def listDataFiles(fs: FileSystem, root: Path): Seq[Entry] =
    walk(fs, root)(ColfPartitions.isDataFile)

  /** Files named `keep` under `root`, descending only into directories
    * the table layout owns ([[ColfPartitions.parseSegment]]), in name
    * order (a directory's files before its subdirectories).
    */
  private[colf] def walk(fs: FileSystem, root: Path)(keep: String => Boolean): Seq[Entry] = {
    def go(dir: Path, prefix: String): Seq[Entry] = {
      val entries = fs.listStatus(dir).toSeq.sortBy(_.getPath.getName)
      val here = entries.filter(s => s.isFile && keep(s.getPath.getName))
        .map(s => Entry(prefix + s.getPath.getName, s.getLen, s.getModificationTime))
      val below = entries
        .filter(s => s.isDirectory && ColfPartitions.parseSegment(s.getPath.getName).isDefined)
        .flatMap(s => go(s.getPath, prefix + s.getPath.getName + "/"))
      here ++ below
    }
    if (!fs.exists(root)) Seq.empty else go(root, "")
  }

  /** Stage commit properties for the NEXT manifest commit on `root`
    * ([[ColfVersions.commitProps]]). The channel exists because DML
    * arrives through `spark.sql("MERGE INTO ...")` — there is no write
    * option to thread a caller fact (like a streaming batch id) into the
    * commit — yet the fact must land in the SAME version file as the
    * data to be crash-atomic with it. Driver-side and per-table:
    * `stage` is called immediately before issuing the write, and
    * [[ColfVersions.append]] consumes (removes) the entry whatever path
    * carries the commit. Callers are expected to serialize their own
    * writes per table (the foreachBatch contract — microbatches of one
    * query run sequentially). A caller whose staged write FAILS must
    * [[clearStagedCommitProps]] (the item-CF MERGE path does, in its
    * catch) so the stale entry cannot attach to an unrelated next
    * commit; a clean same-batch replay simply re-stages the same values.
    */
  def stageCommitProps(fs: FileSystem, root: Path, props: Map[String, String]): Unit =
    ColfCommitProps.stage(fs.makeQualified(root).toString, props)

  /** Discard any staged-but-unconsumed commit props for `root`. A caller
    * whose staged write FAILED before reaching the manifest must call
    * this (ADVICE r16): otherwise the stale entry attaches to the
    * table's next commit of ANY kind — a compaction landing after a
    * failed MERGE would record the batch as applied without its delta,
    * and the later replay would be silently skipped (undercount).
    */
  def clearStagedCommitProps(fs: FileSystem, root: Path): Unit =
    ColfCommitProps.take(fs.makeQualified(root).toString)

  /** Attach each schema-less entry's file schema via one batched
    * (cache-aware, parallel) header fetch — the one-time migration sweep
    * that makes a listing-seeded manifest (first `enableVersioning`, the
    * compaction disk diff) fully recorded, so every LATER resolution of
    * the table is manifest-only. Entries whose header cannot be read
    * keep null (resolution falls back for them); the sweep must not turn
    * a transient FS error into a failed commit.
    */
  def withSchemas(fs: FileSystem, root: Path, entries: Seq[Entry],
      conf: Configuration): Seq[Entry] = {
    val q = fs.makeQualified(root)
    ColfHeaderCache.mapParallel(entries) { e =>
      if (e.schema != null) e
      else {
        val ref = ColfFileRef(new Path(q, e.relPath).toString, e.size, e.mtime)
        try {
          val h = ColfHeaderCache.get(ref, conf).schema
          // blooms stay header-resident (they are KBs per column; the
          // manifest records the compact bounds the planner prunes with)
          e.copy(schema = h.fields, numRows = h.numRows,
            stats = h.stats.map { case (c, st) => c -> st.copy(bloom = None) })
        } catch { case _: java.io.IOException => e }
      }
    }
  }
}

/** Driver-side staging area for version-scoped commit properties — see
  * [[ColfVersions.stageCommitProps]]. Keyed by the table root's
  * QUALIFIED path string (exactly what `append` computes), so staging
  * for one table can never leak into another's commit.
  */
private[colf] object ColfCommitProps {
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  def stage(qualifiedRoot: String, props: Map[String, String]): Unit =
    if (props.nonEmpty) pending.put(qualifiedRoot, props)

  /** Consume (remove) the staged props for one table — empty if none. */
  def take(qualifiedRoot: String): Map[String, String] = {
    val v = pending.remove(qualifiedRoot)
    if (v == null) Map.empty else v
  }
}
