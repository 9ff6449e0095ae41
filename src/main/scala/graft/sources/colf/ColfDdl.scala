package graft.sources.colf

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.TableChange

import ColfVersions.{Entry, TableMeta}

/** The ALTER TABLE rules: how a [[ColfVersions.TableMeta]] declaration
  * evolves. Every change is METADATA-ONLY — one manifest commit, zero
  * data files read or written — which is the only DDL that makes sense
  * at 10⁵ files: an ADD COLUMN that rewrote 100 TB to backfill nulls
  * would not be DDL, it would be an outage.
  *
  * The format resolves columns BY NAME (that name-addressing is what
  * keeps files byte-compatible with the reference reader,
  * `reference/reader.py:44-91`), which dictates the rule set:
  *
  *  - ADD COLUMN: declared nullable, visible immediately, older files
  *    read it as null. Refused when a live file already stores a column
  *    of that name (its stale values would silently RESURRECT — the
  *    classic name-based-format hazard; Delta requires column mapping
  *    for the same reason).
  *  - DROP COLUMN: the declaration stops projecting it; file bytes are
  *    untouched and recoverable via time travel, and compaction/DML
  *    rewrites shed them over time.
  *  - RENAME COLUMN / ALTER TYPE: refused loudly — either would detach
  *    the declaration from the stored names/bytes.
  */
private[colf] object ColfDdl {

  /** Property keys Spark manages itself (or that would hijack path
    * addressing) — never persisted into the manifest.
    */
  private val ReservedProps = Set("provider", "location", "comment", "owner",
    "external", "is_managed_location", "table_type", "collation",
    "path", "paths", "versionasof", "changessinceversion")

  /** User table properties from a CREATE TABLE property map: OPTIONS
    * arrive `option.`-prefixed (stripped here), TBLPROPERTIES raw;
    * Spark-managed keys are dropped. `dmlMode` is validated eagerly —
    * failing at first DML with a table-creation typo would be cruel.
    */
  def userProps(properties: java.util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val out = properties.asScala.toSeq.flatMap { case (k, v) =>
      val key = if (k.startsWith("option.")) k.stripPrefix("option.") else k
      if (ReservedProps.contains(key.toLowerCase(java.util.Locale.ROOT))) None
      else Some(key -> v)
    }.toMap
    out.find(_._1.equalsIgnoreCase("dmlMode")).foreach { case (_, v) =>
      require(v == "copy-on-write" || v == "merge-on-read",
        s"colf: dmlMode must be copy-on-write or merge-on-read, got '$v'")
    }
    out
  }

  /** First declaration of a table never CREATEd through DDL: adopt the
    * union of live file schemas ([[ColfSchema.union]] — the exact rule
    * mergeSchema reads resolve with, so adoption never changes what a
    * query returns) plus the layout partition columns typed from their
    * observed values. From here on the declaration is authoritative and
    * evolves only through ALTER.
    */
  def adoptMeta(fs: FileSystem, root: Path, entries: Seq[Entry]): TableMeta = {
    val conf = ColfUtil.driverHadoopConf()
    val recorded = ColfVersions.withSchemas(fs, root, entries, conf)
    val stillNull = recorded.filter(_.schema == null)
    require(stillNull.isEmpty,
      s"colf: cannot adopt a declared schema for $root — unreadable file " +
        s"header(s): ${stillNull.take(3).map(_.relPath).mkString(", ")}")
    val data = ColfSchema.union(s"colf: cannot adopt a declared schema for $root",
      recorded.map(e => e.relPath -> e.schema))
    val dataNames = data.map(_.name).toSet
    val partFields =
      ColfPartitions.partitionFields(ColfVersions.toRefs(fs, root, entries), dataNames)
    TableMeta(data ++ partFields, partFields.map(_.name))
  }

  /** Apply one TableChange to the declaration (curried for foldLeft over
    * an ALTER's change list). `entries` is the LIVE entry set of the
    * basis version — the resurrection check below scans its recorded
    * schemas, so it runs inside the same claim loop as the commit and
    * cannot race a concurrent write into unsoundness.
    */
  def applyChange(fs: FileSystem, root: Path, entries: Seq[Entry])(
      meta: TableMeta, change: TableChange): TableMeta = change match {

    case add: TableChange.AddColumn =>
      require(add.fieldNames().length == 1,
        "colf: nested columns are not supported (flat int32/float64/utf8 schema)")
      val name = add.fieldNames()(0)
      val tpe = ColfUtil.colfType(add.dataType()) // validates storability
      require(add.isNullable,
        s"colf: ADD COLUMN '$name' must be nullable — existing rows have no " +
          "value for it")
      require(!meta.fields.exists(_.name == name),
        s"colf: column '$name' already exists")
      // the new column stores under its own name; that PHYSICAL slot must
      // be free — a renamed column still occupies its original stored name
      meta.fields.find(f => meta.physicalOf(f.name) == name).foreach { f =>
        throw new IllegalArgumentException(
          s"colf: cannot add '$name' — column '${f.name}' (renamed) still " +
            s"stores its data under the physical name '$name'")
      }
      // name-based format: a live file already storing a column named
      // `name` (written before a DROP, or by a path-API writer ahead of
      // the ALTER) would resurrect its old values into the new logical
      // column. One manifest read answers this on recorded tables; only
      // unrecorded entries pay a header fetch.
      val recorded = ColfVersions.withSchemas(fs, root, entries,
        ColfUtil.driverHadoopConf())
      val dirty = recorded.filter(e =>
        e.schema != null && e.schema.exists(_.name == name))
      require(dirty.isEmpty,
        s"colf: ${dirty.length} live file(s) already store a column named " +
          s"'$name' (e.g. ${dirty.head.relPath}) — its old values would " +
          "resurrect into the new column. Compact/rewrite the table first " +
          "or choose another name.")
      val f = ColfField(name, tpe, nullable = true)
      val fields = add.position() match {
        case null                   => meta.fields :+ f
        case _: TableChange.First   => f +: meta.fields
        case a: TableChange.After =>
          val i = meta.fields.indexWhere(_.name == a.column())
          require(i >= 0, s"colf: AFTER column '${a.column()}' does not exist")
          (meta.fields.take(i + 1) :+ f) ++ meta.fields.drop(i + 1)
        case other => throw new UnsupportedOperationException(
          s"colf: unsupported column position $other")
      }
      meta.copy(fields = fields)

    case del: TableChange.DeleteColumn =>
      require(del.fieldNames().length == 1,
        "colf: nested columns are not supported")
      val name = del.fieldNames()(0)
      if (!meta.fields.exists(_.name == name)) {
        if (del.ifExists()) meta
        else throw new IllegalArgumentException(
          s"colf: column '$name' does not exist " +
            s"(have: ${meta.fields.map(_.name).mkString(", ")})")
      } else {
        require(!meta.parts.contains(name),
          s"colf: cannot drop '$name' — it is a partition column (the " +
            "directory layout stores it)")
        require(meta.fields.exists(f =>
            f.name != name && !meta.parts.contains(f.name)),
          "colf: cannot drop the last data column")
        meta.copy(fields = meta.fields.filterNot(_.name == name),
          physical = meta.physical - name)
      }

    case un: TableChange.UpdateColumnNullability =>
      require(un.fieldNames().length == 1,
        "colf: nested columns are not supported")
      val name = un.fieldNames()(0)
      val i = meta.fields.indexWhere(_.name == name)
      require(i >= 0, s"colf: column '$name' does not exist")
      require(un.nullable(),
        s"colf: ALTER COLUMN '$name' SET NOT NULL is not supported — " +
          "proving no stored nulls would require scanning every file")
      meta.copy(fields = meta.fields.updated(i,
        meta.fields(i).copy(nullable = true)))

    case ren: TableChange.RenameColumn =>
      // Column mapping: the rename flips the LOGICAL name only; the
      // stored (physical) name is frozen at first declaration, so every
      // existing file — and every future write — keeps one stable column
      // name, and the reference reader's view of the bytes never changes.
      // The scan/write boundary translates (ColfTable.physicalSchema).
      require(ren.fieldNames().length == 1,
        "colf: nested columns are not supported")
      val from = ren.fieldNames()(0)
      val to = ren.newName()
      val i = meta.fields.indexWhere(_.name == from)
      require(i >= 0, s"colf: column '$from' does not exist")
      require(!meta.fields.exists(_.name == to),
        s"colf: cannot rename '$from' to '$to' — a column '$to' already exists")
      val storedAs = meta.physicalOf(from)
      val base = meta.physical - from
      meta.copy(
        fields = meta.fields.updated(i, meta.fields(i).copy(name = to)),
        parts = meta.parts.map(p => if (p == from) to else p),
        // renaming BACK to the stored name drops to the identity mapping
        physical = if (storedAs == to) base else base + (to -> storedAs))

    case _: TableChange.UpdateColumnType =>
      throw new UnsupportedOperationException(
        "colf: ALTER COLUMN TYPE is not supported — stored blocks are typed " +
          "int32/float64/utf8 with no read-time widening; rewrite with CTAS")

    case sp: TableChange.SetProperty =>
      val k = sp.property()
      require(!ReservedProps.contains(k.toLowerCase(java.util.Locale.ROOT)),
        s"colf: table property '$k' is managed by Spark / the connector " +
          "and cannot be set")
      if (k.equalsIgnoreCase("dmlMode"))
        require(sp.value() == "copy-on-write" || sp.value() == "merge-on-read",
          s"colf: dmlMode must be copy-on-write or merge-on-read, got '${sp.value()}'")
      meta.copy(props = meta.props + (k -> sp.value()))

    case rp: TableChange.RemoveProperty =>
      meta.copy(props = meta.props - rp.property())

    case other =>
      throw new UnsupportedOperationException(
        s"colf: unsupported ALTER TABLE change: $other")
  }
}
