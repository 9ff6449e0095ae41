package graft.sources.colf

import org.apache.hadoop.fs.{FileSystem, Path}

/** Position-delete files ("deletion vectors") — the merge-on-read half of
  * row-level DML. A DV records the ORDINALS (0-based row positions within
  * one data file) of rows that are logically deleted; the manifest entry
  * for that data file references its DV ([[ColfVersions.Entry.dv]]), the
  * scan filters the positions out at read time, and the data file's bytes
  * are never touched.
  *
  * Why this exists when copy-on-write DML ([[ColfRowLevelOperation]])
  * already works: CoW rewrites every file containing a matched row, so a
  * 1-row UPDATE against a 512 MB part file costs a 512 MB write — the
  * known write-amplification cliff for frequent small DML at 100 TB. A DV
  * commit costs bytes proportional to the DELETED ROW COUNT (a handful of
  * varints) plus one manifest append, whatever the data file sizes.
  * Compaction and full rewrites FOLD DVs away, restoring pure-scan reads.
  *
  * Layout: `table/_graft_deletes/dv-<uuid>.gdv`. The underscore prefix
  * keeps the directory invisible to the data-file walk, to the reference
  * reader's tooling, and to every pre-DV version of this connector. DV
  * files are immutable once referenced: a later delete against the same
  * data file writes a NEW merged DV and repoints the manifest entry — old
  * snapshots keep reading the old DV (time travel), and vacuum reclaims
  * unreferenced ones.
  *
  * On-disk format (version tag "GDV1"): 4-byte magic, varint position
  * count, then the sorted distinct positions as delta varints (first
  * absolute, then gaps). Sorted-delta keeps a dense delete of k rows at
  * ~k bytes and lets the reader materialize positions with one pass.
  */
private[graft] object ColfDeletes {

  val DeletesDir = "_graft_deletes"

  private val Magic: Array[Byte] = "GDV1".getBytes("UTF-8")

  /** Serialize sorted distinct `positions` (caller guarantees order and
    * uniqueness — enforced here, fail-loudly, because a DV that lies
    * about order would silently corrupt the reader's row selection).
    */
  private def render(positions: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(Magic.length + positions.length * 2 + 8)
    out.write(Magic)
    writeVarint(out, positions.length.toLong)
    var prev = -1L
    var i = 0
    while (i < positions.length) {
      val p = positions(i)
      require(p > prev, s"colf dv: positions must be sorted distinct (saw $p after $prev)")
      writeVarint(out, p - prev) // gap >= 1; first is position + 1 below
      prev = p
      i += 1
    }
    out.toByteArray
  }

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"colf dv: negative varint $v0")
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Write a new DV file under `root/_graft_deletes` and return its
    * path RELATIVE to the table root (the form the manifest stores).
    * Fresh uuid name: never overwrites, so a lost commit race strands an
    * unreferenced orphan (vacuumable), never corrupts a referenced DV.
    */
  def write(fs: FileSystem, root: Path, positions: Array[Long],
      prefix: String = "dv"): String = {
    val rel = s"$DeletesDir/$prefix-${java.util.UUID.randomUUID()}.gdv"
    val p = new Path(root, rel)
    val out = fs.create(p, false)
    try out.write(render(positions)) finally out.close()
    rel
  }

  /** Read a DV file (by path relative to `root`) back to its sorted
    * positions. Fails loudly on a bad magic or a truncated stream,
    * naming the file — a half-applied delete must never read as "fewer
    * rows deleted".
    */
  def read(fs: FileSystem, root: Path, rel: String): Array[Long] =
    readFile(fs, new Path(root, rel))

  /** As [[read]], by absolute path (executors carry DV paths resolved). */
  def readFile(fs: FileSystem, p: Path): Array[Long] = {
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream(1024)
        val chunk = new Array[Byte](64 * 1024)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    try parse(bytes)
    catch {
      case e: Exception =>
        throw new java.io.IOException(
          s"colf: deletion-vector file $p is corrupt (${e.getMessage})", e)
    }
  }

  private def parse(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= Magic.length && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "bad magic — not a GDV1 deletion vector")
    var off = Magic.length
    def readVarint(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        require(off < bytes.length, "truncated varint")
        b = bytes(off) & 0xff
        off += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    val count = readVarint()
    require(count <= Int.MaxValue, s"implausible position count $count")
    val out = new Array[Long](count.toInt)
    var prev = -1L
    var i = 0
    while (i < count) {
      val gap = readVarint()
      require(gap > 0 && prev + gap > prev, "positions not strictly ascending")
      prev += gap
      out(i) = prev
      i += 1
    }
    require(off == bytes.length, s"${bytes.length - off} trailing bytes")
    out
  }

  /** Union of sorted position arrays (existing DV + this commit's new
    * deletes) — sorted distinct, the merge a second DELETE against an
    * already-DV'd file performs before writing the replacement DV.
    */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      val av = a(i); val bv = b(j)
      val v = if (av <= bv) { i += 1; if (bv == av) j += 1; av } else { j += 1; bv }
      if (k == 0 || out(k - 1) != v) { out(k) = v; k += 1 }
    }
    while (i < a.length) { if (k == 0 || out(k - 1) != a(i)) { out(k) = a(i); k += 1 }; i += 1 }
    while (j < b.length) { if (k == 0 || out(k - 1) != b(j)) { out(k) = b(j); k += 1 }; j += 1 }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Sorted-set difference a \ b: the ordinals a commit NEWLY deleted,
    * given the file's vector after (`a`) and before (`b`) — the
    * change-feed retraction list ([[ColfChangeFeedStream]]).
    */
  def diffSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length) {
      val av = a(i)
      while (j < b.length && b(j) < av) j += 1
      if (j >= b.length || b(j) != av) { out(k) = av; k += 1 }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** The ordinals in `[0, numRows)` that sorted distinct `deleted` does
    * not hold: the rows a scan of a DV'd file emits.
    */
  def complement(deleted: Array[Long], numRows: Int): Array[Int] = {
    val out = new Array[Int](numRows - deleted.length)
    var d = 0; var k = 0; var r = 0
    while (r < numRows) {
      if (d < deleted.length && deleted(d) == r) d += 1
      else { out(k) = r; k += 1 }
      r += 1
    }
    out
  }

  /** DV files currently on disk (empty when the directory is absent) —
    * vacuum's sweep domain.
    */
  def listDvFiles(fs: FileSystem, root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = new Path(root, DeletesDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(st => st.isFile && st.getPath.getName.endsWith(".gdv"))
  }
}
