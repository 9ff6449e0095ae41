package graft.sources.colf

import java.io.{DataInputStream, EOFException, InputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import scala.collection.immutable.ArraySeq

/** Byte-level COLF codec — no Spark dependencies, unit-testable in isolation.
  *
  * On-disk layout (normative: reference SPEC.md; mirrored at
  * writer.py:174-210 / reader.py:44-91):
  * {{{
  * [Magic 'COLF' 4B][Version u8=1][Endianness u8=1 (LE)]
  * [HeaderSize u32 = 4 + schemaJsonLen + 25*ncols]
  * [SchemaLength u32][SchemaJSON utf-8]
  * [per column: Offset u64, CompSize u64, UncompSize u64, HasNulls u8]
  * [column blocks, each = zlib(payload)]
  * }}}
  *
  * Column payload (SPEC.md:41-51):
  * {{{
  * [DataType u8][HasNulls u8]
  * [if HasNulls: bitmap ceil(n/8) bytes, bit i LSB-first = row i NULL]
  * [int32: n*i32 LE (0 under null) | float64: n*f64 LE (0.0 under null)
  *  | utf8: n*u32 LE start offsets into blob, then concatenated utf-8]
  * }}}
  *
  * Divergence from the reference writer (deliberate, still readable by the
  * reference reader): null rows' string offsets are written as the current
  * cumulative blob position instead of 0 (writer.py:130-131 writes 0). For
  * NULL rows the reference reader skips the offset entirely when finding a
  * string's end (reader.py:143-153), so null handling decodes identically
  * there. Empty strings do NOT: the reference reader also skips rows whose
  * offset equals the current row's (reader.py:150), so a non-null "" we
  * write decodes in reference reader.py as the NEXT row's content. Only
  * SPEC-compliant readers ("ends at Offsets[next]", SPEC.md:51) — ours
  * included — decode "" correctly. The reference itself cannot produce an
  * empty string (it nulls them at CSV ingest, writer.py:130-131), so this
  * affects only files we write containing "" values read back through the
  * reference's Python reader; ColfDataSourceSpec documents the divergence.
  */
object ColfCodec {
  val Magic: Array[Byte] = Array('C', 'O', 'L', 'F').map(_.toByte)
  val Version = 1
  val PreambleLen = 10 // magic(4) + version(1) + endianness(1) + headerSize(4)
  val MetaEntryLen = 25

  // ---------------------------------------------------------------- zlib

  /** Any level emits standard zlib (RFC 1950) framing — byte-compatible
    * with Python zlib and the reference reader regardless of level. The
    * engine default is 3: ~3x faster than zlib's default 6 for ~5% larger
    * blocks on typical columnar payloads (measured on 600k-row numeric +
    * low-cardinality string blocks); override per write with
    * option("compressionLevel", n).
    */
  val DefaultCompressionLevel = 3

  def compress(data: Array[Byte]): Array[Byte] = compress(data, DefaultCompressionLevel)

  def compress(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(data)
    d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }

  def decompress(data: Array[Byte], uncompSize: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](uncompSize)
    var off = 0
    while (off < uncompSize && !inf.finished()) {
      val n = inf.inflate(out, off, uncompSize - off)
      if (n == 0 && inf.needsInput())
        throw new java.io.IOException("Truncated zlib stream in column block")
      off += n
    }
    inf.end()
    if (off != uncompSize)
      throw new java.io.IOException(
        s"Column block decompressed to $off bytes, expected $uncompSize")
    out
  }

  // ------------------------------------------------------- column encode

  /** Byte cap on string stat bounds: a `min` longer than this is truncated
    * to a prefix (still a valid lower bound in binary order); a `max`
    * longer than this is dropped (a truncated prefix would be an INVALID
    * upper bound). Keeps headers small on document-sized text columns.
    */
  val StringStatMaxBytes = 64

  /** Unsigned lexicographic byte compare (UTF8String binary order). */
  private[colf] def cmpBytes(a: Array[Byte], aOff: Int, aLen: Int, b: Array[Byte]): Int = {
    val n = math.min(aLen, b.length)
    var i = 0
    while (i < n) {
      val d = (a(aOff + i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    aLen - b.length
  }

  /** Longest prefix of `b` that is ≤ `maxLen` bytes AND ends on a UTF-8
    * character boundary (so it decodes to a valid String and re-encodes to
    * the same bytes — the truncated bound survives the JSON round trip).
    */
  private[colf] def utf8Prefix(b: Array[Byte], maxLen: Int): Array[Byte] = {
    if (b.length <= maxLen) return b
    var cut = maxLen
    while (cut > 0 && (b(cut) & 0xc0) == 0x80) cut -= 1
    java.util.Arrays.copyOf(b, cut)
  }

  /** Accumulates one column's values; produces the uncompressed payload. */
  sealed trait ColumnBuilder {
    protected var n = 0
    protected var nullCount = 0
    protected var nulls: Array[Boolean] = new Array[Boolean](16)
    def count: Int = n
    def hasNulls: Boolean = nullCount > 0
    def nullCnt: Long = nullCount.toLong
    /** (min, max) over the non-null values appended so far, for the header
      * stats (data skipping). Either side may be None — see the per-builder
      * rules ([[StringStatMaxBytes]]; NaN/Inf doubles drop both bounds).
      */
    def statsMinMax: (Option[Any], Option[Any])
    /** Equality-skipping Bloom filter over this column's distinct values
      * (all three types), None when the per-file distinct count exceeded
      * [[ColfBloom.MaxDistinct]].
      */
    def statsBloom: Option[ColfBloom] = None
    protected def ensureNulls(): Unit =
      if (n >= nulls.length) nulls = java.util.Arrays.copyOf(nulls, nulls.length * 2)
    def appendNull(): Unit
    def tpe: ColfType
    /** Uncompressed data bytes buffered so far (excluding the small
      * per-payload header) — the write path's roll trigger, so a builder
      * can never grow past JVM array / format offset limits.
      */
    def byteSize: Long
    /** Full payload: dtype byte, hasNulls byte, bitmap, data. */
    def payload(): Array[Byte]

    protected def bitmapBytes: Array[Byte] = {
      val bm = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < n) {
        if (nulls(i)) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
        i += 1
      }
      bm
    }

    protected def header(buf: ByteBuffer): Unit = {
      buf.put(tpe.code.toByte)
      buf.put(if (hasNulls) 1.toByte else 0.toByte)
      if (hasNulls) buf.put(bitmapBytes)
    }
    protected def headerLen: Int = 2 + (if (hasNulls) (n + 7) / 8 else 0)
  }

  final class IntColumnBuilder extends ColumnBuilder {
    override def tpe: ColfType = ColfType.Int32
    override def byteSize: Long = 4L * n
    private var values = new Array[Int](16)
    private var mn = Int.MaxValue
    private var mx = Int.MinValue
    // Equality-bloom hashes (same cap/discipline as the utf8 builder):
    // on an UNSORTED high-cardinality int key, min/max bounds span ~the
    // whole range in every file, so `id = k` point lookups prune nothing
    // without this.
    private var valueHashes: java.util.HashSet[java.lang.Long] = new java.util.HashSet()
    override def statsMinMax: (Option[Any], Option[Any]) =
      if (n == nullCount) (None, None) else (Some(mn), Some(mx))
    override def statsBloom: Option[ColfBloom] =
      if (valueHashes == null || valueHashes.isEmpty) None
      else Some(ColfBloom.build(valueHashes))
    private def ensure(): Unit = {
      ensureNulls()
      if (n >= values.length) values = java.util.Arrays.copyOf(values, values.length * 2)
    }
    def append(v: Int): Unit = {
      ensure(); values(n) = v; nulls(n) = false; n += 1
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (valueHashes != null) {
        valueHashes.add(ColfBloom.hashInt(v))
        if (valueHashes.size() > ColfBloom.MaxDistinct) valueHashes = null
      }
    }
    override def appendNull(): Unit = { ensure(); values(n) = 0; nulls(n) = true; nullCount += 1; n += 1 }
    override def payload(): Array[Byte] = {
      val buf = ByteBuffer.allocate(headerLen + 4 * n).order(ByteOrder.LITTLE_ENDIAN)
      header(buf)
      var i = 0
      while (i < n) { buf.putInt(values(i)); i += 1 }
      buf.array()
    }
  }

  final class DoubleColumnBuilder extends ColumnBuilder {
    override def tpe: ColfType = ColfType.Float64
    override def byteSize: Long = 8L * n
    private var values = new Array[Double](16)
    private var mn = Double.PositiveInfinity
    private var mx = Double.NegativeInfinity
    private var nonFinite = false
    // Equality-bloom hashes over NORMALIZED bit patterns (zeros unified,
    // NaN canonical — ColfBloom.normDouble) so probe and stored value
    // hash identically whenever SQL equality holds.
    private var valueHashes: java.util.HashSet[java.lang.Long] = new java.util.HashSet()
    /** NaN is unordered (and Spark treats it as LARGER than any value in
      * predicates, unlike Java); ±Inf is not JSON-encodable — any
      * non-finite value drops both bounds rather than risk a wrong prune.
      */
    override def statsMinMax: (Option[Any], Option[Any]) =
      if (n == nullCount || nonFinite) (None, None) else (Some(mn), Some(mx))
    override def statsBloom: Option[ColfBloom] =
      if (valueHashes == null || valueHashes.isEmpty) None
      else Some(ColfBloom.build(valueHashes))
    private def ensure(): Unit = {
      ensureNulls()
      if (n >= values.length) values = java.util.Arrays.copyOf(values, values.length * 2)
    }
    def append(v: Double): Unit = {
      ensure(); values(n) = v; nulls(n) = false; n += 1
      if (java.lang.Double.isFinite(v)) {
        // -0.0 == 0.0 under IEEE/SQL predicate equality but -0.0 < 0.0 in
        // total order; normalize to 0.0 for BOUNDS ONLY so a filter on
        // either zero can never wrongly prune (stored data is untouched).
        val sv = if (v == 0.0d) 0.0d else v
        if (sv < mn) mn = sv
        if (sv > mx) mx = sv
      } else nonFinite = true
      if (valueHashes != null) {
        valueHashes.add(ColfBloom.hashDouble(v))
        if (valueHashes.size() > ColfBloom.MaxDistinct) valueHashes = null
      }
    }
    override def appendNull(): Unit = { ensure(); values(n) = 0.0; nulls(n) = true; nullCount += 1; n += 1 }
    override def payload(): Array[Byte] = {
      val buf = ByteBuffer.allocate(headerLen + 8 * n).order(ByteOrder.LITTLE_ENDIAN)
      header(buf)
      var i = 0
      while (i < n) { buf.putDouble(values(i)); i += 1 }
      buf.array()
    }
  }

  final class StringColumnBuilder extends ColumnBuilder {
    override def tpe: ColfType = ColfType.Utf8
    override def byteSize: Long = 4L * n + blob.size()
    private var starts = new Array[Int](16)
    private val blob = new java.io.ByteArrayOutputStream(1024)
    private var mnB: Array[Byte] = null
    private var mxB: Array[Byte] = null
    // Distinct value hashes for the equality bloom; null once the distinct
    // count passes the cap (the bloom is then dropped — stats stay sound,
    // equality skipping just doesn't apply to this file).
    private var valueHashes: java.util.HashSet[java.lang.Long] = new java.util.HashSet()
    /** Bounds compare as UNSIGNED BYTES — the same binary order Spark's
      * UTF8String uses for string predicates, so pruning decisions agree
      * with the engine even where UTF-16 `String.compareTo` would not
      * (supplementary-plane characters).
      */
    override def statsMinMax: (Option[Any], Option[Any]) = {
      if (mnB == null) (None, None)
      else {
        // Bounds survive a bytes → String → JSON → String → bytes round
        // trip only for valid UTF-8; invalid sequences (reachable via
        // CAST(binary AS STRING)) decode lossily to U+FFFD, which can
        // move a bound in the UNSOUND direction and wrongly prune a
        // file. Drop any bound whose decode isn't byte-exact.
        def exact(b: Array[Byte]): Option[String] = {
          val s = new String(b, StandardCharsets.UTF_8)
          if (java.util.Arrays.equals(s.getBytes(StandardCharsets.UTF_8), b)) Some(s) else None
        }
        val mn = exact(utf8Prefix(mnB, StringStatMaxBytes))
        val mx = if (mxB.length <= StringStatMaxBytes) exact(mxB) else None
        (mn, mx)
      }
    }
    private def ensure(): Unit = {
      ensureNulls()
      if (n >= starts.length) starts = java.util.Arrays.copyOf(starts, starts.length * 2)
    }
    /** v must be UTF-8 bytes. */
    def append(v: Array[Byte]): Unit = append(v, 0, v.length)
    def append(v: Array[Byte], off: Int, len: Int): Unit = {
      ensure()
      starts(n) = blob.size()
      nulls(n) = false
      blob.write(v, off, len)
      if (blob.size() < 0)
        throw new IllegalStateException(
          "utf8 column blob exceeds u32 offset range (4 GiB per column per file)")
      n += 1
      if (mnB == null || cmpBytes(v, off, len, mnB) < 0)
        mnB = java.util.Arrays.copyOfRange(v, off, off + len)
      if (mxB == null || cmpBytes(v, off, len, mxB) > 0)
        mxB = java.util.Arrays.copyOfRange(v, off, off + len)
      if (valueHashes != null) {
        valueHashes.add(ColfBloom.hash(v, off, len))
        if (valueHashes.size() > ColfBloom.MaxDistinct) valueHashes = null
      }
    }
    def append(s: String): Unit = append(s.getBytes(StandardCharsets.UTF_8))
    override def statsBloom: Option[ColfBloom] =
      if (valueHashes == null || valueHashes.isEmpty) None
      else Some(ColfBloom.build(valueHashes))
    // Null rows record the current cumulative position (see class doc).
    override def appendNull(): Unit = { ensure(); starts(n) = blob.size(); nulls(n) = true; nullCount += 1; n += 1 }
    override def payload(): Array[Byte] = {
      val blobBytes = blob.toByteArray
      val buf = ByteBuffer.allocate(headerLen + 4 * n + blobBytes.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      header(buf)
      var i = 0
      while (i < n) { buf.putInt(starts(i)); i += 1 }
      buf.put(blobBytes)
      buf.array()
    }
  }

  def builderFor(tpe: ColfType): ColumnBuilder = tpe match {
    case ColfType.Int32   => new IntColumnBuilder
    case ColfType.Float64 => new DoubleColumnBuilder
    case ColfType.Utf8    => new StringColumnBuilder
  }

  // ------------------------------------------------------- column decode

  /** A decoded column: typed primitive arrays + null mask. Strings stay as
    * (blob, start, end) slices to avoid per-value copies; callers wrap them
    * in UTF8String without re-encoding.
    */
  final class DecodedColumn(
      val tpe: ColfType,
      val numRows: Int,
      /** null mask, or null when the column has no nulls */
      val nulls: Array[Boolean],
      val ints: Array[Int],
      val doubles: Array[Double],
      val strBlob: Array[Byte],
      val strStarts: Array[Int],
      val strEnds: Array[Int]) {
    def isNullAt(i: Int): Boolean = nulls != null && nulls(i)

    /** The rows at ordinals `rows`, gathered into a dense column: ints,
      * doubles and the null mask are copied; strings copy only their
      * start/end offsets and share the blob.
      */
    def select(rows: Array[Int]): DecodedColumn = {
      val n = rows.length
      def gather(src: Array[Int]): Array[Int] = {
        val out = new Array[Int](n); var i = 0
        while (i < n) { out(i) = src(rows(i)); i += 1 }
        out
      }
      val ns =
        if (nulls == null) null
        else {
          val out = new Array[Boolean](n); var i = 0
          while (i < n) { out(i) = nulls(rows(i)); i += 1 }
          out
        }
      tpe match {
        case ColfType.Int32 =>
          new DecodedColumn(tpe, n, ns, gather(ints), null, null, null, null)
        case ColfType.Float64 =>
          val out = new Array[Double](n); var i = 0
          while (i < n) { out(i) = doubles(rows(i)); i += 1 }
          new DecodedColumn(tpe, n, ns, null, out, null, null, null)
        case ColfType.Utf8 =>
          new DecodedColumn(tpe, n, ns, null, null, strBlob, gather(strStarts), gather(strEnds))
      }
    }
  }

  /** Decode an uncompressed payload. `hasNulls` comes from the column
    * metadata — like the reference (reader.py:96-98,190) the payload's own
    * DataType/HasNulls bytes are read and ignored.
    */
  def decodeColumn(
      payload: Array[Byte], tpe: ColfType, numRows: Int, hasNulls: Boolean): DecodedColumn = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    buf.get() // payload DataType byte — trusted from schema instead
    buf.get() // payload HasNulls byte — trusted from metadata instead
    val nulls: Array[Boolean] =
      if (hasNulls) {
        val bm = new Array[Byte]((numRows + 7) / 8)
        buf.get(bm)
        val out = new Array[Boolean](numRows)
        var i = 0
        while (i < numRows) { out(i) = (bm(i >> 3) & (1 << (i & 7))) != 0; i += 1 }
        out
      } else null

    tpe match {
      case ColfType.Int32 =>
        val vs = new Array[Int](numRows)
        var i = 0
        while (i < numRows) { vs(i) = buf.getInt(); i += 1 }
        new DecodedColumn(tpe, numRows, nulls, vs, null, null, null, null)
      case ColfType.Float64 =>
        val vs = new Array[Double](numRows)
        var i = 0
        while (i < numRows) { vs(i) = buf.getDouble(); i += 1 }
        new DecodedColumn(tpe, numRows, nulls, null, vs, null, null, null)
      case ColfType.Utf8 =>
        val starts = new Array[Int](numRows)
        var i = 0
        while (i < numRows) { starts(i) = buf.getInt(); i += 1 }
        val blob = new Array[Byte](buf.remaining())
        buf.get(blob)
        // End of non-null row i = start offset of the NEXT NON-NULL row
        // (else blob end). Correct for both reference files (null offsets
        // written as 0, non-null offsets strictly increasing) and our files
        // (cumulative offsets, supports empty strings). Single reverse pass
        // — O(n), vs the reference's O(n·nullRun) forward scan
        // (reader.py:143-153).
        val ends = new Array[Int](numRows)
        var nextNonNullStart = blob.length
        i = numRows - 1
        while (i >= 0) {
          if (nulls == null || !nulls(i)) {
            ends(i) = nextNonNullStart
            nextNonNullStart = starts(i)
          }
          i -= 1
        }
        // clamp defensively against malformed offsets
        i = 0
        while (i < numRows) {
          if (nulls == null || !nulls(i)) {
            if (starts(i) > blob.length) starts(i) = blob.length
            if (ends(i) < starts(i)) ends(i) = starts(i)
            if (ends(i) > blob.length) ends(i) = blob.length
          }
          i += 1
        }
        new DecodedColumn(tpe, numRows, nulls, null, null, blob, starts, ends)
    }
  }

  /** comp_size == 0 means an all-null column (reference reader.py:181-183). */
  def allNullColumn(tpe: ColfType, numRows: Int): DecodedColumn = {
    val nulls = Array.fill(numRows)(true)
    tpe match {
      case ColfType.Int32 =>
        new DecodedColumn(tpe, numRows, nulls, new Array[Int](numRows), null, null, null, null)
      case ColfType.Float64 =>
        new DecodedColumn(tpe, numRows, nulls, null, new Array[Double](numRows), null, null, null)
      case ColfType.Utf8 =>
        new DecodedColumn(tpe, numRows, nulls, null, null, Array.emptyByteArray,
          new Array[Int](numRows), new Array[Int](numRows))
    }
  }

  // ------------------------------------------------------------ file I/O

  /** Write a complete .colf file: header with absolute offsets first, then
    * the compressed blocks (reference layout, writer.py:174-210). The
    * caller supplies already-compressed blocks because offsets must be
    * known before any data is written.
    */
  def writeFile(
      out: OutputStream,
      schema: ColfSchema,
      compressed: IndexedSeq[Array[Byte]],
      uncompSizes: IndexedSeq[Int],
      hasNulls: IndexedSeq[Boolean]): Unit = {
    require(compressed.length == schema.fields.length)
    val schemaJson = schema.toJson.getBytes(StandardCharsets.UTF_8)
    val ncols = schema.fields.length
    val headerSize = 4 + schemaJson.length + MetaEntryLen * ncols
    val dataStart = PreambleLen.toLong + headerSize

    val head = ByteBuffer.allocate(PreambleLen + headerSize).order(ByteOrder.LITTLE_ENDIAN)
    head.put(Magic)
    head.put(Version.toByte)
    head.put(1.toByte) // little-endian
    head.putInt(headerSize)
    head.putInt(schemaJson.length)
    head.put(schemaJson)
    var off = dataStart
    var i = 0
    while (i < ncols) {
      head.putLong(off)
      head.putLong(compressed(i).length.toLong)
      head.putLong(uncompSizes(i).toLong)
      head.put(if (hasNulls(i)) 1.toByte else 0.toByte)
      off += compressed(i).length
      i += 1
    }
    out.write(head.array())
    i = 0
    while (i < ncols) { out.write(compressed(i)); i += 1 }
    out.flush()
  }

  /** Convenience: encode + compress + write from builders. */
  def writeFile(out: OutputStream, fields: IndexedSeq[ColfField],
      builders: IndexedSeq[ColumnBuilder]): Unit =
    writeFile(out, fields, builders, DefaultCompressionLevel)

  def writeFile(out: OutputStream, fields: IndexedSeq[ColfField],
      builders: IndexedSeq[ColumnBuilder], compressionLevel: Int): Unit = {
    require(fields.length == builders.length)
    val numRows = if (builders.isEmpty) 0 else builders.head.count
    builders.foreach(b => require(b.count == numRows, "ragged columns"))
    val payloads = builders.map(_.payload())
    val comp = payloads.map(pl => compress(pl, compressionLevel))
    // Per-column stats ride in the header JSON (extra keys the reference
    // reader ignores) — the read side prunes whole files against them.
    val stats = fields.lazyZip(builders).map { (f, b) =>
      val (mn, mx) = b.statsMinMax
      f.name -> ColfColStats(b.nullCnt, mn, mx, b.statsBloom)
    }.toMap
    // nullable in the schema reflects observed nulls (like the reference's
    // inference, writer.py:44-50) OR the declared nullability, whichever
    // is set — callers pass fields with the intended nullable flag.
    writeFile(out, ColfSchema(numRows.toLong, fields, stats),
      comp, payloads.map(_.length), builders.map(_.hasNulls))
  }

  private def readFully(in: InputStream, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    var off = 0
    while (off < len) {
      val n = in.read(buf, off, len - off)
      if (n < 0) throw new EOFException(s"Unexpected EOF after $off of $len bytes")
      off += n
    }
    buf
  }

  /** Parse the preamble + header from a stream positioned at byte 0.
    * Mirrors reference reader.py:44-91 including its validations.
    */
  def readHeader(in: InputStream): ColfHeader = {
    val pre = readFully(in, PreambleLen)
    if (!java.util.Arrays.equals(pre.slice(0, 4), Magic))
      throw new java.io.IOException("Not a COLF file (bad magic)")
    val version = pre(4) & 0xff
    if (version != Version)
      throw new java.io.IOException(s"Unsupported COLF version: $version")
    val endian = pre(5) & 0xff
    if (endian != 1)
      throw new java.io.IOException(s"Unsupported endianness flag: $endian (only little-endian=1)")
    val headerSize = ByteBuffer.wrap(pre, 6, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val head = ByteBuffer.wrap(readFully(in, headerSize)).order(ByteOrder.LITTLE_ENDIAN)
    val schemaLen = head.getInt
    val schemaBytes = new Array[Byte](schemaLen)
    head.get(schemaBytes)
    val schema = ColfSchema.fromJson(new String(schemaBytes, StandardCharsets.UTF_8))
    val metas = (0 until schema.fields.length).map { _ =>
      val off = head.getLong
      val comp = head.getLong
      val uncomp = head.getLong
      val hn = head.get() != 0
      ColfColumnMeta(off, comp, uncomp, hn)
    }
    ColfHeader(version, littleEndian = true, schema,
      ArraySeq.unsafeWrapArray(metas.toArray), PreambleLen.toLong + headerSize)
  }
}
