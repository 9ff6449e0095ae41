package graft.sources.colf

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.immutable.ArraySeq

/** COLF's closed three-type system (reference: writer.py:17-19, SPEC.md:42).
  * int32=1, float64=2, utf8=3; no other types exist in the format.
  */
sealed abstract class ColfType(val code: Int, val name: String) extends Serializable
object ColfType {
  case object Int32 extends ColfType(1, "int32")
  case object Float64 extends ColfType(2, "float64")
  case object Utf8 extends ColfType(3, "utf8")

  val all: Seq[ColfType] = Seq(Int32, Float64, Utf8)

  def fromName(s: String): ColfType =
    all.find(_.name == s).getOrElse(
      throw new IllegalArgumentException(s"Unknown COLF type name: $s"))
}

/** One column in the schema JSON (reference: SPEC.md:25-33). */
final case class ColfField(name: String, tpe: ColfType, nullable: Boolean)
    extends Serializable

/** Optional per-column statistics for data skipping, carried as EXTRA KEYS
  * inside each column object of the header schema JSON. The reference
  * reader parses that JSON with `json.loads` and reads only the keys it
  * knows (reader.py:66-72), so stats-bearing files stay byte-readable by
  * `reference/reader.py` — no sidecar files to lose, no footer to seek.
  *
  * `min`/`max` are typed by the column: Int (int32), Double (float64) or
  * String (utf8), always over NON-NULL values only. Bounds may be absent
  * when unavailable (zero non-null rows, a float column containing
  * NaN/±Inf — not JSON-encodable and NaN breaks ordering — or a string
  * max longer than the truncation cap). A string `min` may be a TRUNCATED
  * PREFIX of the true minimum — still a valid lower bound in binary
  * (UTF8String) order; a string `max` is only written when exact.
  *
  * `bloom`: a small Bloom filter over the column's distinct values (all
  * three types — utf8 bytes, int32 values, normalized float64 bits), for
  * EQUALITY skipping where min/max can't bite — a high-cardinality
  * id/URL column makes every file span ~the whole sort range, so range
  * bounds never exclude an equality probe, but a Bloom answers "id = X"
  * per file with ~1% false positives. False positives only KEEP files
  * (never prune wrongly); absence (high-distinct columns past the build
  * cap, legacy files) keeps everything.
  */
final case class ColfColStats(nullCount: Long, min: Option[Any], max: Option[Any],
    bloom: Option[ColfBloom] = None)
    extends Serializable

/** Split-hash Bloom filter (Kirsch–Mitzenmacher: the i-th probe bit is
  * h1 + i·h2 from the two halves of one xxhash64). The WRITER hashes each
  * value with the type's scheme ([[ColfBloom.hash]] over raw UTF-8 bytes
  * for utf8, [[ColfBloom.hashInt]] / [[ColfBloom.hashDouble]] for the
  * numerics); the PRUNER hashes the filter literal the same way, so
  * membership agrees exactly with Spark predicate equality. Serialized
  * little-endian base64 in the header JSON — a few tens of KB per column
  * at the 50k-distinct build cap.
  */
final case class ColfBloom(bits: Array[Long], k: Int) extends Serializable {
  private def m: Long = bits.length.toLong * 64L

  def mightContain(h: Long): Boolean = {
    val h1 = h.toInt
    val h2 = (h >>> 32).toInt
    var i = 0
    while (i < k) {
      val idx = java.lang.Math.floorMod(h1.toLong + i.toLong * h2.toLong, m)
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def toBase64: String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
}

object ColfBloom {
  /** Stop collecting per-file distinct hashes past this: a column with
    * more distinct values per FILE than this would need a bloom too big
    * for a header that every planning fetch pays for. (Distinct-per-file,
    * not per-table: even a globally-unique id column builds a bloom as
    * long as files stay under ~50k rows each... and at normal file sizes
    * a miss here just means no equality skipping, exactly as before.)
    */
  val MaxDistinct = 50000
  val BitsPerKey = 10 // with k=6 → ~0.6% false-positive rate
  val K = 6

  /** Stable value hash shared by writer and pruner. */
  def hash(bytes: Array[Byte], off: Int, len: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 0L)

  /** Int32 value hash (xxhash64's int-specialized path) — shared
    * verbatim by writer and pruner so an `id = k` Bloom miss is exact.
    */
  def hashInt(v: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(v, 0L)

  /** Float64 value hash over the IEEE bit pattern. BOTH sides must
    * normalize first ([[normDouble]]): -0.0 and 0.0 are equal under
    * SQL/IEEE predicate equality but differ in bits, and NaN has many bit
    * patterns — hashing raw bits would let a probe for one representation
    * wrongly prune a file storing the other.
    */
  def hashDouble(v: Double): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
      java.lang.Double.doubleToLongBits(normDouble(v)), 0L)

  /** Canonical double for hashing: all zeros → +0.0, all NaNs → the
    * canonical quiet NaN (doubleToLongBits already canonicalizes NaN;
    * the explicit branch documents the intent).
    */
  def normDouble(v: Double): Double =
    if (v == 0.0d) 0.0d else if (java.lang.Double.isNaN(v)) Double.NaN else v

  /** The distinct hashes of one column's values: a primitive
    * open-addressing `long` set (no boxing per value) that stops growing
    * once it holds more than [[MaxDistinct]] hashes — past the cap the
    * column gets no bloom ([[of]]). An empty slot holds 0L, so a 0L hash
    * is kept in a flag of its own.
    */
  final class DistinctHashes {
    private var slots = new Array[Long](64)
    private var used = 0 // non-zero hashes in `slots`
    private var hasZero = false
    def size: Int = used + (if (hasZero) 1 else 0)
    def overCap: Boolean = size > MaxDistinct

    def add(h: Long): Unit =
      if (h == 0L) hasZero = true
      else if (!overCap && insert(slots, h)) {
        used += 1
        if (2 * used > slots.length) {
          val old = slots
          slots = new Array[Long](old.length * 2)
          old.foreach(o => if (o != 0L) insert(slots, o))
        }
      }

    /** Linear probing from a Fibonacci-hashed slot; false if present. */
    private def insert(tab: Array[Long], h: Long): Boolean = {
      val mask = tab.length - 1
      var i = ((h * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
      while (tab(i) != 0L) {
        if (tab(i) == h) return false
        i = (i + 1) & mask
      }
      tab(i) = h
      true
    }

    def foreach(f: Long => Unit): Unit = {
      if (hasZero) f(0L)
      slots.foreach(h => if (h != 0L) f(h))
    }
  }

  /** The bloom over `hashes`, or None when there are none or too many. */
  def of(hashes: DistinctHashes): Option[ColfBloom] =
    if (hashes.size == 0 || hashes.overCap) None else Some(build(hashes))

  /** The bits are an OR over the hashes, so they do not depend on the
    * order the hashes were added in.
    */
  def build(hashes: DistinctHashes): ColfBloom = {
    val nbits = math.max(512L, hashes.size.toLong * BitsPerKey)
    val bits = new Array[Long](((nbits + 63) / 64).toInt)
    val m = bits.length.toLong * 64L
    hashes.foreach { h =>
      val h1 = h.toInt
      val h2 = (h >>> 32).toInt
      var i = 0
      while (i < K) {
        val idx = java.lang.Math.floorMod(h1.toLong + i.toLong * h2.toLong, m)
        bits((idx >>> 6).toInt) |= (1L << (idx & 63))
        i += 1
      }
    }
    ColfBloom(bits, K)
  }

  def fromBase64(b64: String, k: Int): ColfBloom = {
    val raw = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val bits = new Array[Long](raw.length / 8)
    var i = 0
    while (i < bits.length) { bits(i) = bb.getLong(); i += 1 }
    ColfBloom(bits, k)
  }
}

/** The header's human-readable schema JSON:
  * {"num_rows": N, "columns": [{"name","type","nullable"}...]}
  * (reference: writer.py:171, SPEC.md:25-33), plus optional per-column
  * stats keys (`null_count`/`min`/`max`) written by our writer only.
  */
final case class ColfSchema(numRows: Long, fields: IndexedSeq[ColfField],
    stats: Map[String, ColfColStats] = Map.empty)
    extends Serializable {
  def fieldIndex(name: String): Int = {
    val i = fields.indexWhere(_.name == name)
    if (i < 0)
      throw new IllegalArgumentException(
        s"Column '$name' not found in file (columns: ${fields.map(_.name).mkString(", ")})")
    i
  }

  def toJson: String = {
    val sb = new StringBuilder
    sb.append("{\"num_rows\": ").append(numRows).append(", \"columns\": [")
    var first = true
    fields.foreach { f =>
      if (!first) sb.append(", ")
      first = false
      sb.append("{\"name\": ").append(ColfSchema.quote(f.name))
        .append(", \"type\": \"").append(f.tpe.name)
        .append("\", \"nullable\": ").append(f.nullable)
      stats.get(f.name).foreach { st =>
        sb.append(", \"null_count\": ").append(st.nullCount)
        st.min.foreach(v => sb.append(", \"min\": ").append(ColfSchema.statJson(v)))
        st.max.foreach(v => sb.append(", \"max\": ").append(ColfSchema.statJson(v)))
        st.bloom.foreach { bf =>
          sb.append(", \"bloom\": \"").append(bf.toBase64)
            .append("\", \"bloom_k\": ").append(bf.k)
        }
      }
      sb.append("}")
    }
    sb.append("]}")
    sb.toString
  }
}

object ColfSchema {
  private val mapper = new ObjectMapper()

  private[colf] def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** JSON encoding of a typed stat bound. Doubles use Java's shortest
    * round-trip rendering (a valid JSON number; NaN/Inf never reach here —
    * the builders drop stats for such columns).
    */
  private[colf] def statJson(v: Any): String = v match {
    case i: Int    => i.toString
    case d: Double => java.lang.Double.toString(d)
    case s: String => quote(s)
    case other => throw new IllegalArgumentException(s"unsupported stat type: $other")
  }

  /** The ordered union of per-file schemas, `(file, fields)` in listing
    * order — the one rule mergeSchema reads and first-declaration
    * adoption share: the first appearance of a name wins its position; a
    * column absent from some file is nullable (that file reads it as
    * all-null); a same-name type conflict fails, naming both files — at
    * 10⁵ files "another file" is undiagnosable. `what` prefixes the error.
    */
  def union(what: String, files: Seq[(String, Seq[ColfField])]): IndexedSeq[ColfField] = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, (ColfField, String)]
    val presentIn = scala.collection.mutable.Map.empty[String, Int]
    files.foreach { case (file, flds) =>
      flds.foreach { fld =>
        fields.get(fld.name) match {
          case Some((prev, first)) if prev.tpe != fld.tpe =>
            throw new IllegalArgumentException(
              s"$what: column '${fld.name}' is ${prev.tpe.name} in $first but " +
                s"${fld.tpe.name} in $file; types cannot be merged")
          case Some((prev, first)) =>
            fields(fld.name) = (prev.copy(nullable = prev.nullable || fld.nullable), first)
          case None =>
            fields(fld.name) = (fld, file)
        }
        presentIn(fld.name) = presentIn.getOrElse(fld.name, 0) + 1
      }
    }
    fields.values.toIndexedSeq.map { case (f, _) =>
      if (presentIn(f.name) < files.length) f.copy(nullable = true) else f
    }
  }

  def fromJson(json: String): ColfSchema = {
    val root: JsonNode = mapper.readTree(json)
    val numRows = root.get("num_rows").asLong()
    val cols = root.get("columns")
    val stats = Map.newBuilder[String, ColfColStats]
    val fields = (0 until cols.size()).map { i =>
      val c = cols.get(i)
      val f = ColfField(
        c.get("name").asText(),
        ColfType.fromName(c.get("type").asText()),
        c.get("nullable").asBoolean())
      if (c.has("null_count")) {
        def bound(key: String): Option[Any] =
          if (!c.has(key)) None
          else Some(f.tpe match {
            case ColfType.Int32   => c.get(key).asInt()
            case ColfType.Float64 => c.get(key).asDouble()
            case ColfType.Utf8    => c.get(key).asText()
          })
        val bloom =
          if (c.has("bloom") && c.has("bloom_k"))
            Some(ColfBloom.fromBase64(c.get("bloom").asText(), c.get("bloom_k").asInt()))
          else None
        stats += f.name -> ColfColStats(c.get("null_count").asLong(), bound("min"),
          bound("max"), bloom)
      }
      f
    }
    ColfSchema(numRows, ArraySeq.unsafeWrapArray(fields.toArray), stats.result())
  }
}

/** Per-column 25-byte metadata entry: absolute offset of the compressed
  * block, compressed/uncompressed sizes, has-nulls flag
  * (reference: SPEC.md:13-17, writer.py:197-203, reader.py:76-89).
  */
final case class ColfColumnMeta(
    offset: Long, compSize: Long, uncompSize: Long, hasNulls: Boolean)
    extends Serializable

final case class ColfHeader(
    version: Int,
    littleEndian: Boolean,
    schema: ColfSchema,
    metas: IndexedSeq[ColfColumnMeta],
    /** Absolute offset where column blocks start (= 10 + headerSize). */
    dataStart: Long)
    extends Serializable
