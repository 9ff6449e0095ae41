package graft

import java.nio.charset.StandardCharsets

import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.sources.colf.{ColfBloom, ColfCodec, ColfType}

/** The writer's equality blooms, collected from buffered values into a
  * primitive hash set, against a reference built the boxed way: every
  * distinct hash in a `java.util.HashSet[java.lang.Long]`, then the bits
  * OR-ed in. Both the bits and the distinct cap must agree, for all three
  * column types.
  */
object ColfBloomProps extends Properties("ColfBloom") {

  /** The reference bloom: None without hashes or past the cap. */
  private def reference(hashes: java.util.Set[java.lang.Long]): Option[ColfBloom] =
    if (hashes.isEmpty || hashes.size > ColfBloom.MaxDistinct) None
    else {
      val nbits = math.max(512L, hashes.size.toLong * ColfBloom.BitsPerKey)
      val bits = new Array[Long](((nbits + 63) / 64).toInt)
      val m = bits.length.toLong * 64L
      hashes.forEach { boxed =>
        val h = boxed.longValue
        (0 until ColfBloom.K).foreach { i =>
          val idx = java.lang.Math.floorMod(h.toInt.toLong + i.toLong * (h >>> 32).toInt.toLong, m)
          bits((idx >>> 6).toInt) |= (1L << (idx & 63))
        }
      }
      Some(ColfBloom(bits, ColfBloom.K))
    }

  private def sameBloom(a: Option[ColfBloom], b: Option[ColfBloom]): Boolean = (a, b) match {
    case (None, None)       => true
    case (Some(x), Some(y)) => x.k == y.k && java.util.Arrays.equals(x.bits, y.bits)
    case _                  => false
  }

  /** A builder holding `cells` (None = null) and the reference hash set. */
  private def fill(tpe: ColfType, cells: Seq[Option[Any]])
      : (ColfCodec.ColumnBuilder, java.util.HashSet[java.lang.Long]) = {
    val b = ColfCodec.builderFor(tpe)
    val hs = new java.util.HashSet[java.lang.Long]()
    cells.foreach {
      case None => b.appendNull()
      case Some(v: Int) =>
        b.asInstanceOf[ColfCodec.IntColumnBuilder].append(v)
        hs.add(ColfBloom.hashInt(v))
      case Some(v: Double) =>
        b.asInstanceOf[ColfCodec.DoubleColumnBuilder].append(v)
        hs.add(ColfBloom.hashDouble(v))
      case Some(v: String) =>
        val bytes = v.getBytes(StandardCharsets.UTF_8)
        b.asInstanceOf[ColfCodec.StringColumnBuilder].append(bytes)
        hs.add(ColfBloom.hash(bytes, 0, bytes.length))
      case Some(other) => throw new IllegalArgumentException(s"bad cell $other")
    }
    (b, hs)
  }

  private val genValue: Map[ColfType, Gen[Any]] = Map(
    ColfType.Int32 -> Gen.oneOf(Arbitrary.arbitrary[Int], Gen.choose(-5, 5)),
    ColfType.Float64 -> Gen.oneOf(Gen.choose(-1e6, 1e6), Gen.choose(-3, 3).map(_.toDouble),
      Gen.oneOf(0.0, -0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
        Double.PositiveInfinity, Double.NegativeInfinity)),
    ColfType.Utf8 -> Gen.oneOf(Gen.asciiPrintableStr.map(_.take(8)),
      Gen.oneOf("", "é", "日本語", "🎉", "a\u0000b")))

  private val genColumn: Gen[(ColfType, Seq[Option[Any]])] = for {
    tpe <- Gen.oneOf(ColfType.Int32, ColfType.Float64, ColfType.Utf8)
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.choose(1, 3), 4 -> Gen.choose(4, 300))
    cells <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None), 4 -> genValue(tpe).map(Some(_))))
  } yield (tpe, cells)

  property("statsBloom equals the bloom of a boxed HashSet of the same hashes") =
    forAllNoShrink(genColumn) { case (tpe, cells) =>
      val (b, hs) = fill(tpe, cells)
      Prop(sameBloom(b.statsBloom, reference(hs))) :| s"$tpe ${hs.size} distinct"
    }

  /** `d` distinct values of `tpe`, each distinct hash reached more than
    * once where the type allows (±0.0, two NaN bit patterns), with nulls.
    */
  private def distinctColumn(tpe: ColfType, d: Int): Seq[Option[Any]] = {
    val vals: Seq[Any] = tpe match {
      case ColfType.Int32 => (0 until d) ++ (0 until 100)
      case ColfType.Float64 =>
        Seq(0.0, -0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000001L)) ++
          (1 until d - 1).map(_.toDouble)
      case ColfType.Utf8 => Seq("", "") ++ (1 until d).map(i => s"v$i")
    }
    vals.flatMap(v => if (v.hashCode % 7 == 0) Seq(None, Some(v)) else Seq(Some(v)))
  }

  property("MaxDistinct distinct values keep the bloom, MaxDistinct + 1 drop it") = {
    val checks = for {
      tpe <- Seq(ColfType.Int32, ColfType.Float64, ColfType.Utf8)
      d <- Seq(ColfBloom.MaxDistinct, ColfBloom.MaxDistinct + 1)
    } yield {
      val (b, hs) = fill(tpe, distinctColumn(tpe, d))
      val bloom = b.statsBloom
      Prop(hs.size == d) :| s"$tpe: reference holds ${hs.size} hashes, expected $d" &&
        Prop(bloom.isDefined == (d == ColfBloom.MaxDistinct)) :| s"$tpe, $d distinct" &&
        Prop(sameBloom(bloom, reference(hs))) :| s"$tpe, $d distinct: bits"
    }
    checks.reduce(_ && _)
  }

  property("the primitive set keeps a 0L hash") = {
    val hs = new ColfBloom.DistinctHashes
    Seq(0L, 5L, 0L, -1L, Long.MinValue).foreach(hs.add)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    hs.foreach(seen += _)
    val boxed = new java.util.HashSet[java.lang.Long]()
    seen.foreach(boxed.add(_))
    Prop(hs.size == 4) :| s"size ${hs.size}" &&
      Prop(seen.sorted == Seq(Long.MinValue, -1L, 0L, 5L)) :| s"members $seen" &&
      Prop(sameBloom(ColfBloom.of(hs), reference(boxed))) :| "bits"
  }
}
