package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels

class KernelsSpec extends AnyFunSuite {

  test("zlib pack/unpack round-trips") {
    val in = new GenericArrayData(Array[Any](0, 1, -5, 1 << 20, Int.MaxValue))
    val packed = Kernels.zlibPackInts(in)
    val out = Kernels.zlibUnpackInts(packed)
    assert(out.toIntArray().toSeq == Seq(0, 1, -5, 1 << 20, Int.MaxValue))
  }

  test("zlib pack compresses runs") {
    // bound accommodates BEST_SPEED (level 1 packs this run to ~222
    // bytes vs level 6's ~120 — either is a >80x reduction of the
    // 40000-byte input, which is what this pins)
    val in = new GenericArrayData(Array.fill[Any](10000)(7))
    assert(Kernels.zlibPackInts(in).length < 500)
  }

  test("zlib string pack/unpack round-trips (gts blobs)") {
    val gts = Seq("0/1", "0/0", "./.", "1|2", "", "0/1")
    val packed = Kernels.zlibPackStrings(toks(gts: _*))
    val out = Kernels.zlibUnpackStrings(packed)
    assert((0 until out.numElements()).map(i => out.getUTF8String(i).toString) == gts)
    // the blob is a plain zlib stream of NUL-terminated UTF-8
    assert(DeflateSpec.inflate(packed).sameElements(gts.flatMap(_.getBytes("UTF-8") :+ 0.toByte)))
    // empty array round-trips to empty
    assert(Kernels.zlibUnpackStrings(Kernels.zlibPackStrings(toks())).numElements() == 0)
    // a LONE empty string keeps its element count (terminator encoding —
    // a separator encoding would collapse [""] to [])
    val lone = Kernels.zlibUnpackStrings(Kernels.zlibPackStrings(toks("")))
    assert(lone.numElements() == 1 && lone.getUTF8String(0).toString == "")
  }

  test("snappy pack/unpack round-trips") {
    val in = new GenericArrayData(Array[Any](0, 1, -5, 1 << 20, Int.MaxValue))
    val out = Kernels.snappyUnpackInts(Kernels.snappyPackInts(in))
    assert(out.toIntArray().toSeq == Seq(0, 1, -5, 1 << 20, Int.MaxValue))
  }

  test("zlib unpack rejects corrupt blobs instead of spinning") {
    // truncated stream: valid header, body cut off
    val full = Kernels.zlibPackInts(new GenericArrayData(Array.tabulate[Any](1000)(identity)))
    val truncated = java.util.Arrays.copyOf(full, full.length / 2)
    intercept[java.util.zip.DataFormatException](Kernels.zlibUnpackInts(truncated))
    // crafted FDICT header (CMF=0x78, FLG=0x20: FDICT set, checksum valid):
    // Inflater reports needsDictionary with input remaining — must throw,
    // not loop forever inside an executor task
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 0, 0, 0, 0)
    intercept[java.util.zip.DataFormatException](Kernels.zlibUnpackInts(fdict))
  }

  private def toks(ws: String*) =
    new GenericArrayData(ws.map(w => UTF8String.fromString(w)).toArray[Any])

  test("sigEqCount counts equal non-null lanes over the shorter length") {
    val a = new GenericArrayData(Array[Any](1L, 2L, 3L, null, 7L))
    val b = new GenericArrayData(Array[Any](1L, 9L, 3L, null))
    // lanes: eq, ne, eq, null (skipped), past-end (skipped) -> 2
    assert(Kernels.sigEqCount(a, b) == 2)
    val full = new GenericArrayData(Array[Any](5L, 5L))
    assert(Kernels.sigEqCount(full, full) == 2)
  }

  test("simhash: near-dup token bags land close, different ones far") {
    val a = Kernels.simHash64(toks("the", "quick", "brown", "fox", "jumps", "over", "dog"))
    val b = Kernels.simHash64(toks("the", "quick", "brown", "fox", "leaps", "over", "dog"))
    val c = Kernels.simHash64(toks("completely", "unrelated", "set", "of", "words", "here"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a, b) < ham(a, c))
    assert(a == Kernels.simHash64(toks("the", "quick", "brown", "fox", "jumps", "over", "dog")))
  }

  test("rolling minhash: content-defined, deterministic") {
    val core = "abcdefghijklmnopqrstuvwxyz0123456789"
    // identical content → identical fingerprint, regardless of call count
    val a = Kernels.rollingMinHash(UTF8String.fromString("XX" + core + "YY"), 16)
    assert(a == Kernels.rollingMinHash(UTF8String.fromString("XX" + core + "YY"), 16))
    // a pure repetition of the shared core minimizes INSIDE the core, so
    // any superstring whose global min window lies in the core agrees —
    // verify via the core itself (all its windows are shared)
    val coreOnly = Kernels.rollingMinHash(UTF8String.fromString(core), 16)
    val coreDup = Kernels.rollingMinHash(UTF8String.fromString(core + core), 16)
    assert(coreDup == coreOnly || java.lang.Long.compareUnsigned(coreDup, coreOnly) < 0)
    // disjoint content → different fingerprints
    assert(a != Kernels.rollingMinHash(UTF8String.fromString("0000000000000000000000"), 16))
    // shorter-than-window strings still hash
    assert(Kernels.rollingMinHash(UTF8String.fromString("abc"), 16) != 0L)
  }
}
