package graft

import java.util.zip.{Deflater, Inflater}

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Deflate

/** The JVM zlib encoder: every stream inflates to its input through
  * java.util.zip.Inflater, its block structure is what RFC 1951 allows
  * (read back by an independent decoder below), and its size stays
  * within 2 % of zlib's own level 1 on genotype-shaped arrays.
  */
class DeflateSpec extends AnyFunSuite {
  import DeflateSpec.inflate

  private def nativeLevel1(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED)
    try {
      d.setInput(b); d.finish()
      val out = new Array[Byte](b.length + 1024)
      var n = 0
      while (!d.finished()) n += d.deflate(out, n, out.length - n)
      java.util.Arrays.copyOf(out, n)
    } finally d.end()
  }

  private def le(xs: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * xs.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putInt)
    bb.array()
  }

  private def pack(b: Array[Byte]): Array[Byte] = Deflate.zlib(b, b.length)

  /** Round trip through Inflater and through Structure; returns the
    * structure.
    */
  private def roundTrip(b: Array[Byte]): Structure = {
    val z = pack(b)
    assert(z(0) == 0x78.toByte && z(1) == 0x01.toByte, "zlib header 78 01")
    assert(inflate(z).sameElements(b), s"Inflater round trip, ${b.length} bytes")
    val s = Structure.read(z)
    assert(s.out.sameElements(b), s"block decoder round trip, ${b.length} bytes")
    s
  }

  test("every payload of 0-300 bytes inflates to itself") {
    val rnd = new Random(1)
    val seen = Set.newBuilder[Int]
    for (len <- 0 to 300; alphabet <- Seq(1, 2, 4, 16, 256)) {
      val b = Array.fill(len)(rnd.nextInt(alphabet).toByte)
      seen ++= roundTrip(b).types
    }
    assert(seen.result() == Set(Structure.Stored, Structure.Fixed, Structure.Dynamic))
  }

  test("2,000- and 20,000-int arrays: maximal matches, far distances, many blocks") {
    val rnd = new Random(2)
    val depths = Array.fill(2000)(8 + rnd.nextInt(60))
    val d = roundTrip(le(depths))
    assert(d.types.toSet == Set(Structure.Dynamic))

    val zeros = roundTrip(le(new Array[Int](2000)))
    assert(zeros.maxLength == 258)

    // random ints (no matches of their own) with the first 250 repeated
    // 8,000 ints = 32,000 bytes later: one distance near the window
    val far = Array.fill(20000)(rnd.nextInt())
    System.arraycopy(far, 0, far, 8000, 250)
    val f = roundTrip(le(far))
    assert(f.maxDistance >= 32000)
    assert(f.types.size > 1 && f.types.contains(Structure.Stored))
  }

  test("Huffman codes deeper than the limit are cut to 15 and 7 bits, still complete") {
    // Fibonacci frequencies make the deepest Huffman tree: 20 symbols
    // need 19 bits unlimited, 12 symbols 11 bits
    def fib = Iterator.iterate((1, 1)) { case (a, b) => (b, a + b) }.map(_._1)
    for ((symbols, alphabet, limit) <- Seq((20, 286, 15), (12, 19, 7))) {
      val freqs = new Array[Int](alphabet)
      fib.take(symbols).zipWithIndex.foreach { case (f, i) => freqs(i * (alphabet / symbols)) = f }
      val lens = Deflate.get().huffmanLengths(freqs)
      assert(lens.count(_ > 0) == symbols && lens.max == limit, s"${lens.toSeq}")
      // Kraft sum exactly 1: a complete prefix code, as inflate wants
      assert(lens.filter(_ > 0).map(l => 1L << (limit - l)).sum == 1L << limit)
      // a more frequent symbol never gets the longer code
      for (a <- freqs.indices; b <- freqs.indices if freqs(a) > freqs(b) && freqs(b) > 0)
        assert(lens(a) <= lens(b))
    }
  }

  test("a payload after a larger one reuses no stale match state") {
    val rnd = new Random(3)
    val big = Array.fill(40000)(rnd.nextInt(4).toByte)
    roundTrip(big)
    for (_ <- 0 until 200) roundTrip(Array.fill(rnd.nextInt(200))(rnd.nextInt(4).toByte))
    roundTrip(big)
  }

  test("blob bytes stay within 2 % of Deflater(BEST_SPEED) on genotype-shaped arrays") {
    val rnd = new Random(4)
    val shapes: Seq[(String, Int => Int)] = Seq(
      "gt_types" -> (_ => if (rnd.nextInt(10) < 7) 0 else Seq(1, 2, 3)(rnd.nextInt(3))),
      "depth" -> (_ => 8 + rnd.nextInt(60)),
      "PL" -> (_ => if (rnd.nextInt(3) == 0) 0 else 10 + rnd.nextInt(200)))
    for ((name, gen) <- shapes; samples <- Seq(20, 200, 2000)) {
      var ours, zlib = 0L
      for (_ <- 0 until 40) {
        val b = le(Array.tabulate(samples)(gen))
        ours += pack(b).length
        zlib += nativeLevel1(b).length
      }
      assert(math.abs(ours - zlib) <= 0.02 * zlib, s"$name at $samples samples: $ours vs $zlib bytes")
    }
  }
}

object DeflateSpec {
  import org.scalatest.Assertions._

  /** `z` inflated by java.util.zip.Inflater, which must find a finished
    * stream with a valid Adler-32 and nothing after it.
    */
  def inflate(z: Array[Byte]): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(z)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!inf.finished()) {
        val k = inf.inflate(buf) // throws on a bad Adler-32
        assert(k > 0 || inf.finished(), "stream ends early")
        out.write(buf, 0, k)
      }
      assert(inf.getRemaining == 0, "bytes after the Adler-32")
      out.toByteArray
    } finally inf.end()
  }
}

/** What an RFC 1951 stream holds: its block types in order, the longest
  * match length and distance, and the inflated bytes. A small decoder
  * kept apart from the encoder, so the block structure it reports is
  * read, not assumed.
  */
final case class Structure(types: Seq[Int], maxLength: Int, maxDistance: Int, out: Array[Byte])

object Structure {
  val Stored = 0
  val Fixed = 1
  val Dynamic = 2

  private val lengthBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
    35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val lengthExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val distBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
    257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289, 16385, 24577)
  private val distExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  private val clOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  /** Canonical Huffman decoding table: code length → (first code,
    * first index) over the symbols sorted by (length, symbol).
    */
  private final class Code(lengths: Array[Int]) {
    private val count = new Array[Int](16)
    lengths.foreach(l => count(l) += 1)
    count(0) = 0
    private val symbols = lengths.indices.filter(lengths(_) > 0).sortBy(i => (lengths(i), i)).toArray

    def decode(bits: Bits): Int = {
      var code = 0
      var first = 0
      var index = 0
      for (len <- 1 to 15) {
        code |= bits.take(1)
        val c = count(len)
        if (code - first < c) return symbols(index + code - first)
        index += c
        first = (first + c) << 1
        code <<= 1
      }
      throw new IllegalStateException("no code")
    }
  }

  private final class Bits(z: Array[Byte], var pos: Int) {
    private var buf = 0
    private var n = 0
    def take(k: Int): Int = {
      while (n < k) { buf |= (z(pos) & 0xff) << n; pos += 1; n += 8 }
      val v = buf & ((1 << k) - 1)
      buf >>>= k; n -= k
      v
    }
    def align(): Unit = { buf = 0; n = 0 }
  }

  def read(z: Array[Byte]): Structure = {
    require(((z(0) & 0xff) << 8 | (z(1) & 0xff)) % 31 == 0 && (z(0) & 0x0f) == 8, "zlib header")
    val bits = new Bits(z, 2)
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val types = Seq.newBuilder[Int]
    var maxLength, maxDistance = 0
    var last = false
    while (!last) {
      last = bits.take(1) == 1
      val kind = bits.take(2)
      types += kind
      kind match {
        case Stored =>
          bits.align()
          val len = bits.take(16)
          require(bits.take(16) == (~len & 0xffff), "stored LEN/NLEN")
          (0 until len).foreach(_ => out += bits.take(8).toByte)
        case Fixed | Dynamic =>
          val (lit, dist) =
            if (kind == Fixed)
              (new Code(Array.tabulate(288)(n => if (n < 144) 8 else if (n < 256) 9 else if (n < 280) 7 else 8)),
                new Code(Array.fill(30)(5)))
            else {
              val hlit = bits.take(5) + 257
              val hdist = bits.take(5) + 1
              val hclen = bits.take(4) + 4
              val cl = new Array[Int](19)
              (0 until hclen).foreach(i => cl(clOrder(i)) = bits.take(3))
              val clCode = new Code(cl)
              val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
              while (lens.size < hlit + hdist) clCode.decode(bits) match {
                case 16 => val r = 3 + bits.take(2); lens ++= Seq.fill(r)(lens.last)
                case 17 => lens ++= Seq.fill(3 + bits.take(3))(0)
                case 18 => lens ++= Seq.fill(11 + bits.take(7))(0)
                case l => lens += l
              }
              require(lens.size == hlit + hdist, "code lengths overrun")
              require(lens.forall(_ <= 15), "code longer than 15 bits")
              (new Code(lens.take(hlit).toArray), new Code(lens.drop(hlit).toArray))
            }
          var sym = lit.decode(bits)
          while (sym != 256) {
            if (sym < 256) out += sym.toByte
            else {
              val len = lengthBase(sym - 257) + bits.take(lengthExtra(sym - 257))
              val d = dist.decode(bits)
              val distance = distBase(d) + bits.take(distExtra(d))
              require(distance <= out.size && distance <= 32768, s"distance $distance")
              (0 until len).foreach(_ => out += out(out.size - distance))
              maxLength = math.max(maxLength, len)
              maxDistance = math.max(maxDistance, distance)
            }
            sym = lit.decode(bits)
          }
        case _ => throw new IllegalStateException("reserved block type")
      }
    }
    Structure(types.result(), maxLength, maxDistance, out.toArray)
  }
}
