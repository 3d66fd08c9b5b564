package graft.functions

/** A zlib stream encoder (RFC 1950 framing around RFC 1951 deflate) on
  * the JVM, for the small per-row payloads the genotype blob kernels
  * pack: one blob per genotype column per variant, 80 bytes at 20
  * samples. At that size a native deflate is almost all per-stream
  * set-up (deflateReset clears a 64 KiB hash table, the Huffman trees
  * are built, JNI is crossed); this encoder keeps all of its state per
  * thread and never clears it, so a blob costs its own bytes.
  *
  * The algorithm is zlib's level 1 (`deflate_fast` + `_tr_flush_block`):
  *   - greedy LZ77 over a 3-byte hash with a 4-link chain, nice length
  *     8, and hash insertion inside a match only for matches of length
  *     ≤ 4;
  *   - a block every 16,383 symbols, sent as whichever of stored,
  *     fixed-Huffman or dynamic-Huffman costs the fewest bits, with
  *     zlib's length-limited trees (15 bits, code-length code 7 bits);
  *   - header `78 01`, Adler-32 trailer.
  * The output is any inflater's input (GEMINI's `zlib.decompress`,
  * `java.util.zip.Inflater`), and its size tracks `Deflater(BEST_SPEED)`:
  * it picks zlib's matches, and only ties between equally frequent
  * symbols may get their Huffman code lengths the other way round.
  */
final class Deflate private {
  import Deflate._

  private var out = new Array[Byte](256)
  private var outPos = 0
  private var bitBuf = 0L
  private var bitCount = 0

  // Match finder. head and prev hold `base + position`: an entry at or
  // below `base` belongs to an earlier payload (or is position 0, which
  // zlib also never matches), so neither table is cleared between blobs.
  private val head = new Array[Int](HashSize)
  private val prev = new Array[Int](WSize)
  private var base = 0
  private var matchStart = 0

  // The open block's symbols: a literal is its byte, a match is
  // (distance << 8) | (length - 3).
  private val syms = new Array[Int](SymEnd)
  private var nSyms = 0

  private val lTree = new Tree(LCodes, StaticLLen, ExtraLBits, Literals + 1, MaxBits)
  private val dTree = new Tree(DCodes, StaticDLen, ExtraDBits, 0, MaxBits)
  private val blTree = new Tree(BlCodes, null, ExtraBlBits, 0, MaxBlBits)
  // one tree's symbols as frequency << 9 | symbol, sorted, and their
  // code lengths in the same order
  private val leaves = new Array[Int](LCodes)
  private val depths = new Array[Int](LCodes)
  private val freqStart = new Array[Int](512)
  // the open block's code-length symbols, both trees: symbol |
  // extra << 5 | extra bit count << 12
  private val blSyms = new Array[Int](LCodes + DCodes)
  private var nBlSyms = 0
  private val nextCode = new Array[Int](MaxBits + 1)
  private var optLen = 0L
  private var staticLen = 0L

  /** `src(0 until len)` as a zlib stream. */
  private[graft] def zlib(src: Array[Byte], len: Int): Array[Byte] = {
    if (base > Int.MaxValue - len - 1) { java.util.Arrays.fill(head, 0); base = 0 }
    outPos = 0
    ensureOut(len + 64)
    out(0) = 0x78; out(1) = 0x01
    outPos = 2
    lz77(src, len)
    base += len
    val adler = adler32(src, len)
    ensureOut(4)
    out(outPos) = (adler >>> 24).toByte; out(outPos + 1) = (adler >>> 16).toByte
    out(outPos + 2) = (adler >>> 8).toByte; out(outPos + 3) = adler.toByte
    outPos += 4
    java.util.Arrays.copyOf(out, outPos)
  }

  private def ensureOut(n: Int): Unit =
    if (out.length - outPos < n) out = java.util.Arrays.copyOf(out, math.max(outPos + n, 2 * out.length))

  private def lz77(src: Array[Byte], len: Int): Unit = {
    val head = this.head
    val prev = this.prev
    val syms = this.syms
    val base = this.base
    var n = nSyms
    var strstart = 0
    var blockStart = 0
    // zlib's ins_h: rolled one byte per inserted position
    var h = if (len >= 2) ((src(0) & 0xff) << HashShift) ^ (src(1) & 0xff) else 0
    while (strstart < len) {
      val lookahead = len - strstart
      var matchLen = 0
      if (lookahead >= MinMatch) {
        h = ((h << HashShift) ^ (src(strstart + 2) & 0xff)) & HashMask
        val cand = head(h) - base
        prev(strstart & WMask) = head(h)
        head(h) = base + strstart
        if (cand > 0 && strstart - cand <= MaxDist) matchLen = longestMatch(src, len, strstart, cand)
      }
      if (matchLen >= MinMatch) {
        val dist = strstart - matchStart
        val lc = matchLen - MinMatch
        syms(n) = (dist << 8) | lc
        n += 1
        lTree.count(LengthCode(lc) + Literals + 1)
        dTree.count(distCode(dist - 1))
        if (matchLen <= MaxInsert && lookahead - matchLen >= MinMatch) {
          var p = strstart + 1
          strstart += matchLen
          while (p < strstart) {
            h = ((h << HashShift) ^ (src(p + 2) & 0xff)) & HashMask
            prev(p & WMask) = head(h)
            head(h) = base + p
            p += 1
          }
        } else {
          strstart += matchLen
          if (strstart + 1 < len) h = ((src(strstart) & 0xff) << HashShift) ^ (src(strstart + 1) & 0xff)
        }
      } else {
        val c = src(strstart) & 0xff
        syms(n) = c
        n += 1
        lTree.count(c)
        strstart += 1
      }
      if (n == SymEnd) {
        nSyms = n
        flushBlock(src, blockStart, strstart - blockStart, last = false)
        n = 0
        blockStart = strstart
      }
    }
    nSyms = n
    flushBlock(src, blockStart, strstart - blockStart, last = true)
  }

  /** zlib's `longest_match`: the longest of at most MaxChain earlier
    * candidates, stopping at NiceLength; sets matchStart.
    */
  private def longestMatch(src: Array[Byte], len: Int, strstart: Int, first: Int): Int = {
    val maxLen = math.min(MaxMatch, len - strstart)
    val nice = math.min(NiceLength, maxLen)
    val limit = if (strstart > MaxDist) strstart - MaxDist else 0
    var best = MinMatch - 1
    var cur = first
    var chain = MaxChain
    var searching = true
    while (searching) {
      if (src(cur + best) == src(strstart + best)) {
        val l = matchLength(src, cur, strstart, maxLen)
        if (l > best) {
          matchStart = cur
          best = l
        }
      }
      chain -= 1
      if (best >= nice || chain == 0) searching = false
      else {
        val next = prev(cur & WMask) - base
        if (next > limit) cur = next else searching = false
      }
    }
    best
  }

  /** How many bytes (at most maxLen) agree from `a` and from `b > a`,
    * compared eight at a time while eight remain in the array.
    */
  private def matchLength(src: Array[Byte], a: Int, b: Int, maxLen: Int): Int = {
    val words = math.min(maxLen, src.length - 7 - b)
    var l = 0
    while (l < words) {
      val diff = (LongLE.get(src, a + l): Long) ^ (LongLE.get(src, b + l): Long)
      if (diff != 0L) return math.min(l + (java.lang.Long.numberOfTrailingZeros(diff) >>> 3), maxLen)
      l += 8
    }
    while (l < maxLen && src(a + l) == src(b + l)) l += 1
    math.min(l, maxLen)
  }

  /** Appends the low `n` (≤ 32) bits of `value`. Fewer than 8 bits stay
    * pending between calls; every call stores 8 bytes at outPos, so
    * `out` keeps 8 bytes of room past the stream.
    */
  private def sendBits(value: Int, n: Int): Unit = {
    val buf = bitBuf | ((value & 0xffffffffL) << bitCount)
    val count = bitCount + n
    LongLE.set(out, outPos, buf): Unit
    val bytes = count >>> 3
    outPos += bytes
    bitBuf = buf >>> (bytes << 3)
    bitCount = count & 7
  }

  /** zlib's `bi_windup`: pad to a byte boundary. */
  private def alignByte(): Unit = {
    if (bitCount > 0) { out(outPos) = bitBuf.toByte; outPos += 1 }
    bitBuf = 0L
    bitCount = 0
  }

  /** zlib's `_tr_flush_block`: sends the open block as the cheapest of
    * stored, fixed and dynamic, then starts an empty one.
    */
  private def flushBlock(src: Array[Byte], start: Int, storedLen: Int, last: Boolean): Unit = {
    val lastBit = if (last) 1 else 0
    lTree.count(EndBlock)
    optLen = 0L
    staticLen = 0L
    buildTree(lTree)
    buildTree(dTree)
    val maxBlIndex = buildBlTree()
    val optLenb = (optLen + 3 + 7) >>> 3
    val staticLenb = (staticLen + 3 + 7) >>> 3
    val best = math.min(optLenb, staticLenb)
    ensureOut(storedLen + 5 * (storedLen / 0xffff + 1) + 16)
    if (storedLen + 4 <= best) {
      var off = start
      var rem = storedLen
      while ({
        val n = math.min(rem, 0xffff)
        rem -= n
        sendBits(if (rem == 0) lastBit else 0, 3)
        alignByte()
        out(outPos) = n.toByte; out(outPos + 1) = (n >>> 8).toByte
        out(outPos + 2) = (~n).toByte; out(outPos + 3) = (~n >>> 8).toByte
        System.arraycopy(src, off, out, outPos + 4, n)
        outPos += 4 + n
        off += n
        rem > 0
      }) ()
    } else if (staticLenb == best) {
      sendBits((1 << 1) + lastBit, 3)
      compressBlock(StaticLCode, StaticDCode)
    } else {
      sendBits((2 << 1) + lastBit, 3)
      genCodes(lTree)
      genCodes(dTree)
      genCodes(blTree)
      sendAllTrees(lTree.maxCode + 1, dTree.maxCode + 1, maxBlIndex + 1)
      compressBlock(lTree.code, dTree.code)
    }
    if (last) alignByte()
    lTree.clear()
    dTree.clear()
    blTree.clear()
    nSyms = 0
  }

  /** zlib's `compress_block`: the open block's symbols in the given
    * codes (length << 16 | code). A match's length code, distance code
    * and their extra bits (at most 48 bits) go out in one store; the
    * bit writer of sendBits runs here on locals.
    */
  private def compressBlock(lCode: Array[Int], dCode: Array[Int]): Unit = {
    val o = out
    var buf = bitBuf
    var cnt = bitCount
    var pos = outPos
    var i = 0
    while (i < nSyms) {
      val s = syms(i)
      val dist = s >>> 8
      var v = 0L
      var n = 0
      if (dist == 0) {
        val e = lCode(s)
        v = e & 0xffff
        n = e >>> 16
      } else {
        val lc = s & 0xff
        val code = LengthCode(lc)
        val e = lCode(code + Literals + 1)
        val ln = (e >>> 16) + ExtraLBits(code)
        val d = dist - 1
        val dc = distCode(d)
        val f = dCode(dc)
        v = ((e & 0xffff) | ((lc - BaseLength(code)) << (e >>> 16))) |
          (((f & 0xffff) | ((d - BaseDist(dc)) << (f >>> 16))).toLong << ln)
        n = ln + (f >>> 16) + ExtraDBits(dc)
      }
      buf |= v << cnt
      cnt += n
      LongLE.set(o, pos, buf): Unit
      val bytes = cnt >>> 3
      pos += bytes
      buf >>>= bytes << 3
      cnt &= 7
      i += 1
    }
    bitBuf = buf
    bitCount = cnt
    outPos = pos
    val e = lCode(EndBlock)
    sendBits(e & 0xffff, e >>> 16)
  }

  /** Huffman code lengths for `t`'s frequencies, limited to
    * `t.maxLength` bits, and the open block's cost under them added to
    * optLen (under the fixed codes to staticLen). Like zlib's
    * `build_tree`, a tree gets at least two codes, so every code is at
    * least one bit long and a block without matches still has a
    * distance code. Visits only the symbols in `t.used`.
    */
  private def buildTree(t: Tree): Unit = {
    var n = 0
    var maxCode = -1
    var w = 0
    while (w < t.used.length) {
      var bits = t.used(w)
      while (bits != 0) {
        val s = (w << 6) + java.lang.Long.numberOfTrailingZeros(bits)
        bits &= bits - 1
        leaves(n) = (t.freq(s) << 9) | s
        n += 1
        maxCode = s
      }
      w += 1
    }
    while (n < 2) {
      val s = if (maxCode < 2) { maxCode += 1; maxCode } else 0
      t.used(s >>> 6) |= 1L << s
      leaves(n) = (1 << 9) | s // sent with a length, never in the data
      n += 1
    }
    t.maxCode = maxCode
    var i = 0
    if (n == 2) { depths(0) = 1; depths(1) = 1 }
    else {
      sortLeaves(n)
      while (i < n) { depths(i) = leaves(i) >>> 9; i += 1 }
      minimumRedundancy(n)
    }
    val count = t.blCount
    java.util.Arrays.fill(count, 0)
    i = 0
    while (i < n) { count(math.min(depths(i), t.maxLength)) += 1; i += 1 }
    if (depths(0) > t.maxLength) limitLengths(count, t.maxLength, n)
    i = 0
    while (i < n) {
      val s = leaves(i) & 0x1ff
      val l = depths(i)
      t.len(s) = l
      val f = t.freq(s)
      t.freq(s) = 0
      if (f != 0) {
        val x = if (s >= t.extraBase) t.extra(s - t.extraBase) else 0
        optLen += f.toLong * (l + x)
        if (t.staticLen != null) staticLen += f.toLong * (t.staticLen(s) + x)
      }
      i += 1
    }
  }

  /** Sorts `leaves(0 until n)`. They arrive in symbol order, so a
    * stable counting sort by frequency gives the same order as sorting
    * the keys; it runs where the frequencies are small, as they are in
    * the small blocks this encoder is for.
    */
  private def sortLeaves(n: Int): Unit = {
    var maxFreq = 0
    var i = 0
    while (i < n) { maxFreq = math.max(maxFreq, leaves(i) >>> 9); i += 1 }
    if (maxFreq >= freqStart.length - 1) java.util.Arrays.sort(leaves, 0, n)
    else {
      val start = freqStart
      java.util.Arrays.fill(start, 0, maxFreq + 2, 0)
      i = 0
      while (i < n) { start((leaves(i) >>> 9) + 1) += 1; i += 1 }
      var f = 1
      while (f <= maxFreq) { start(f) += start(f - 1); f += 1 }
      i = 0
      while (i < n) {
        val k = leaves(i)
        depths(start(k >>> 9)) = k
        start(k >>> 9) += 1
        i += 1
      }
      System.arraycopy(depths, 0, leaves, 0, n)
    }
  }

  /** Moffat and Katajainen's in-place minimum-redundancy code: turns
    * `depths(0 until n)`, frequencies in ascending order, into optimal
    * code lengths (longest first).
    */
  private def minimumRedundancy(n: Int): Unit = {
    val a = depths
    a(0) += a(1)
    var root = 0
    var leaf = 2
    var next = 1
    while (next < n - 1) {
      if (leaf >= n || a(root) < a(leaf)) { a(next) = a(root); a(root) = next; root += 1 }
      else { a(next) = a(leaf); leaf += 1 }
      if (leaf >= n || (root < next && a(root) < a(leaf))) { a(next) += a(root); a(root) = next; root += 1 }
      else { a(next) += a(leaf); leaf += 1 }
      next += 1
    }
    a(n - 2) = 0
    next = n - 3
    while (next >= 0) { a(next) = a(a(next)) + 1; next -= 1 }
    var avbl = 1
    var used = 0
    var dpth = 0
    root = n - 2
    next = n - 1
    while (avbl > 0) {
      while (root >= 0 && a(root) == dpth) { used += 1; root -= 1 }
      while (avbl > used) { a(next) = dpth; next -= 1; avbl -= 1 }
      avbl = 2 * used
      dpth += 1
      used = 0
    }
  }

  /** zlib's overflow repair (`gen_bitlen`): with the lengths over
    * `max` counted at `max`, moves leaves down until the code is
    * complete again, then hands the lengths out longest first.
    */
  private def limitLengths(count: Array[Int], max: Int, n: Int): Unit = {
    var kraft = 0L
    var bits = 1
    while (bits <= max) { kraft += count(bits).toLong << (max - bits); bits += 1 }
    while (kraft > (1L << max)) {
      bits = max - 1
      while (count(bits) == 0) bits -= 1
      count(bits) -= 1
      count(bits + 1) += 2
      count(max) -= 1
      kraft -= 1
    }
    var i = 0
    bits = max
    while (bits > 0) {
      var k = count(bits)
      while (k > 0) { depths(i) = bits; i += 1; k -= 1 }
      bits -= 1
    }
  }

  /** zlib's `gen_codes` over `t.used`: canonical codes, bit-reversed as
    * deflate sends them LSB first.
    */
  private def genCodes(t: Tree): Unit = {
    firstCodes(t.blCount, nextCode)
    var w = 0
    while (w < t.used.length) {
      var used = t.used(w)
      while (used != 0) {
        val n = (w << 6) + java.lang.Long.numberOfTrailingZeros(used)
        used &= used - 1
        val l = t.len(n)
        t.code(n) = (l << 16) | reverse(nextCode(l), l)
        nextCode(l) += 1
      }
      w += 1
    }
  }

  /** zlib's `scan_tree`: appends to blSyms the code-length symbols
    * that spell `t`'s lengths 0..maxCode, counting them in blTree. The
    * lengths are walked as runs: zero runs between the symbols in
    * `t.used`, and runs of equal lengths on consecutive symbols.
    */
  private def codeLengths(t: Tree): Unit = {
    var prevLen = -1
    var runStart = 0
    var runLen = 0
    var runVal = 0
    var w = 0
    while (w < t.used.length) {
      var used = t.used(w)
      while (used != 0) {
        val n = (w << 6) + java.lang.Long.numberOfTrailingZeros(used)
        used &= used - 1
        val l = t.len(n)
        if (runLen > 0 && n == runStart + runLen && l == runVal) runLen += 1
        else {
          if (runLen > 0) { lengthRun(runVal, runLen, prevLen); prevLen = runVal }
          val gap = n - (runStart + runLen)
          if (gap > 0) { zeroRun(gap); prevLen = 0 }
          runStart = n; runLen = 1; runVal = l
        }
      }
      w += 1
    }
    lengthRun(runVal, runLen, prevLen)
  }

  /** `count` zero lengths: pieces of at most 138. */
  private def zeroRun(count: Int): Unit = {
    var rem = count
    while (rem > 0) {
      val c = math.min(rem, 138)
      rem -= c
      if (c < 3) { lengthSym(0, 0, 0); if (c == 2) lengthSym(0, 0, 0) }
      else if (c <= 10) lengthSym(RepZ3To10, c - 3, 3)
      else lengthSym(RepZ11To138, c - 11, 7)
    }
  }

  /** `count` equal non-zero lengths `len` after a run of `prevLen`: the
    * first piece (at most 7) spells `len` once before its repeat, later
    * pieces (at most 6) repeat it.
    */
  private def lengthRun(len: Int, count: Int, prevLen: Int): Unit = {
    var rem = count
    var first = len != prevLen
    while (rem > 0) {
      val c = math.min(rem, if (first) 7 else 6)
      rem -= c
      if (c < (if (first) 4 else 3)) { var k = 0; while (k < c) { lengthSym(len, 0, 0); k += 1 } }
      else {
        if (first) lengthSym(len, 0, 0)
        lengthSym(Rep3To6, c - (if (first) 4 else 3), 2)
      }
      first = false
    }
  }

  private def lengthSym(sym: Int, extra: Int, extraBits: Int): Unit = {
    blSyms(nBlSyms) = sym | (extra << 5) | (extraBits << 12)
    nBlSyms += 1
    blTree.count(sym)
  }

  /** Length of code-length symbol `sym`; 0 when the block has none. */
  private def blLen(sym: Int): Int = if (((blTree.used(0) >>> sym) & 1) != 0) blTree.len(sym) else 0

  /** zlib's `build_bl_tree`: the code-length code, its cost added to
    * optLen; returns the index in BlOrder of the last length sent.
    */
  private def buildBlTree(): Int = {
    nBlSyms = 0
    codeLengths(lTree)
    codeLengths(dTree)
    buildTree(blTree)
    var maxBlIndex = BlCodes - 1
    while (maxBlIndex >= 3 && blLen(BlOrder(maxBlIndex)) == 0) maxBlIndex -= 1
    optLen += 3L * (maxBlIndex + 1) + 5 + 5 + 4
    maxBlIndex
  }

  /** The code lengths buildTree gives symbols with these frequencies:
    * the literal/length tree's (15-bit limit) for 286 frequencies, else
    * the code-length tree's (7-bit limit). For tests of the limit.
    */
  private[graft] def huffmanLengths(freqs: Array[Int]): Array[Int] = {
    val t = if (freqs.length == LCodes) lTree else blTree
    for (s <- freqs.indices if freqs(s) > 0) { t.freq(s) = freqs(s); t.used(s >>> 6) |= 1L << s }
    buildTree(t)
    val lens = Array.tabulate(freqs.length)(s => if (((t.used(s >>> 6) >>> s) & 1) != 0) t.len(s) else 0)
    t.clear()
    lens
  }

  private def sendAllTrees(lCodes: Int, dCodes: Int, blCodes: Int): Unit = {
    sendBits(lCodes - 257, 5)
    sendBits(dCodes - 1, 5)
    sendBits(blCodes - 4, 4)
    var rank = 0
    while (rank < blCodes) { sendBits(blLen(BlOrder(rank)), 3); rank += 1 }
    var i = 0
    while (i < nBlSyms) {
      val s = blSyms(i)
      val sym = s & 0x1f
      val l = blTree.len(sym)
      sendBits((blTree.code(sym) & 0xffff) | (((s >>> 5) & 0x7f) << l), l + (s >>> 12))
      i += 1
    }
  }

}

object Deflate {
  private val local = ThreadLocal.withInitial[Deflate](() => new Deflate)

  private val LongLE = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** This thread's encoder. */
  private[graft] def get(): Deflate = local.get()

  /** `src(0 until len)` as a zlib stream, by this thread's encoder. */
  def zlib(src: Array[Byte], len: Int): Array[Byte] = local.get().zlib(src, len)

  /** One Huffman tree's arrays; `code` holds length << 16 | code.
    * `used` marks the symbols counted in the open block (and the two
    * a tree gets at least); every other symbol has frequency 0, and
    * only used symbols' lengths and codes are read.
    */
  private final class Tree(val elems: Int, val staticLen: Array[Int], val extra: Array[Int],
      val extraBase: Int, val maxLength: Int) {
    val freq = new Array[Int](elems)
    val len = new Array[Int](elems)
    val code = new Array[Int](elems)
    val used = new Array[Long]((elems + 63) >>> 6)
    val blCount = new Array[Int](MaxBits + 1)
    var maxCode = 0

    def count(n: Int): Unit = {
      freq(n) += 1
      used(n >>> 6) |= 1L << n
    }

    /** Back to an empty block (buildTree zeroed the frequencies). */
    def clear(): Unit = java.util.Arrays.fill(used, 0L)
  }

  private final val WSize = 1 << 15
  private final val WMask = WSize - 1
  private final val HashSize = 1 << 15
  private final val HashMask = HashSize - 1
  // three bytes fill the hash: (15 + 3 - 1) / 3
  private final val HashShift = 5
  private final val MinMatch = 3
  private final val MaxMatch = 258
  // zlib keeps MIN_LOOKAHEAD (262) bytes of its 32 KiB window unused
  private final val MaxDist = WSize - (MaxMatch + MinMatch + 1)
  // zlib level 1: max_chain 4, nice_length 8, max_lazy (insert) 4
  private final val MaxChain = 4
  private final val NiceLength = 8
  private final val MaxInsert = 4
  // zlib's lit_bufsize - 1 at memLevel 8
  private final val SymEnd = (1 << 14) - 1

  private final val Literals = 256
  private final val LengthCodes = 29
  private final val LCodes = Literals + 1 + LengthCodes
  private final val DCodes = 30
  private final val BlCodes = 19
  private final val MaxBits = 15
  private final val MaxBlBits = 7
  private final val EndBlock = 256
  private final val Rep3To6 = 16
  private final val RepZ3To10 = 17
  private final val RepZ11To138 = 18

  private val ExtraLBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
    4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val ExtraDBits = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
    9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  private val ExtraBlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 3, 7)
  private val BlOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)

  // zlib's tr_static_init tables; the static codes are length << 16 | code
  private val BaseLength = new Array[Int](LengthCodes)
  private val LengthCode = new Array[Int](256)
  private val BaseDist = new Array[Int](DCodes)
  private val DistCode = new Array[Int](512)
  private val StaticLLen = new Array[Int](LCodes + 2)
  private val StaticLCode = new Array[Int](LCodes + 2)
  private val StaticDLen = Array.fill(DCodes)(5)
  private val StaticDCode = Array.tabulate(DCodes)(n => (5 << 16) | reverse(n, 5))

  locally {
    var length = 0
    var code = 0
    while (code < LengthCodes - 1) {
      BaseLength(code) = length
      for (_ <- 0 until (1 << ExtraLBits(code))) { LengthCode(length) = code; length += 1 }
      code += 1
    }
    // length 258 has two encodings (284 + 5 bits, or 285); use the short one
    LengthCode(length - 1) = code
    BaseLength(code) = length - 1
    var dist = 0
    code = 0
    while (code < 16) {
      BaseDist(code) = dist
      for (_ <- 0 until (1 << ExtraDBits(code))) { DistCode(dist) = code; dist += 1 }
      code += 1
    }
    dist >>= 7
    while (code < DCodes) {
      BaseDist(code) = dist << 7
      for (_ <- 0 until (1 << (ExtraDBits(code) - 7))) { DistCode(256 + dist) = code; dist += 1 }
      code += 1
    }
    val counts = new Array[Int](MaxBits + 1)
    for (n <- StaticLLen.indices) {
      StaticLLen(n) = if (n <= 143) 8 else if (n <= 255) 9 else if (n <= 279) 7 else 8
      counts(StaticLLen(n)) += 1
    }
    val next = new Array[Int](MaxBits + 1)
    firstCodes(counts, next)
    for (n <- StaticLLen.indices) {
      StaticLCode(n) = (StaticLLen(n) << 16) | reverse(next(StaticLLen(n)), StaticLLen(n))
      next(StaticLLen(n)) += 1
    }
  }

  /** Distance code of `dist - 1`. */
  private def distCode(d: Int): Int = if (d < 256) DistCode(d) else DistCode(256 + (d >>> 7))

  private def reverse(code: Int, len: Int): Int = Integer.reverse(code) >>> (32 - len)

  /** The first canonical code of each length, from the count of codes
    * of each length (the first half of zlib's `gen_codes`).
    */
  private def firstCodes(counts: Array[Int], next: Array[Int]): Unit = {
    var code = 0
    var bits = 1
    while (bits <= MaxBits) {
      code = (code + counts(bits - 1)) << 1
      next(bits) = code
      bits += 1
    }
  }

  /** RFC 1950 Adler-32 of `b(0 until len)`. */
  private def adler32(b: Array[Byte], len: Int): Int = {
    var s1 = 1
    var s2 = 0
    var i = 0
    while (i < len) {
      // 5552 is the most bytes before s2 can overflow 32 unsigned bits
      val end = math.min(len, i + 5552)
      while (i < end) { s1 += b(i) & 0xff; s2 += s1; i += 1 }
      s1 %= 65521
      s2 = Integer.remainderUnsigned(s2, 65521)
    }
    (s2 << 16) | s1
  }
}
