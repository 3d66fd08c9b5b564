package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code — the
  * generated Java calls these directly, so the expressions stay inside
  * whole-stage codegen without the UDF serialization tax.
  */
object Kernels {

  /** array<int> → zlib(LE int32 bytes). The reference packs per-sample
    * genotype arrays (gt_types/gt_depths/…) as compressed blobs, one
    * column per array, on `variants`.
    */
  // One native deflater per executor thread, reset between rows —
  // allocating a Deflater per call costs more than the deflate itself
  // on the small per-variant arrays this packs (measured 4.9s → ~2s on
  // the 1.5M-group bench).
  // BEST_SPEED: the blob contract is "any valid zlib stream" (inflate
  // is level-agnostic), so the level only trades pack CPU for blob
  // size. On cohort-sized genotype arrays (4096 int32s, depth-like
  // noise) level 1 measures 6.7x faster than the default level 6
  // (122us vs 821us per blob) for 13% larger output — and packing ten
  // blob columns per variant is the ETL's dominant CPU at scale.
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue() =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
  }

  /** Null array elements are REJECTED loudly: the fixed-width int32
    * blob format has no null encoding, and UnsafeArrayData would
    * otherwise silently read a null slot as 0 — corrupt data with no
    * diagnostic. (The VCF arrays use -1 as their missing sentinel and
    * never carry nulls.)
    */
  private def intAt(arr: ArrayData, i: Int): Int = {
    if (arr.isNullAt(i))
      throw new IllegalArgumentException(
        s"pack: null array element at index $i (int32 blobs have no null encoding; use a sentinel)")
    arr.getInt(i)
  }

  def zlibPackInts(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val raw = java.nio.ByteBuffer.allocate(4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { raw.putInt(intAt(arr, i)); i += 1 }
    val d = deflaters.get()
    d.reset()
    d.setInput(raw.array()); d.finish()
    val out = new java.io.ByteArrayOutputStream(64 + n)
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    out.toByteArray
  }

  private val inflaters = new ThreadLocal[java.util.zip.Inflater] {
    override def initialValue() = new java.util.zip.Inflater()
  }

  /** Inflates a whole zlib stream. Any zero-byte round that isn't the
    * finished state is treated as corrupt — that covers truncated input
    * AND a crafted FDICT header (needsDictionary), either of which would
    * otherwise spin this loop forever inside an executor task.
    */
  private def inflateFully(blob: Array[Byte], sizeHint: Int): Array[Byte] = {
    val inf = inflaters.get()
    inf.reset()
    inf.setInput(blob)
    val out = new java.io.ByteArrayOutputStream(sizeHint)
    val buf = new Array[Byte](4096)
    var done = inf.finished()
    while (!done) {
      val k = inf.inflate(buf)
      if (k > 0) out.write(buf, 0, k)
      done = inf.finished()
      if (!done && k == 0)
        throw new java.util.zip.DataFormatException(
          if (inf.needsDictionary()) "preset dictionary unsupported" else "truncated")
    }
    out.toByteArray
  }

  /** zlib blob → array<int> (round-trip of zlibPackInts). */
  def zlibUnpackInts(blob: Array[Byte]): ArrayData = {
    val bytes = java.nio.ByteBuffer.wrap(inflateFully(blob, 4 * blob.length))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (bytes.remaining() % 4 != 0) // same corrupt-input policy as the string unpack
      throw new java.util.zip.DataFormatException("truncated int32 payload")
    val ints = new Array[Any](bytes.remaining() / 4)
    var i = 0
    while (i < ints.length) { ints(i) = bytes.getInt(); i += 1 }
    new GenericArrayData(ints)
  }

  /** array<string> → zlib(NUL-TERMINATED UTF-8). Packs the reference's
    * `gts` per-sample genotype-string array; GT strings never contain
    * NUL. Each element ends with a NUL TERMINATOR (not a separator), so
    * element count always round-trips: [] → 0 bytes, [""] → 1 NUL —
    * a separator encoding collapses a lone empty string to [].
    */
  def zlibPackStrings(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new java.io.ByteArrayOutputStream(16 * (n + 1))
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u == null)
        throw new IllegalArgumentException(
          s"zlib_pack_str: null array element at index $i (NUL-terminated format has no null encoding)")
      out.write(u.getBytes)
      out.write(0)
      i += 1
    }
    val raw = out.toByteArray
    val d = deflaters.get()
    d.reset()
    d.setInput(raw); d.finish()
    val packed = new java.io.ByteArrayOutputStream(64 + raw.length)
    val buf = new Array[Byte](4096)
    while (!d.finished()) packed.write(buf, 0, d.deflate(buf))
    packed.toByteArray
  }

  /** zlib blob → array<string> (round-trip of zlibPackStrings). */
  def zlibUnpackStrings(blob: Array[Byte]): ArrayData = {
    val raw = inflateFully(blob, 4 * blob.length)
    val parts = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i) == 0) {
        parts += UTF8String.fromBytes(java.util.Arrays.copyOfRange(raw, start, i))
        start = i + 1
      }
      i += 1
    }
    // trailing bytes without a terminator = corrupt (every writer of
    // this format terminates every element; tolerating a tail would
    // both hide truncation and mis-count a final empty element)
    if (start < raw.length)
      throw new java.util.zip.DataFormatException("unterminated string element")
    new GenericArrayData(parts.toArray)
  }

  /** array<int> → snappy(LE int32 bytes) — the codec later reference
    * versions use; ~3× faster than zlib at a modest ratio cost, the
    * right default for hot genotype blobs.
    */
  def snappyPackInts(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val raw = java.nio.ByteBuffer.allocate(4 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { raw.putInt(intAt(arr, i)); i += 1 }
    org.xerial.snappy.Snappy.compress(raw.array())
  }

  /** snappy blob → array<int> (round-trip of snappyPackInts). */
  def snappyUnpackInts(blob: Array[Byte]): ArrayData = {
    val bytes = java.nio.ByteBuffer
      .wrap(org.xerial.snappy.Snappy.uncompress(blob))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (bytes.remaining() % 4 != 0)
      throw new java.util.zip.DataFormatException("truncated int32 payload")
    val ints = new Array[Any](bytes.remaining() / 4)
    var i = 0
    while (i < ints.length) { ints(i) = bytes.getInt(); i += 1 }
    new GenericArrayData(ints)
  }

  /** Sequential-fold dot product over float/double arrays — bit-identical
    * to `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS
    * DOUBLE)), 0.0, (acc,v) -> acc+v)` (same element order, float widened
    * exactly, IEEE adds) and to DuckDB's list_inner_product, but runs as
    * one codegen'd loop instead of Spark's INTERPRETED higher-order
    * functions — the hot inner loop of the similarity/dedup family.
    * Null on length mismatch (zip_with would null-pad to the same end).
    */
  def vecDot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Any = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      // null element → NULL result, exactly like the zip_with product
      // (null) poisoning the aggregate sum — not a silent 0.0
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Equal-lane count of two bigint signatures — the confirm-stage
    * kernel behind est-Jaccard (equal lanes / 64). Exactly
    * `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))`: lanes
    * past the shorter array and lanes where either side is null
    * compare to null under zip_with and are dropped by the filter, so
    * they are not counted here either.
    */
  def sigEqCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  /** All co-called sample pairs of one variant's gt_types array, packed
    * as longs `(i << 40) | (j << 16) | sq` with i < j and sq the
    * squared alt-copy difference (copies: gt 3 → 2, 1 → 1, 0 → 0,
    * gt 2 = unknown → pair skipped). One tight primitive loop replaces
    * the e36 nested transform×transform comprehension, whose
    * per-element interpreted higher-order closures dominated the MDS
    * kernel's cost (same reason shingles/minhash_sig exist — measured
    * 8.4 s → see ScaleSpec's 96×2k case). 24/24/16-bit packing bounds
    * the cohort at 2^23 samples — far past where the cohort²/2
    * statistic needs subsampling anyway.
    */
  def mdsPairs(gt: ArrayData): ArrayData = {
    val n = gt.numElements()
    val copies = new Array[Int](n)
    var called = 0
    var i = 0
    while (i < n) {
      val g = if (gt.isNullAt(i)) 2 else gt.getInt(i)
      copies(i) = g match {
        case 3 => 2
        case 1 => 1
        case 2 => -1 // unknown sentinel
        case _ => 0
      }
      if (copies(i) >= 0) called += 1
      i += 1
    }
    val out = new Array[Long](called * (called - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      val ci = copies(i)
      if (ci >= 0) {
        var j = i + 1
        while (j < n) {
          val cj = copies(j)
          if (cj >= 0) {
            val d = ci - cj
            out(k) = (i.toLong << 40) | (j.toLong << 16) | (d * d).toLong
            k += 1
          }
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 64-lane MinHash signature over a shingle array — bit-identical to
    * `transform(sequence(0, 63), j -> array_min(transform(shingles,
    * sh -> xxhash64(j, sh))))` (XXH64, seed 42, int lane chained into
    * the string hash exactly as Spark's multi-arg xxhash64 does) but one
    * codegen'd double loop instead of 64 × |shingles| interpreted
    * lambda invocations — the MinHash hot loop at corpus scale.
    */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = shingles.numElements()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      var best = Long.MaxValue
      var any = false
      var i = 0
      val lane = XXH64.hashInt(j, 42L) // per-lane seed, invariant over elements
      while (i < n) {
        // null element: multi-arg xxhash64 SKIPS null children, so the
        // lane hash alone is the element's hash — mirror that, don't NPE
        val s = if (shingles.isNullAt(i)) null else shingles.getUTF8String(i)
        val h =
          if (s == null) lane
          else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, lane)
        if (!any || h < best) { best = h; any = true }
        i += 1
      }
      out(j) = if (any) best else null
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles (space-joined), first-occurrence
    * order — the fused form of `array_distinct(transform(sequence(0,
    * size(toks)-n), i -> concat_ws(' ', toks[i], …, toks[i+n-1])))`,
    * minus that formulation's surprise for size < n (Spark's
    * `sequence(0, -1)` counts DOWN; here short docs just yield []).
    */
  private val Space = UTF8String.fromString(" ")

  def wordShingles(toks: ArrayData, n: Int): ArrayData = {
    val cnt = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= cnt) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  private def fnv64(s: UTF8String): Long = {
    // FNV-1a over UTF-8 bytes: tiny, allocation-free, stable across JVMs.
    var h = 0xcbf29ce484222325L
    val b = s.getBytes
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit SimHash over a token array: per-token 64-bit hash votes ±1 on
    * every bit; the sign vector is the fingerprint. Near-duplicate texts
    * land within a small Hamming ball.
    */
  def simHash64(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t == null) { i += 1 } else { // null tokens cast no vote (minhash_sig-style tolerance)
      val h = fnv64(t)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
      i += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Winnowing fingerprint: min of rolling polynomial hashes of all
    * k-length character windows (k=16, base 257, implicit mod 2^64,
    * bias-broken by a final avalanche). One pass, O(len) via the
    * precomputed base^k term — the content-defined fingerprint the
    * rolling-hash dedup family uses.
    */
  def rollingMinHash(s: UTF8String, k: Int): Long = {
    val b = s.getBytes
    if (b.length == 0) return 0L
    val kk = math.min(k, b.length)
    val base = 257L
    var pow = 1L
    var i = 0
    while (i < kk - 1) { pow *= base; i += 1 }
    var h = 0L
    i = 0
    while (i < kk) { h = h * base + (b(i) & 0xffL); i += 1 }
    var best = avalanche(h)
    while (i < b.length) {
      h = (h - (b(i - kk) & 0xffL) * pow) * base + (b(i) & 0xffL)
      val a = avalanche(h)
      if (java.lang.Long.compareUnsigned(a, best) < 0) best = a
      i += 1
    }
    best
  }

  private def avalanche(x0: Long): Long = {
    // splitmix64 finalizer — decorrelates the weak polynomial bits.
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** A one-argument kernel: `child` must be of type `input` (array
  * element nullability aside), and eval and generated code both call
  * the static `Kernels.<kernel>(child<args>)` — so the expression stays
  * inside whole-stage codegen without the UDF serialization tax.
  * Serializable itself, so Java deserialization of a plan never needs a
  * no-arg constructor for it.
  */
abstract class UnaryKernel(input: DataType, output: DataType, kernel: String,
    args: String = "") extends UnaryExpression with Serializable {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def shape(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(e)
    case o => o
  }
  override def dataType: DataType = output
  override def checkInputDataTypes(): TypeCheckResult =
    if (shape(child.dataType) == shape(input)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${input.simpleString}, got ${child.dataType}")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.$kernel($c$args)")
}

/** `zlib_pack(array<int>) → binary` */
case class ZlibPack(child: Expression)
    extends UnaryKernel(ArrayType(IntegerType), BinaryType, "zlibPackInts") {
  override protected def nullSafeEval(v: Any): Any = Kernels.zlibPackInts(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): ZlibPack = copy(child = c)
}

/** `zlib_unpack(binary) → array<int>` */
case class ZlibUnpack(child: Expression)
    extends UnaryKernel(BinaryType, ArrayType(IntegerType), "zlibUnpackInts") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.zlibUnpackInts(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): ZlibUnpack = copy(child = c)
}

/** `zlib_pack_str(array<string>) → binary` */
case class ZlibPackStr(child: Expression)
    extends UnaryKernel(ArrayType(StringType), BinaryType, "zlibPackStrings") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.zlibPackStrings(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): ZlibPackStr = copy(child = c)
}

/** `zlib_unpack_str(binary) → array<string>` */
case class ZlibUnpackStr(child: Expression)
    extends UnaryKernel(BinaryType, ArrayType(StringType), "zlibUnpackStrings") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.zlibUnpackStrings(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): ZlibUnpackStr = copy(child = c)
}

/** `snappy_pack(array<int>) → binary` */
case class SnappyPack(child: Expression)
    extends UnaryKernel(ArrayType(IntegerType), BinaryType, "snappyPackInts") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.snappyPackInts(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SnappyPack = copy(child = c)
}

/** `snappy_unpack(binary) → array<int>` */
case class SnappyUnpack(child: Expression)
    extends UnaryKernel(BinaryType, ArrayType(IntegerType), "snappyUnpackInts") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.snappyUnpackInts(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): SnappyUnpack = copy(child = c)
}

/** `vec_dot(array<float|double>, array<float|double>) → double` —
  * codegen sequential-fold dot product (see Kernels.vecDot).
  */
case class VecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects two array<float|double> arguments, got $l and $r")
    }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = (isFloat(left), isFloat(right))
    val r = ctx.freshName("vecDotRes") // two vec_dots can share a codegen scope
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      Object $r = graft.functions.Kernels.vecDot($a, $b, $af, $bf);
      if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Double) $r).doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<string>) → array<bigint>` — 64 MinHash lanes
  * (see Kernels.minhashSig).
  */
case class MinHashSig(child: Expression)
    extends UnaryKernel(ArrayType(StringType), ArrayType(LongType), "minhashSig", ", 64") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.minhashSig(v.asInstanceOf[ArrayData], 64)
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** `sig_eq_count(array<bigint>, array<bigint>) → int` — equal-lane
  * count of two MinHash signatures (see Kernels.sigEqCount): the
  * d02/d14/d16/d20/d21 confirm stages' hot compare, fused into one
  * codegen call instead of the interpreted
  * zip_with→filter→size chain (three materialized lambda arrays per
  * candidate pair). Bit-identical to the HOF formulation by
  * construction; FunctionsSpec pins it on real signatures.
  */
case class SigEqCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sig_eq_count expects two array<bigint> arguments, got $l and $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sigEqCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Kernels.sigEqCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigEqCount =
    copy(left = newLeft, right = newRight)
}

/** `mds_pairs(array<int>) → array<bigint>` — packed co-called sample
  * pairs with squared copy differences (see Kernels.mdsPairs).
  */
case class MdsPairs(child: Expression) extends UnaryKernel(ArrayType(IntegerType),
    ArrayType(LongType, containsNull = false), "mdsPairs") {
  override protected def nullSafeEval(v: Any): Any = Kernels.mdsPairs(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): MdsPairs = copy(child = c)
}

/** `shingles(array<string>, n) → array<string>` — distinct word
  * n-grams (see Kernels.wordShingles). `n` is a literal.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryKernel(ArrayType(StringType),
    ArrayType(StringType, containsNull = false), "wordShingles", s", $n") {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (n >= 1) super.checkInputDataTypes()
    else TypeCheckResult.TypeCheckFailure(s"shingles n must be >= 1, got $n")
  override protected def nullSafeEval(v: Any): Any =
    Kernels.wordShingles(v.asInstanceOf[ArrayData], n)
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** `simhash64(array<string>) → bigint` */
case class SimHash64(child: Expression)
    extends UnaryKernel(ArrayType(StringType), LongType, "simHash64") {
  override protected def nullSafeEval(v: Any): Any = Kernels.simHash64(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** `rolling_minhash(string) → bigint` (16-char windows) */
case class RollingMinHash(child: Expression)
    extends UnaryKernel(StringType, LongType, "rollingMinHash", ", 16") {
  override protected def nullSafeEval(v: Any): Any =
    Kernels.rollingMinHash(v.asInstanceOf[UTF8String], 16)
  override protected def withNewChildInternal(c: Expression): RollingMinHash = copy(child = c)
}

/** Per-thread deserialized-Bloom-filter cache behind
  * [[BloomContainsTag]]. Keyed by (query-unique tag, shard id): the
  * tag is a literal minted per plan CONSTRUCTION, so a (tag, shard)
  * pair can only ever name one filter — a fresh plan gets a fresh tag
  * and can never read a stale entry. Thread-local (codegen'd tasks are
  * single-threaded), capped to keep long-lived executors bounded.
  */
object BloomProbe {
  private val cache = new ThreadLocal[
      java.util.HashMap[(String, Long), org.apache.spark.util.sketch.BloomFilter]] {
    override def initialValue() =
      new java.util.HashMap[(String, Long), org.apache.spark.util.sketch.BloomFilter]()
  }

  def get(tag: String, shard: Long): org.apache.spark.util.sketch.BloomFilter =
    cache.get().get((tag, shard))

  def put(tag: String, shard: Long,
      bytes: Array[Byte]): org.apache.spark.util.sketch.BloomFilter = {
    val m = cache.get()
    if (m.size() > 256) m.clear() // stale tags from completed queries
    val f = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    m.put((tag, shard), f)
    f
  }
}

/** `bloom_contains_tag(bf, v, shard, 'tag')` — Spark's own
  * BloomFilterMightContain requires its filter side to be a FOLDABLE
  * literal, which is exactly the d18 scale ceiling: one driver-held
  * binary in the plan. This variant probes a filter carried as an
  * ordinary COLUMN (the sharded bloom frame broadcast-joined on its
  * shard id), so the total filter size is bounded per SHARD, not per
  * driver/plan.
  *
  * The serialized filter is deserialized once per (tag, shard) per
  * thread via [[BloomProbe]], and — the part that matters at scale —
  * the `bf` child is evaluated LAZILY: on a cache hit the generated
  * code never touches the binary column at all, so the steady-state
  * per-row cost is one hash-map probe + one mightContainLong, not a
  * 10²-KB UnsafeRow binary copy per row. `tag` must be a string
  * literal unique to one plan construction (mint a UUID).
  */
case class BloomContainsTag(bf: Expression, value: Expression,
    shard: Expression, tagStr: String)
    extends Expression {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.codegen.Block._

  override def children: Seq[Expression] = Seq(bf, value, shard)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean =
    bf.deterministic && value.deterministic && shard.deterministic

  override def checkInputDataTypes(): TypeCheckResult =
    (bf.dataType, value.dataType, shard.dataType) match {
      case (BinaryType, LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (b, v, sh) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains_tag expects (binary, bigint, bigint), got ($b, $v, $sh)")
    }

  override def eval(input: InternalRow): Any = {
    val v = value.eval(input)
    val sh = shard.eval(input)
    if (v == null || sh == null) return null
    var f = BloomProbe.get(tagStr, sh.asInstanceOf[Long])
    if (f == null) {
      val bytes = bf.eval(input)
      if (bytes == null) return null
      f = BloomProbe.put(tagStr, sh.asInstanceOf[Long],
        bytes.asInstanceOf[Array[Byte]])
    }
    java.lang.Boolean.valueOf(f.mightContainLong(v.asInstanceOf[Long]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vEv = value.genCode(ctx)
    val shEv = shard.genCode(ctx)
    val bfEv = bf.genCode(ctx) // emitted INSIDE the cache-miss branch only
    val tagRef = ctx.addReferenceObj("bloomTag", tagStr, "java.lang.String")
    val filterCls = "org.apache.spark.util.sketch.BloomFilter"
    ev.copy(code = code"""
      ${vEv.code}
      ${shEv.code}
      boolean ${ev.isNull} = true;
      boolean ${ev.value} = false;
      if (!${vEv.isNull} && !${shEv.isNull}) {
        $filterCls ${ev.value}_f =
          graft.functions.BloomProbe.get($tagRef, ${shEv.value});
        if (${ev.value}_f == null) {
          ${bfEv.code}
          if (!${bfEv.isNull}) {
            ${ev.value}_f = graft.functions.BloomProbe.put(
              $tagRef, ${shEv.value}, ${bfEv.value});
          }
        }
        if (${ev.value}_f != null) {
          ${ev.isNull} = false;
          ${ev.value} = ${ev.value}_f.mightContainLong(${vEv.value});
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomContainsTag =
    copy(bf = newChildren(0), value = newChildren(1), shard = newChildren(2))
}

/** graft's native kernels as ONE table of (SQL name, expression class,
  * usage, builder), reached two ways: by SQL name through the
  * [[GraftExtensions]] session hook (`spark.sql`, `expr`, user code),
  * and by the typed Column helpers below, which call the same builders
  * directly — so operators run on any session, with or without the
  * extension, and a builder's argument checks live in one place.
  */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.GraftFrames
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction,
    BloomFilterAggregate}

  final case class Kernel(name: String, clazz: Class[_], usage: String,
      builder: Seq[Expression] => Expression)

  /** `n` must be a non-null foldable integer; anything else gets a clear
    * resolution error, not an internal NPE / "Cannot evaluate" trace.
    */
  private val shinglesBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 2, "shingles(array<string>, n) takes exactly 2 arguments")
    val n = es(1) match {
      // integral literals only — Number.intValue would silently
      // TRUNCATE a long or decimal (shingles(t, 2.9) must not mean 2)
      case e if e.foldable => Option(e.eval()).collect {
        case x: java.lang.Integer => x.intValue()
        case x: java.lang.Short => x.intValue()
        case x: java.lang.Byte => x.intValue()
        case x: java.lang.Long if x.longValue().isValidInt => x.intValue()
      }
      case _ => None
    }
    WordShingles(es(0), n.getOrElse(throw new IllegalArgumentException(
      "shingles: n must be a non-null integer literal")))
  }

  /** The tag must be a non-null foldable string (a
    * plan-construction-unique UUID), pulled out at build time so the
    * cache key needs no per-row evaluation.
    */
  private val bloomContainsTagBuilder: Seq[Expression] => Expression = { es =>
    require(es.length == 4,
      "bloom_contains_tag(bf, value, shard, tag) takes exactly 4 arguments")
    val tag = es(3) match {
      case e if e.foldable => Option(e.eval()).map(_.toString)
      case _ => None
    }
    BloomContainsTag(es(0), es(1), es(2), tag.getOrElse(
      throw new IllegalArgumentException(
        "bloom_contains_tag: tag must be a non-null string literal")))
  }

  /** Spark ships a production Bloom filter pair (BloomFilterAggregate /
    * BloomFilterMightContain, the engine of its runtime row-level join
    * filters) but leaves it OUT of the public FunctionRegistry. graft
    * exposes it as `bloom_agg(xxhash64-long[, items[, bits]])` /
    * `bloom_contains(binary, xxhash64-long)` for the d18 delta-dedup
    * pre-screen: the aggregate builds distributed (partial buffers OR
    * together), the probe is a per-row codegen bit test. Reusing the
    * engine's own filter beats hand-rolling one: same serialized form
    * AQE uses, tested split/merge, no extra dependency.
    */
  private val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c) => new BloomFilterAggregate(c)
    case Seq(c, n) => new BloomFilterAggregate(c, n)
    case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    case _ => throw new IllegalArgumentException(
      "bloom_agg(child[, estimatedItems[, numBits]])")
  }

  val table: Seq[Kernel] = Seq(
    Kernel("zlib_pack", classOf[ZlibPack],
      "zlib_pack(array<int>) - zlib-compressed LE int32 bytes",
      es => ZlibPack(es.head)),
    Kernel("zlib_unpack", classOf[ZlibUnpack],
      "zlib_unpack(binary) - inverse of zlib_pack",
      es => ZlibUnpack(es.head)),
    Kernel("zlib_pack_str", classOf[ZlibPackStr],
      "zlib_pack_str(array<string>) - zlib-compressed NUL-terminated strings",
      es => ZlibPackStr(es.head)),
    Kernel("zlib_unpack_str", classOf[ZlibUnpackStr],
      "zlib_unpack_str(binary) - inverse of zlib_pack_str",
      es => ZlibUnpackStr(es.head)),
    Kernel("snappy_pack", classOf[SnappyPack],
      "snappy_pack(array<int>) - snappy-compressed LE int32 bytes",
      es => SnappyPack(es.head)),
    Kernel("snappy_unpack", classOf[SnappyUnpack],
      "snappy_unpack(binary) - inverse of snappy_pack",
      es => SnappyUnpack(es.head)),
    Kernel("shingles", classOf[WordShingles],
      "shingles(array<string>, n) - distinct space-joined word n-grams",
      shinglesBuilder),
    Kernel("minhash_sig", classOf[MinHashSig],
      "minhash_sig(array<string>) - 64-lane MinHash signature (xxhash64 seed 42)",
      es => MinHashSig(es.head)),
    Kernel("vec_dot", classOf[VecDot],
      "vec_dot(array<float|double>, array<float|double>) - sequential-fold dot product",
      es => VecDot(es(0), es(1))),
    Kernel("simhash64", classOf[SimHash64],
      "simhash64(array<string>) - 64-bit SimHash of a token bag",
      es => SimHash64(es.head)),
    Kernel("rolling_minhash", classOf[RollingMinHash],
      "rolling_minhash(string) - winnowing min rolling-window hash",
      es => RollingMinHash(es.head)),
    Kernel("mds_pairs", classOf[MdsPairs],
      "mds_pairs(array<int>) - packed co-called pairs with squared copy diffs",
      es => MdsPairs(es.head)),
    Kernel("sig_eq_count", classOf[SigEqCount],
      "sig_eq_count(array<bigint>, array<bigint>) - equal MinHash lanes",
      es => SigEqCount(es(0), es(1))),
    Kernel("bloom_agg", classOf[BloomFilterAggregate],
      "bloom_agg(xxhash64-long[, items[, bits]]) - Spark bloom filter build",
      bloomAggBuilder),
    Kernel("bloom_contains", classOf[BloomFilterMightContain],
      "bloom_contains(binary, xxhash64-long) - bloom membership probe",
      es => BloomFilterMightContain(es(0), es(1))),
    Kernel("bloom_contains_tag", classOf[BloomContainsTag],
      "bloom_contains_tag(bf-col, xxhash64-long, shard, 'tag') - " +
        "sharded bloom probe (filter as a column, cached per (tag, shard))",
      bloomContainsTagBuilder),
    Kernel("bpe_count", classOf[BpeCount],
      "bpe_count(string, merges_path) - exact byte-level BPE token count",
      es => BpeCount(es(0), es(1))))

  private val builders: Map[String, Seq[Expression] => Expression] =
    table.map(k => k.name -> k.builder).toMap

  /** The kernel `name` over `args`, then an optional trailing literal.
    * Columns stay unresolved until their Dataset resolves them; the
    * literal (shingles' n, the bloom tag) goes in as a Catalyst
    * Literal, because its builder reads it at build time.
    */
  private def build(name: String, args: Seq[Column], literal: Option[Any] = None): Expression =
    builders(name)(args.map(GraftFrames.expression) ++ literal.map(Literal(_)))

  private def call(name: String, args: Column*): Column =
    GraftFrames.column(build(name, args))

  def zlibPack(ints: Column): Column = call("zlib_pack", ints)
  def zlibUnpack(blob: Column): Column = call("zlib_unpack", blob)
  def zlibPackStr(strs: Column): Column = call("zlib_pack_str", strs)
  def zlibUnpackStr(blob: Column): Column = call("zlib_unpack_str", blob)
  def snappyPack(ints: Column): Column = call("snappy_pack", ints)
  def snappyUnpack(blob: Column): Column = call("snappy_unpack", blob)
  def shingles(toks: Column, n: Int): Column =
    GraftFrames.column(build("shingles", Seq(toks), Some(n)))
  def minhashSig(shingles: Column): Column = call("minhash_sig", shingles)
  def vecDot(a: Column, b: Column): Column = call("vec_dot", a, b)
  def simhash64(toks: Column): Column = call("simhash64", toks)
  def rollingMinhash(text: Column): Column = call("rolling_minhash", text)
  def mdsPairs(gtTypes: Column): Column = call("mds_pairs", gtTypes)
  def sigEqCount(a: Column, b: Column): Column = call("sig_eq_count", a, b)
  def bloomContains(bf: Column, value: Column): Column =
    call("bloom_contains", bf, value)
  def bloomContainsTag(bf: Column, value: Column, shard: Column, tag: String): Column =
    GraftFrames.column(build("bloom_contains_tag", Seq(bf, value, shard), Some(tag)))

  /** The aggregate, wrapped as the analyzer wraps a registry-resolved
    * AggregateFunction (not distinct, no filter).
    */
  def bloomAgg(value: Column, items: Column, bits: Column): Column =
    GraftFrames.column(build("bloom_agg", Seq(value, items, bits))
      .asInstanceOf[AggregateFunction].toAggregateExpression())
}
