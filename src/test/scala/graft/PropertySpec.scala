package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels
import graft.sources.VcfParser

/** Property tests via ScalaCheck generators, sampled deterministically
  * (fixed seed) so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {

  private def forSamples[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 4) {
      g.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too sparse: $produced/$n")
  }

  test("zlib pack/unpack is the identity on any int array") {
    forSamples(Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue))) { xs =>
      val arr = new GenericArrayData(xs.map(x => x: Any).toArray)
      val back = Kernels.zlibUnpackInts(Kernels.zlibPackInts(arr))
      assert(back.toIntArray().toSeq == xs)
    }
  }

  test("zlib string pack/unpack is the identity on any string array") {
    val gts = Gen.listOf(Gen.oneOf(Gen.const(""), Gen.oneOf("0/0", "0/1", "1|1", "./."), Gen.alphaNumStr))
    forSamples(gts) { ws =>
      val arr = new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any).toArray)
      val back = Kernels.zlibUnpackStrings(Kernels.zlibPackStrings(arr))
      assert((0 until back.numElements()).map(back.getUTF8String(_).toString) == ws)
    }
  }

  test("gt stats counts always partition the sample set") {
    val gtGen = Gen.listOf(Gen.oneOf(
      VcfParser.HomRef, VcfParser.Het, VcfParser.Unknown, VcfParser.HomAlt))
    forSamples(gtGen) { gts =>
      val st = VcfParser.gtStats(gts)
      assert(st.numHomRef + st.numHet + st.numHomAlt + st.numUnknown == gts.size)
      assert(st.callRate >= 0.0 && st.callRate <= 1.0)
      assert(st.aaf >= 0.0 && st.aaf <= 1.0)
    }
  }

  test("simhash of a permuted token bag is identical (order-free)") {
    val tokGen = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))
    forSamples(tokGen) { ts =>
      def arr(xs: List[String]) =
        new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)
      assert(Kernels.simHash64(arr(ts)) == Kernels.simHash64(arr(ts.reverse)))
    }
  }

  test("rolling minhash of a superstring never exceeds the substring min") {
    // adding more windows can only lower (or keep) an unsigned minimum
    val pair = for {
      core <- Gen.alphaNumStr.suchThat(_.length >= 16)
      suffix <- Gen.alphaNumStr
    } yield (core, suffix)
    forSamples(pair, n = 100) { case (core, suffix) =>
      val a = Kernels.rollingMinHash(UTF8String.fromString(core), 16)
      val b = Kernels.rollingMinHash(UTF8String.fromString(core + suffix), 16)
      assert(java.lang.Long.compareUnsigned(b, a) <= 0)
    }
  }

  test("sanitize is idempotent modulo reserved-word suffixing, and SQL-safe") {
    forSamples(Gen.asciiPrintableStr.suchThat(_.nonEmpty), n = 200) { s =>
      val once = VcfParser.sanitize(s)
      val twice = VcfParser.sanitize(once)
      assert(twice == once || twice == once + "_")
      assert(once.forall(c => (c.isLetterOrDigit && !c.isUpper) || c == '_'))
    }
  }

  test("t28's integer outlier gate agrees with the real-arithmetic |z| > 1.8") {
    // the all-integer form 25(nx−S1)² > 81(nS2−S1²) must decide exactly
    // like |x − mean| > 1.8σ on any group of lengths (BigDecimal on the
    // reference side so the check itself carries no float error)
    val gGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 200000L))
    forSamples(gGen) { xs =>
      val n = BigInt(xs.size)
      val s1 = BigInt(xs.sum)
      val s2 = xs.map(x => BigInt(x) * BigInt(x)).sum
      xs.foreach { x =>
        val dev = n * BigInt(x) - s1
        val intGate = 25 * dev * dev > 81 * (n * s2 - s1 * s1)
        val mean = BigDecimal(s1) / BigDecimal(n)
        val varPop = (BigDecimal(s2) / BigDecimal(n)) - mean * mean
        // |x−mean| > 1.8σ  ⟺  (x−mean)² > 3.24·var (exact in BigDecimal)
        val refGate = (BigDecimal(x) - mean).pow(2) > BigDecimal("3.24") * varPop
        assert(intGate == refGate, s"x=$x xs=${xs.take(8)}…")
      }
    }
  }

  test("e59's halving-chain depth equals floor(log2) for any member id") {
    forSamples(Gen.chooseNum(1L, Long.MaxValue / 2)) { m =>
      var (cur, hops) = (m, 0)
      while (cur > 1) { cur /= 2; hops += 1 } // the parent function
      assert(hops == 63 - java.lang.Long.numberOfLeadingZeros(m),
        s"m=$m") // floor(log2(m)), the oracle's closed form
      assert((1 << 6) >= hops, "6 doubling rounds cover any long key")
    }
  }

  test("m11's cumsum pack conserves tokens and respects sequence order") {
    val costGen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 3000L))
    forSamples(costGen) { costs =>
      val budget = 2048L
      val prior = costs.scanLeft(0L)(_ + _).init
      val seqs = prior.map(_ / budget)
      assert(seqs == seqs.sorted, "sequence ids are monotone in doc order")
      val bySeq = costs.zip(seqs).groupBy(_._2).view.mapValues(_.map(_._1).sum)
      assert(bySeq.values.sum == costs.sum, "packing conserves total tokens")
      // every sequence except possibly the last STARTED under budget
      seqs.zip(prior).foreach { case (sq, p) =>
        assert(p - sq * budget < budget)
      }
    }
  }

  test("the in-place sample reader equals split-and-parse on every per-sample array") {
    // the split-based parse the reader replaced, kept as the reference:
    // each sample split on ':', AD and PL on ',', every piece `toInt`
    def reference(samples: Vector[String], keys: Vector[String], alts: Int)
        : Map[String, Seq[Seq[Any]]] = {
      val split = samples.map(_.split(':').toVector)
      def at(s: Vector[String], k: String): String = {
        val ix = keys.indexOf(k)
        if (ix < 0 || ix >= s.length) "" else s(ix)
      }
      def int(v: String): Int =
        if (v.isEmpty || v == ".") -1
        else try v.toInt catch { case _: NumberFormatException => -1 }
      def list(v: String): Array[String] =
        if (v.isEmpty || v == ".") Array.empty else v.split(',')
      def comp(parts: Array[String], i: Int): Int =
        if (i >= parts.length) -1 else int(parts(i))
      val ad = split.map(s => list(at(s, "AD")))
      val pl = split.map(s => list(at(s, "PL")))
      Map("gt" -> Seq(split.map(at(_, "GT"))),
        "dp" -> Seq(split.map(s => int(at(s, "DP")))),
        "gq" -> Seq(split.map(s => int(at(s, "GQ")))),
        "ad" -> (0 to alts).map(a => ad.map(comp(_, a))),
        "pl" -> (0 to alts).flatMap { a =>
          val half = a * (a + 1) / 2
          Seq(pl.map(comp(_, half)), pl.map(comp(_, half + a)))
        })
    }
    def read(line: String, alts: Int): Map[String, Seq[Seq[Any]]] = {
      val (r, from) = VcfParser.parseRecordAt(line)
      val f = VcfParser.SampleFields.read(line, from, r.formatKeys, alts)
      val ss = 0 until f.count
      Map("gt" -> Seq(f.gt.toSeq), "dp" -> Seq(f.dp.toSeq), "gq" -> Seq(f.gq.toSeq),
        "ad" -> (0 to alts).map(a => ss.map(f.adAt(_, a))),
        "pl" -> (0 to alts).flatMap { a =>
          val half = a * (a + 1) / 2
          Seq(ss.map(f.plAt(_, half)), ss.map(f.plAt(_, half + a)))
        })
    }

    val key = Gen.frequency(8 -> Gen.oneOf("GT", "DP", "GQ", "AD", "PL"),
      1 -> Gen.const("FT"), 1 -> Gen.const(""))
    // ints, signed, overflowing, non-ASCII digits (Arabic-Indic three,
    // fullwidth one) and malformed pieces
    val piece = Gen.frequency(
      6 -> Gen.chooseNum(0, 999).map(_.toString),
      2 -> Gen.oneOf(".", ""),
      1 -> Gen.oneOf("-7", "+7", "-", "+", "-0", "007"),
      1 -> Gen.oneOf("2147483647", "2147483648", "-2147483648", "-2147483649",
        "99999999999"),
      1 -> Gen.oneOf("\u0663", "\uff11\uff12", "1\u0663"),
      1 -> Gen.oneOf("x", "1.5", " 4", "4 ", "0x1", "1e3"))
    val list = for {
      n <- Gen.chooseNum(0, 12)
      ps <- Gen.listOfN(n, piece)
      trail <- Gen.oneOf("", "", ",")
    } yield ps.mkString(",") + trail
    val gt = Gen.oneOf("0/1", "1|1", "./.", "0/0", "1/2", "2|3", "", ".", "0/", "4")
    val field = Gen.oneOf(gt, piece, list)
    // a sample column: up to one more field than FORMAT declares, so
    // truncated, complete and over-long columns all occur, with an
    // optional trailing ':' or leading empty field
    def sample(nKeys: Int) = for {
      n <- Gen.chooseNum(0, nKeys + 1)
      fs <- Gen.listOfN(n, field)
      lead <- Gen.frequency(9 -> Gen.const(""), 1 -> Gen.const(":"))
      trail <- Gen.frequency(8 -> Gen.const(""), 2 -> Gen.const(":"))
    } yield lead + fs.mkString(":") + trail
    val recGen = for {
      nKeys <- Gen.chooseNum(1, 7)
      keys <- Gen.listOfN(nKeys, key)
      alts <- Gen.chooseNum(1, 4)
      nSamples <- Gen.chooseNum(0, 6)
      samples <- Gen.listOfN(nSamples, sample(nKeys))
    } yield (keys, alts, samples.toVector)

    var seed = Seed(23L)
    var n = 0
    while (n < 3000) {
      recGen.apply(Gen.Parameters.default, seed).foreach { case (keys, alts, samples) =>
        val site = Seq("1", "100", ".", "A", Seq("C", "G", "T", "AC").take(alts).mkString(","),
          ".", "PASS", ".", keys.mkString(":"))
        val line = (site ++ samples).mkString("\t")
        val got = read(line, alts)
        reference(samples, VcfParser.parseRecord(line).formatKeys, alts).foreach {
          case (k, want) => assert(got(k) == want, s"$k of '$line'")
        }
        n += 1
      }
      seed = seed.next
    }
    assert(n == 3000)
  }
}

/** Generator-based round-trip: random well-formed VCF body lines parse
  * back to exactly the components they were formatted from.
  */
class VcfRoundTripSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed
  import graft.sources.VcfParser

  private val base = Gen.oneOf("A", "C", "G", "T")
  private val chromGen = Gen.oneOf((1 to 22).map(_.toString) ++ Seq("X", "Y", "MT"))
  private val gtGen = for {
    a <- Gen.oneOf("0", "1", "2", ".")
    b <- Gen.oneOf("0", "1", "2", ".")
    sep <- Gen.oneOf("/", "|")
  } yield s"$a$sep$b"

  private val lineGen = for {
    chrom <- chromGen
    pos <- Gen.chooseNum(1L, 250000000L)
    ref <- base
    nAlt <- Gen.chooseNum(1, 3)
    alts <- Gen.listOfN(nAlt, base.suchThat(_ != ref)).map(_.distinct)
    if alts.nonEmpty
    dp <- Gen.chooseNum(0, 10000)
    gts <- Gen.listOfN(3, gtGen)
  } yield (chrom, pos, ref, alts, dp, gts)

  test("FORMAT sub-fields round-trip through decomposed reader rows") {
    import graft.sources.VcfReader
    val header = VcfParser.parseHeader(Seq(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">",
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"gq\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"ad\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\ts3"))
    val schema = VcfReader.variantSchema(header)
    def ix(c: String) = schema.fieldIndex(c)

    val optInt = Gen.oneOf(Gen.const(None), Gen.chooseNum(0, 999).map(Some(_)))
    val sampleGen = for {
      gt <- gtGen
      dp <- optInt
      gq <- optInt
      ad <- Gen.oneOf(Gen.const(None),
        Gen.listOfN(3, Gen.chooseNum(0, 500)).map(Some(_)))
    } yield (gt, dp, gq, ad)
    val recGen = for {
      chrom <- chromGen
      pos <- Gen.chooseNum(1L, 250000000L)
      ref <- base
      nAlt <- Gen.chooseNum(1, 2)
      alts <- Gen.listOfN(nAlt, base.suchThat(_ != ref)).map(_.distinct)
      if alts.nonEmpty
      samples <- Gen.listOfN(3, sampleGen)
    } yield (chrom, pos, ref, alts, samples)

    def fmt(o: Option[Int]) = o.fold(".")(_.toString)
    var seed = Seed(11L)
    var n = 0
    while (n < 150) {
      recGen.apply(Gen.Parameters.default, seed).foreach {
        case (chrom, pos, ref, alts, samples) =>
          val cols = samples.map { case (gt, dp, gq, ad) =>
            s"$gt:${fmt(dp)}:${fmt(gq)}:${ad.fold(".")(_.mkString(","))}"
          }
          val line = (Seq(chrom, pos.toString, ".", ref, alts.mkString(","),
            ".", "PASS", "DP=5", "GT:DP:GQ:AD") ++ cols).mkString("\t")
          val rows = VcfReader.decomposedRows(header, line)
          assert(rows.length == alts.length)
          rows.zipWithIndex.foreach { case (row, i) =>
            val altIx = i + 1
            def arr(c: String): Seq[Int] =
              row.getSeq[Int](ix(c))
            assert(row.getSeq[String](ix("gts")) == samples.map(_._1))
            assert(arr("gt_depths") == samples.map(_._2.getOrElse(-1)))
            assert(arr("gt_quals") == samples.map(_._3.getOrElse(-1)))
            assert(arr("gt_ref_depths") ==
              samples.map(_._4.fold(-1)(_.head)))
            assert(arr("gt_alt_depths") ==
              samples.map(_._4.fold(-1)(a =>
                if (altIx < a.length) a(altIx) else -1)))
          }
          n += 1
      }
      seed = seed.next
    }
    assert(n == 150)
  }

  test("format -> parse preserves every component") {
    var seed = Seed(7L)
    var n = 0
    while (n < 300) {
      lineGen.apply(Gen.Parameters.default, seed).foreach {
        case (chrom, pos, ref, alts, dp, gts) =>
          val line = (Seq(chrom, pos.toString, ".", ref, alts.mkString(","),
            ".", "PASS", s"DP=$dp", "GT") ++ gts).mkString("\t")
          val (r, from) = VcfParser.parseRecordAt(line)
          assert(r.chrom == chrom && r.pos == pos && r.ref == ref)
          assert(r.alts == alts.toVector)
          assert(r.info("DP") == dp.toString)
          assert(VcfParser.SampleFields.read(line, from, r.formatKeys, r.alts.length)
            .gt.toSeq == gts)
          // stats are consistent with per-sample classes for every alt
          alts.indices.foreach { i =>
            val classes = gts.map(g => VcfParser.gtType(g, i + 1))
            val st = VcfParser.gtStats(classes)
            assert(st.numHomRef + st.numHet + st.numHomAlt + st.numUnknown == 3)
          }
          n += 1
      }
      seed = seed.next
    }
    assert(n == 300)
  }
}
