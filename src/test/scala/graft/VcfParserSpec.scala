package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VcfParser
import graft.sources.VcfParser._

class VcfParserSpec extends AnyFunSuite {

  val header = Seq(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total Depth\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele Frequency, per alt\">",
    "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP\">",
    "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"VEP. Format: Allele|Consequence|SYMBOL\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2")

  test("kv list parsing honors quoted commas and equals") {
    val kv = parseKvList("ID=AF,Number=A,Type=Float,Description=\"x=1, y=2\"")
    assert(kv("ID") == "AF")
    assert(kv("Description") == "x=1, y=2")
  }

  test("header: specs, samples, CSQ fields") {
    val h = parseHeader(header)
    assert(h.infos.keySet == Set("DP", "AF", "DB", "CSQ"))
    assert(h.infos("AF").number == "A")
    assert(h.infos("DB").vcfType == "Flag")
    assert(h.samples == Vector("s1", "s2"))
    assert(h.annKey.contains("CSQ"))
    assert(h.annFields == Vector("Allele", "Consequence", "SYMBOL"))
  }

  test("record parse: multi-allelic, flags, missing values") {
    val line = "1\t100\t.\tA\tG,T\t50.5\t.\tDP=7;DB\tGT\t0/1\t./."
    val (r, from) = parseRecordAt(line)
    assert(r.alts == Vector("G", "T"))
    assert(r.id.isEmpty && r.filter.isEmpty)
    assert(r.qual.contains(50.5))
    assert(r.info == scala.collection.immutable.ListMap("DP" -> "7", "DB" -> ""))
    assert(r.formatKeys == Vector("GT"))
    assert(SampleFields.read(line, from, r.formatKeys, 2).gt.toSeq == Seq("0/1", "./."))
  }

  test("genotype classes per alt (GEMINI encoding)") {
    assert(gtType("0/0") == HomRef)
    assert(gtType("0/1") == Het)
    assert(gtType("1/1") == HomAlt)
    assert(gtType("./.") == Unknown)
    assert(gtType("1|0") == Het)
    // multi-allelic, w.r.t. alt 2
    assert(gtType("1/2", altIx = 2) == Het)
    assert(gtType("2/2", altIx = 2) == HomAlt)
    assert(gtType("0/1", altIx = 2) == HomRef)
    assert(gtType("./1") == Unknown)
  }

  test("gtAlleles char scan gives split(\"[/|]\")'s results, exceptions included") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the regex form the char scan replaced, kept as the reference
    def reference(gt: String): Vector[Option[Int]] =
      gt.split("[/|]").toVector.map(a => if (a == "." || a.isEmpty) None else Some(a.toInt))
    def outcome(f: String => Vector[Option[Int]], gt: String)
        : Either[String, Vector[Option[Int]]] =
      try Right(f(gt)) catch { case e: NumberFormatException => Left(e.getClass.getName) }
    def same(gt: String): Unit =
      assert(outcome(gtAlleles, gt) == outcome(reference, gt), s"GT '$gt'")
    Seq("0/", "", ".", "./1", "10|2", "1", "0/1", "1|1", "./.", "/", "//1",
      "1//", "|0", "x/1", "+1|0", "-1/2", "01/1").foreach(same)
    val gtGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('0', '1', '2', '9', '.', '/', '|', 'x', '+', '-'))
        .map(_.mkString))
    var seed = Seed(7L)
    (1 to 3000).foreach { _ =>
      gtGen.apply(Gen.Parameters.default, seed).foreach(same)
      seed = seed.next
    }
  }

  test("record parse fails on a line truncated before QUAL") {
    intercept[ArrayIndexOutOfBoundsException](parseRecord("3\t9\t.\tG\tC"))
  }

  test("gt stats: call_rate and aaf") {
    val st = gtStats(Seq(HomRef, Het, HomAlt, Unknown))
    assert(st.callRate == 0.75)
    assert(st.aaf == 0.5) // (1 het + 2 homalt alleles) / (2*3 called)
    assert(st.numHomRef == 1 && st.numHet == 1 && st.numHomAlt == 1 && st.numUnknown == 1)
    assert(gtStats(Seq.empty).callRate == 0.0)
  }

  test("column sanitization") {
    assert(sanitize("AF") == "af")
    assert(sanitize("1000g") == "_1000g")
    assert(sanitize("FILTER") == "filter_")
    assert(sanitize("a.b-c") == "a_b_c")
  }

  test("severity ranking buckets") {
    assert(severityBucket("stop_gained") == "HIGH")
    assert(severityBucket("missense_variant") == "MED")
    assert(severityBucket("intron_variant") == "LOW")
    assert(severityBucket("totally_unknown_term") == "LOW")
    assert(severityRank("frameshift_variant") < severityRank("missense_variant"))
  }
}

class VcfParserEdgeSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.sources.VcfParser._

  test("haploid genotypes (chrX/chrY male calls)") {
    assert(gtType("1") == HomAlt)
    assert(gtType("0") == HomRef)
    assert(gtType(".") == Unknown)
  }

  test("spanning-deletion alt (*) survives decompose as its own allele") {
    val r = parseRecord("1\t100\t.\tAT\tA,*\t.\t.\t.\tGT\t1/2")
    assert(r.alts == Vector("A", "*"))
    assert(gtType("1/2", altIx = 2) == Het)
  }

  test("Number=R and Number=G INFO stay raw strings") {
    val h = parseHeader(Seq(
      "##INFO=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"))
    assert(h.infos("AD").number == "R")
  }

  test("record with no FORMAT/samples yields empty genotype stats") {
    val line = "1\t5\t.\tA\tC\t.\t.\tDP=3"
    val (r, from) = parseRecordAt(line)
    assert(r.formatKeys.isEmpty)
    assert(SampleFields.read(line, from, r.formatKeys, 1).count == 0)
    val st = gtStats(Seq.empty)
    assert(st.callRate == 0.0 && st.aaf == 0.0)
  }

  test("empty INFO dot") {
    val r = parseRecord("1\t5\t.\tA\tC\t.\t.\t.")
    assert(r.info.isEmpty)
  }

  test("trailing empty sample columns keep the genotype vector cohort-width") {
    val line = "1\t5\t.\tA\tC\t.\t.\t.\tGT:DP\t0/1:4\t\t"
    val (r, from) = parseRecordAt(line)
    val f = SampleFields.read(line, from, r.formatKeys, 1)
    assert(f.count == 3, "empty trailing samples must survive")
    assert(f.gt.toSeq == Seq("0/1", "", ""))
    assert(f.dp.toSeq == Seq(4, -1, -1))
  }

  test("escaped quotes inside Description parse whole") {
    val m = parseKvList(
      """ID=CSQ,Number=.,Type=String,Description="Ann. \"Format:\" A|B"""")
    assert(m("Description") == """Ann. "Format:" A|B""")
    assert(m("Number") == ".")
  }

  test("vepAllele minimises indel alts the way VEP's CSQ Allele does") {
    assert(vepAllele("T", "A") == "A") // SNV unchanged
    assert(vepAllele("T", "TA") == "A") // insertion drops shared base
    assert(vepAllele("TA", "T") == "-") // deletion becomes '-'
    assert(vepAllele("TAC", "TG") == "G")
    assert(vepAllele("C", "GA") == "GA") // no shared base: unchanged
  }
}
