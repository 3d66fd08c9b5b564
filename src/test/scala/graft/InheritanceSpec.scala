package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.{Etl, Inheritance}
import graft.operators.Inheritance.TrioFixture
import graft.sources.VcfReader

/** e18/e19 GEMINI family-query semantics over the engineered trio
  * fixture (every inheritance class + a comp-het pair + negatives).
  */
class InheritanceSpec extends SparkSpec {

  private lazy val parsed = VcfReader.fromLines(spark, TrioFixture.lines)

  test("e18 classifies de novo, recessive, and both mendel-error shapes") {
    val rows = Inheritance.e18(spark, "").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(5))).toSet
    assert(rows == Set(
      ("1", 1000L, "de_novo"),
      ("2", 500L, "auto_rec"),
      ("2", 600L, "mendel_error"), // child HOM-ALT, dad HOM-REF
      ("2", 700L, "mendel_error"))) // child HOM-REF, dad HOM-ALT
  }

  test("e18 excludes plain inherited HETs and uncalled children") {
    val pos = Inheritance.e18(spark, "").collect().map(_.getLong(1)).toSet
    assert(!pos.contains(100L) && !pos.contains(200L)) // GENE_C rows
  }

  test("e18 carries trio depths for downstream DP filtering") {
    val r = Inheritance.e18(spark, "").collect()
      .find(_.getLong(1) == 1000L).get
    assert((r.getInt(6), r.getInt(7), r.getInt(8)) == ((30, 40, 35)))
  }

  test("e19 finds exactly the one dad×mom comp-het pair in GENE_A") {
    val rows = Inheritance.e19(spark, "").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(2) == "GENE_A")
    assert((r.getLong(4), r.getLong(7)) == ((2000L, 3000L)))
  }

  test("e19 never pairs the de novo site (neither parent carries it)") {
    val rows = Inheritance.e19(spark, "").collect()
    assert(!rows.exists(r => r.getLong(4) == 1000L || r.getLong(7) == 1000L))
  }

  test("comp-het requires opposite parental origin, not just two HETs") {
    // GENE_C's 3:100 is HET in all three → fails the dad-only/mom-only
    // origin filter, so GENE_C yields no pair even with two HET sites
    val (h, v, i) = parsed
    val rows = Inheritance.compHets(spark, v, i, h.samples, TrioFixture.pedLines)
      .collect()
    assert(!rows.exists(_.getString(2) == "GENE_C"))
  }

  test("phase-aware comp_hets rejects cis pairs, keeps trans and unphased") {
    import graft.sources.VcfReader
    // gene GENE_P, child phased at 100/200/300, unphased at 400:
    //   100  c 0|1 (alt RIGHT)  from dad
    //   200  c 0|1 (alt RIGHT)  from mom   → cis with 100: must prune
    //   300  c 1|0 (alt LEFT)   from mom   → trans with 100: keep
    //   400  c 0/1 (no phase)   from mom   → fallback: keep with 100
    // the unphased rule alone would report all three dad×mom pairs
    def row(pos: Int, ref: String, alt: String, c: String, f: String, m: String) =
      Seq("10", pos.toString, ".", ref, alt, "99", "PASS",
        s"CSQ=$alt|missense_variant|GENE_P", "GT", c, f, m).mkString("\t")
    val lines = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "c", "f", "m").mkString("\t"),
      row(100, "A", "G", "0|1", "0/1", "0/0"),
      row(200, "C", "T", "0|1", "0/0", "0/1"),
      row(300, "G", "A", "1|0", "0/0", "0/1"),
      row(400, "T", "C", "0/1", "0/0", "0/1"))
    val ped = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM c f m 1 2", "FAM f 0 0 1 1", "FAM m 0 0 2 1")
    val (h, v, i) = VcfReader.fromLines(spark, lines)
    val pairs = Inheritance.compHets(spark, v, i, h.samples, ped)
      .select("pos_a", "pos_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 300L), (100L, 400L)),
      s"phased cis pair (100,200) must be pruned; got $pairs")
  }

  test("e25 auto_dom requires an affected carrier parent and full penetrance") {
    val rows = Inheritance.e25(spark, "").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    // FAM 1:100: affected dad transmits the HET — hit. FAM2 1:600:
    // affected dad transmits AND the unknown-phenotype mom carries —
    // still a hit (unknown never vetoes). Excluded: 1:200 (no affected
    // carrier), 1:300 (KNOWN-unaffected mom carries), 1:400 (not
    // transmitted), 1:500 (uncalled child)
    assert(rows.toSeq == Seq(("1", 100L, "c"), ("1", 600L, "c2")))
  }

  test("GraftDb.xlinkedDom over a loaded database matches the operator") {
    import java.nio.file.Files
    import graft.operators.Inheritance.XdFixture
    val tmp = Files.createTempDirectory("graft_xd")
    val vcf = tmp.resolve("xd.vcf")
    val ped = tmp.resolve("xd.ped")
    Files.writeString(vcf, XdFixture.lines.mkString("\n") + "\n")
    Files.writeString(ped, XdFixture.pedLines.mkString("\n") + "\n")
    val out = tmp.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out, writerPartitions = 2)
    val dbRows = GraftDb.xlinkedDom(spark, out).collect().map(_.toSeq).toSet
    val opRows = Inheritance.e26(spark, "").collect().map(_.toSeq).toSet
    assert(opRows.nonEmpty && dbRows == opRows)
  }

  test("e26 xl_dominant: transmitter sex rule and unaffected-carrier veto") {
    val rows = Inheritance.e26(spark, "").collect()
      .map(r => (r.getLong(1), r.getString(4))).toSet
    // X:100 — male child, affected mom transmits. X:400 — female child,
    // affected hemizygous dad transmits. Excluded: X:200 (no affected
    // carrier), X:300 (unaffected dad carries → veto), X:500
    // (unaffected mom carries → veto), X:600 (child doesn't carry)
    assert(rows == Set((100L, "c1"), (400L, "c2")))
  }

  test("GraftDb family queries over a loaded Vcf2Db database match the operators") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_inherit")
    val vcf = tmp.resolve("trio.vcf")
    val ped = tmp.resolve("trio.ped")
    Files.writeString(vcf, TrioFixture.lines.mkString("\n") + "\n")
    Files.writeString(ped, TrioFixture.pedLines.mkString("\n") + "\n")
    val out = tmp.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out, writerPartitions = 2)

    // trios recovered from the stored samples table + header line
    assert(GraftDb.headerSamples(spark, out) == Seq("c", "f", "m"))

    val dbClassify = GraftDb.inheritanceClassify(spark, out)
      .select("chrom", "pos", "alt", "family_id", "child", "class",
        "child_dp", "dad_dp", "mom_dp").collect().map(_.toSeq).toSet
    val opClassify = Inheritance.e18(spark, "").collect().map(_.toSeq).toSet
    assert(dbClassify == opClassify)

    val dbPairs = GraftDb.compHets(spark, out).collect().map(_.toSeq).toSet
    val opPairs = Inheritance.e19(spark, "").collect().map(_.toSeq).toSet
    assert(dbPairs == opPairs)
  }

  test("GraftDb X-linked and QC queries over a loaded database match the operators") {
    import java.nio.file.Files
    import graft.operators.Inheritance.XFixture
    val tmp = Files.createTempDirectory("graft_x")
    val vcf = tmp.resolve("x.vcf")
    val ped = tmp.resolve("x.ped")
    Files.writeString(vcf, XFixture.lines.mkString("\n") + "\n")
    Files.writeString(ped, XFixture.pedLines.mkString("\n") + "\n")
    val out = tmp.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out, writerPartitions = 2)

    val dbX = GraftDb.xlinked(spark, out).collect().map(_.toSeq).toSet
    val opX = Inheritance.e22(spark, "").collect().map(_.toSeq).toSet
    assert(opX.nonEmpty && dbX == opX)

    // QC family over the same loaded db: sex-blind stats just need the
    // expanded arrays and header sample order
    val qc = GraftDb.sampleQc(spark, out).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap // sample -> n_het
    assert(qc.keySet == Set("c1", "f1", "m1", "c2", "f2", "m2"))
    assert(qc("m1") == 2L) // carrier mom: het at X:1000 and X:6000
    val ratios = GraftDb.tstv(spark, out).collect()
    assert(ratios.map(_.getString(0)).toSeq == Seq("X"))
    val runs = GraftDb.roh(spark, out, minSites = 2).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // f1 is hom-ref at all six sites: one unbroken 6-site run.
    // m2 is 0/0 at X:1000-2000 then het at X:3000
    // breaks the run, and hets at 5000/6000 keep the tail short — so
    // exactly one 2-site run survives minSites=2
    assert(runs.count(_._1 == "f1") == 1)
    assert(runs.contains(("f1", 1000L, 6000L, 6L)))
    assert(runs.filter(_._1 == "m2").toSeq == Seq(("m2", 1000L, 2000L, 2L)))
  }

  /** Four families on chrX, each child HET at X:100 (both parents
    * HOM-REF), X:200 (from dad) and X:300 (from mom), all in GENE_X:
    *  - FAM1: every member has a PED row and a VCF column, all affected,
    *    male child — every family tool finds it;
    *  - FAM2: dad f2 has a VCF column but no PED row — no trio;
    *  - FAM3: non-numeric sex and phenotypes — a trio for the sex- and
    *    phenotype-blind tools only;
    *  - FAM4: mom m4 has a PED row but no VCF column — no trio.
    */
  private object TrioRule {
    val samples = Seq("c1", "f1", "m1", "c2", "f2", "m2", "c3", "f3", "m3", "c4", "f4")
    private def row(pos: Int, child: String, dad: String, mom: String): String =
      (Seq("X", pos.toString, ".", "A", "G", "99", "PASS", "CSQ=G|missense_variant|GENE_X", "GT") ++
        Seq.fill(3)(Seq(child, dad, mom)).flatten ++ Seq(child, dad)).mkString("\t")
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT") ++
        samples).mkString("\t"),
      row(100, "0/1", "0/0", "0/0"),
      row(200, "0/1", "0/1", "0/0"),
      row(300, "0/1", "0/0", "0/1"))
    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM1 c1 f1 m1 1 2", "FAM1 f1 0 0 1 2", "FAM1 m1 0 0 2 2",
      "FAM2 c2 f2 m2 1 2", "FAM2 m2 0 0 2 2",
      "FAM3 c3 f3 m3 male affected", "FAM3 f3 0 0 M yes", "FAM3 m3 0 0 F no",
      "FAM4 c4 f4 m4 1 2", "FAM4 f4 0 0 1 2", "FAM4 m4 0 0 2 2")
  }

  private def loaded(lines: Seq[String], pedLines: Seq[String]): String = {
    val tmp = Files.createTempDirectory("graft_trio_rule")
    val vcf = tmp.resolve("in.vcf")
    val ped = tmp.resolve("in.ped")
    Files.writeString(vcf, lines.mkString("\n") + "\n")
    Files.writeString(ped, pedLines.mkString("\n") + "\n")
    val out = tmp.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out, writerPartitions = 2)
    out
  }

  private def keyed(df: DataFrame): Set[(Long, String, String)] =
    df.collect().map(r => (r.getAs[Long]("pos"), r.getAs[String]("child"),
      if (df.columns.contains("class")) r.getAs[String]("class") else "")).toSet

  test("trio rule: every member needs a PED row and a VCF column, through both entry points") {
    import TrioRule._
    val (h, v, i) = VcfReader.fromLines(spark, lines)
    assert(h.samples == samples)
    val db = loaded(lines, pedLines)
    val denovo = Set((100L, "c1", "de_novo"), (100L, "c3", "de_novo"))
    assert(keyed(Etl.trioDenovo(spark, v, samples, pedLines)) == denovo.map(_.copy(_3 = "")))
    assert(keyed(Inheritance.classify(spark, v, samples, pedLines)) == denovo)
    assert(keyed(GraftDb.inheritanceClassify(spark, db)) == denovo)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getAs[String]("child"), r.getAs[Long]("pos_a"), r.getAs[Long]("pos_b"))).toSet
    val compHets = Set(("c1", 200L, 300L), ("c3", 200L, 300L))
    assert(pairs(Inheritance.compHets(spark, v, i, samples, pedLines)) == compHets)
    assert(pairs(GraftDb.compHets(spark, db)) == compHets)
    // sex- and phenotype-aware tools: FAM3's NULL codes match no rule
    val xlinked = Set((100L, "c1", "xl_denovo"), (300L, "c1", "xl_recessive"))
    assert(keyed(Inheritance.xlinked(spark, v, samples, pedLines)) == xlinked)
    assert(keyed(GraftDb.xlinked(spark, db)) == xlinked)
    val autoDom = Set((200L, "c1", "auto_dom"), (300L, "c1", "auto_dom"))
    assert(keyed(Inheritance.autoDom(spark, v, samples, pedLines)) == autoDom)
    val stored = new GraftDb.Metadata(spark, db)
    assert(keyed(Inheritance.autoDom(spark, stored.genotypes("auto"), stored.trios)) == autoDom)
    val xlinkedDom = Set((300L, "c1", "xl_dominant"))
    assert(keyed(Inheritance.xlinkedDom(spark, v, samples, pedLines)) == xlinkedDom)
    assert(keyed(GraftDb.xlinkedDom(spark, db)) == xlinkedDom)
    assert(GraftDb.mendelSummary(spark, db).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet ==
      Set(("c1", "de_novo", 1L), ("c3", "de_novo", 1L)))
  }

  test("building gtFilter and sampleFilter reads the database's metadata once") {
    // one vcf_header collect and one samples collect: every table is
    // read with a given or footer-stored schema, so no schema-inference
    // job runs, and the sample-subset collect runs over the local
    // samples relation, with no job
    val db = loaded(TrioFixture.lines, TrioFixture.pedLines)
    val (_, gtJobs) = countingJobs(
      GraftDb.gtFilter(spark, db, "(gt_types).(phenotype==2).(==HET).(all)"))
    val (_, sfJobs) = countingJobs(
      GraftDb.sampleFilter(spark, db, "phenotype = 2", "only"))
    assert(gtJobs == 2 && sfJobs == 2, s"gtFilter $gtJobs jobs, sampleFilter $sfJobs jobs")
  }
}
