package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.operators.Etl.VcfFixture

/** The unified CLI (`Graft query|export|stats|amend`) smoke-tested
  * over a real loaded database: pure dispatch onto the verified
  * operators — each subcommand's frame must equal the operator it
  * routes to.
  */
class GraftCliSpec extends SparkSpec {

  private lazy val db: String = {
    val dir = Files.createTempDirectory("graftcli")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    out
  }

  test("query: region + columns + limit compose over the variants scan") {
    val rows = Graft.query(spark, db, region = Some("1:50-150"),
      columns = Seq("chrom", "pos", "ref", "alt")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(0) == "1" &&
      r.getLong(1) >= 50 && r.getLong(1) <= 150))
    assert(rows.head.length == 4)
    val capped = Graft.query(spark, db, limit = Some(2)).collect()
    assert(capped.length == 2)
  }

  test("query: gt-filter DSL routes through GtFilter.compile") {
    val viaCli = Graft.query(spark, db,
      gtFilter = Some("(gt_types).(phenotype==2).(==HET).(any)"),
      columns = Seq("chrom", "pos", "alt")).collect().map(_.toSeq).toSet
    val direct = GraftDb.gtFilter(spark, db,
      "(gt_types).(phenotype==2).(==HET).(any)")
      .select("chrom", "pos", "alt").collect().map(_.toSeq).toSet
    assert(viaCli == direct && viaCli.nonEmpty)
  }

  test("export: vcf/json/tped lines equal their operator builders") {
    val vcfLines = Graft.export(spark, db, "vcf").collect().map(_.getString(0))
    assert(vcfLines.length == 5)
    assert(vcfLines.forall(_.split("\t").length == 8))
    // every INFO field the stored header declares, not a fixed key list
    val v100 = vcfLines.filter(_.startsWith("1\t100\t"))
    assert(v100.length == 1 && v100.head.split("\t")(7).contains("ADI=30,12;PL=0,40,90"),
      v100.mkString("\n"))
    val jsonLines = Graft.export(spark, db, "json").collect().map(_.getString(0))
    assert(jsonLines.forall(l => l.startsWith("{\"chrom\": ") && l.endsWith("}")))
    // JSON carries the same declared INFO fields, arrays as JSON arrays
    val j100 = jsonLines.filter(_.startsWith("{\"chrom\": \"1\", \"pos\": 100,"))
    assert(j100.length == 1 && j100.head.contains("\"adi\": [30,12]") &&
      j100.head.contains("\"pl\": [0,40,90]"), j100.mkString("\n"))
    val tped = Graft.export(spark, db, "tped").collect().map(_.getString(0))
    assert(tped.length == 5)
    // TPED: 4 site fields + one allele pair per cohort sample
    assert(tped.forall(_.split("\t").length == 5))
    // region restriction reaches the export scan
    val only1 = Graft.export(spark, db, "vcf", region = Some("1"))
      .collect().map(_.getString(0))
    assert(only1.nonEmpty && only1.forall(_.startsWith("1\t")))
    intercept[IllegalArgumentException](Graft.export(spark, db, "bogus"))
  }

  test("stats: each tool routes to its GraftDb operator; db-info inventories tables") {
    val tstv = Graft.stats(spark, db, "tstv")
    assert(tstv.columns.contains("tstv") || tstv.columns.contains("n_ts"))
    assert(Graft.stats(spark, db, "sample-qc").count() == 4) // cohort size
    val info = Graft.stats(spark, db, "db-info").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val tables = info.map(_._1).distinct.sorted
    assert(tables.toSeq ==
      Seq("samples", "variant_impacts", "variants", "vcf_header"))
    assert(info.contains(("variants", "chrom")))
    intercept[IllegalArgumentException](Graft.stats(spark, db, "nope"))
  }

  test("run: end-to-end query --out writes parquet; export --out writes text") {
    val dir = Files.createTempDirectory("graftmain")
    val qOut = dir.resolve("q").toString
    Graft.run(spark, Array("query", db, "--region=1",
      "--columns=chrom,pos,alt", s"--out=$qOut"))
    val back = spark.read.parquet(qOut)
    assert(back.columns.toSeq == Seq("chrom", "pos", "alt"))
    assert(back.count() > 0)
    assert(back.select("chrom").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("1"))

    val eOut = dir.resolve("e").toString
    Graft.run(spark, Array("export", db, "--format=vcf", s"--out=$eOut"))
    val lines = spark.read.text(eOut).collect().map(_.getString(0))
    assert(lines.length == 5 && lines.forall(_.split("\t").length == 8))

    // unknown flags and commands fail loudly
    intercept[IllegalArgumentException](
      Graft.run(spark, Array("query", db, "--bogus=1")))
    intercept[IllegalArgumentException](
      Graft.run(spark, Array("frobnicate", db)))
  }
}
