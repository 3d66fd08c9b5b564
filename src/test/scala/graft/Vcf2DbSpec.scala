package graft

import java.nio.file.Files

import graft.operators.Etl.VcfFixture

/** End-to-end: the reference's CLI contract — VCF + PED in, a queryable
  * multi-table database out.
  */
class Vcf2DbSpec extends SparkSpec {

  test("vcf2db run writes variants/impacts/samples/vcf_header") {
    val dir = Files.createTempDirectory("vcf2db")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val out = dir.resolve("db").toString

    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)

    val variants = GraftDb.variants(spark, out)
    assert(variants.count() == 5)
    // worst impact denormalized onto variants (reference step 4)
    val v100 = variants.filter("pos = 100").head()
    assert(v100.getAs[String]("gene") == "BRCA1")
    assert(v100.getAs[String]("impact") == "missense_variant")
    assert(v100.getAs[String]("impact_severity") == "MED")
    // the CSQ-less record keeps NULL impact columns via the left join
    val v400 = variants.filter("pos = 400").head()
    assert(v400.isNullAt(v400.fieldIndex("impact")))

    assert(GraftDb.impacts(spark, out).count() == 5)
    val samples = GraftDb.samples(spark, out)
    assert(samples.count() == 4)
    assert(samples.columns.contains("sample_id"))
    val header = GraftDb.vcfHeader(spark, out)
    assert(header.count() == 14) // 13 raw lines + the blob-codec marker
    assert(header.orderBy("line_no").head().getAs[String]("line") ==
      "##fileformat=VCFv4.2")

    // genotype blobs: the stored variants table carries all ten packed
    // blob columns (the reference's six plus the PL trio and
    // gt_phases); expandGenotypes round-trips them to the reader's
    // typed arrays
    import org.apache.spark.sql.types.BinaryType
    val blobCols = Seq("gt_types", "gts", "gt_depths", "gt_ref_depths",
      "gt_alt_depths", "gt_quals", "gt_phred_ll_homref", "gt_phred_ll_het",
      "gt_phred_ll_homalt", "gt_phases")
    blobCols.foreach { c =>
      assert(variants.schema(c).dataType == BinaryType, s"$c should be a blob")
    }
    def seqOf[T](r: org.apache.spark.sql.Row, c: String): Seq[T] =
      r.getAs[scala.collection.Seq[T]](c).toSeq
    val expanded = GraftDb.expandGenotypes(spark, out)
    val e100 = expanded.filter("pos = 100").head()
    assert(seqOf[Int](e100, "gt_types") == Seq(1, 0, 0, 3))
    assert(seqOf[Int](e100, "gt_depths") == Seq(10, 12, 9, 7))
    assert(seqOf[String](e100, "gts") == Seq("0/1", "0/0", "0/0", "1/1"))
    val e300 = expanded.filter("pos = 300 AND alt = 'A'").head()
    assert(seqOf[Int](e300, "gt_depths") == Seq(-1, -1, -1, -1))
    assert(seqOf[String](e300, "gts") == Seq("1/2", "0/1", "2/2", "0/0"))
  }

  test("expand flag + snappy codec: per-sample columns and blob round-trip") {
    val dir = Files.createTempDirectory("vcf2db_exp")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString

    Vcf2Db.run(spark, vcf.toString, None, out,
      expand = Seq("gt_types", "gt_depths"), blobCodec = "snappy")

    val variants = GraftDb.variants(spark, out)
    // --expand: one typed column per (field, sample), blob still present
    assert(variants.columns.contains("gt_types_s1"))
    assert(variants.columns.contains("gt_depths_s4"))
    val v100 = variants.filter("pos = 100").head()
    assert(v100.getAs[Int]("gt_types_s1") == 1) // s1 is HET at 1:100
    assert(v100.getAs[Int]("gt_depths_s4") == 7)
    // snappy blobs round-trip through expandGenotypes(codec = "snappy")
    val e100 = GraftDb.expandGenotypes(spark, out, codec = "snappy")
      .filter("pos = 100").head()
    def seqOf[T](r: org.apache.spark.sql.Row, c: String): Seq[T] =
      r.getAs[scala.collection.Seq[T]](c).toSeq
    assert(seqOf[Int](e100, "gt_types") == Seq(1, 0, 0, 3))
    assert(seqOf[Int](e100, "gt_quals") == Seq(99, 80, 50, 20))
    assert(seqOf[String](e100, "gts") == Seq("0/1", "0/0", "0/0", "1/1"))
  }

  test("GEMINI-style query over the generated db: affected-carrier HIGH variants") {
    val dir = Files.createTempDirectory("vcf2db_q")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out,
      expand = Seq("gt_types"))

    // "variants with a HIGH-severity impact where an AFFECTED sample
    // (phenotype=2 in the PED) carries the alt" — the reference's whole
    // reason to exist, over the tables this job just wrote
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val affected = GraftDb.samples(spark, out)
      .filter($"phenotype" === "2").select($"sample_id")
      .collect().map(_.getString(0)).toSet
    assert(affected == Set("s1", "s4"))
    val v = GraftDb.variants(spark, out)
    val carrierCond = affected.toSeq.sorted
      .map(sid => col(s"gt_types_$sid").isin(1, 3))
      .reduce(_ || _)
    val i = GraftDb.impacts(spark, out)
      .filter($"impact_severity" === "HIGH")
      .select($"chrom".as("i_chrom"), $"pos".as("i_pos"),
        $"ref".as("i_ref"), $"alt".as("i_alt"), $"consequence")
    val hits = v.join(broadcast(i),
      v("chrom") === $"i_chrom" && v("pos") === $"i_pos" &&
        v("ref") === $"i_ref" && v("alt") === $"i_alt")
      .filter(carrierCond)
      .select($"chrom", $"pos", $"alt", $"consequence")
      .orderBy($"chrom", $"pos", $"alt")
      .collect()
    assert(hits.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq ==
      Seq(("1", 200L, "T", "stop_gained"), ("2", 300L, "T", "frameshift_variant")))

    // same query through the SQL view surface (blobs pre-expanded by
    // createViews; element_at is 1-based like the gt-array convention)
    GraftDb.createViews(spark, out)
    val sqlHits = spark.sql(
      """SELECT DISTINCT v.chrom, v.pos, v.alt, i.consequence
        |FROM variants v
        |JOIN variant_impacts i USING (chrom, pos, ref, alt)
        |WHERE i.impact_severity = 'HIGH'
        |  AND (element_at(v.gt_types, 1) IN (1, 3) OR element_at(v.gt_types, 4) IN (1, 3))
        |ORDER BY chrom, pos, alt""".stripMargin).collect()
    assert(sqlHits.map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq ==
      Seq(("1", 200L, "T", "stop_gained"), ("2", 300L, "T", "frameshift_variant")))
  }

  /** A SnpEff-annotated VCF: ANN with SnpEff's field names. */
  private val snpEffLines = Vector(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=ANN,Number=.,Type=String,Description=\"Functional annotations: " +
      "'Allele | Annotation | Annotation_Impact | Gene_Name'\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
      "FORMAT", "s1").mkString("\t"),
    Seq("1", "100", ".", "A", "G", "99", "PASS",
      "ANN=G|missense_variant|MODERATE|GENE1,G|synonymous_variant|LOW|GENE1",
      "GT", "0/1").mkString("\t"))

  test("SnpEff ANN-annotated VCF loads end-to-end with annotator-agnostic columns") {
    val dir = Files.createTempDirectory("vcf2db_ann")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, snpEffLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    // worst impact denormalizes from the ANN fields (Annotation /
    // Gene_Name instead of VEP's Consequence / SYMBOL)
    val v = GraftDb.variants(spark, out).head()
    assert(v.getAs[String]("gene") == "GENE1")
    assert(v.getAs[String]("impact") == "missense_variant")
    assert(v.getAs[String]("impact_severity") == "MED")
    // gene-keyed read surface resolves gene_name
    val burden = GraftDb.geneBurden(spark, out).collect()
    assert(burden.map(_.getAs[String]("symbol")).toSet == Set("GENE1"))
  }

  test("snappy-written db reads back with the default auto codec") {
    val dir = Files.createTempDirectory("vcf2db_auto")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out, blobCodec = "snappy")
    assert(GraftDb.storedBlobCodec(spark, out).contains("snappy"))
    // no codec argument: the marker drives the unpack
    val e100 = GraftDb.expandGenotypes(spark, out).filter("pos = 100").head()
    assert(e100.getAs[scala.collection.Seq[Int]]("gt_types").toSeq ==
      Seq(1, 0, 0, 3))
  }

  test("sorted-output writes range-disjoint variant slabs that read back whole") {
    val dir = Files.createTempDirectory("vcf2db_sorted")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out, sortedOutput = 2)
    val back = GraftDb.variants(spark, out)
    assert(back.count() == 5)
    // per-file key ranges must be disjoint (the pruning contract), in
    // the impacts table too: each slab's task writes its records' impacts
    def files(table: String) = new java.io.File(s"$out/$table").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    def assertDisjoint(table: String): Unit = {
      val ranges = files(table).map { f =>
        val r = spark.read.parquet(f)
          .selectExpr("min(struct(chrom, pos)) AS lo", "max(struct(chrom, pos)) AS hi")
          .collect().head
        (r.getStruct(0).getString(0), r.getStruct(0).getLong(1),
          r.getStruct(1).getString(0), r.getStruct(1).getLong(1))
      }.sortBy(r => (r._1, r._2))
      ranges.sliding(2).foreach {
        case Seq((_, _, hiC, hiP), (loC, loP, _, _)) =>
          assert(hiC < loC || (hiC == loC && hiP < loP),
            s"$table file ranges overlap: $ranges")
        case _ =>
      }
    }
    assert(files("variants").size == 2)
    assertDisjoint("variants")
    assert(files("variant_impacts").nonEmpty)
    assertDisjoint("variant_impacts")
    assert(GraftDb.impacts(spark, out).count() == 5)
  }

  test("variants parquet: blob columns written plain, strings keep dictionaries") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = Files.createTempDirectory("vcf2db_plain")
    val vcf = dir.resolve("in.vcf")
    // the fixture's records 200 times over, shifted in pos: enough rows
    // per file that a dictionary pays for chrom in every slab
    val (head, body) = VcfFixture.lines.partition(_.startsWith("#"))
    val copies = (0 until 200).flatMap(k => body.map { l =>
      val f = l.split("\t", -1)
      (f.updated(1, (f(1).toLong + k * 1000L).toString)).mkString("\t")
    })
    Files.writeString(vcf, (head ++ copies).mkString("\n") + "\n")
    val blobCols = Seq("gt_types", "gts", "gt_depths", "gt_ref_depths",
      "gt_alt_depths", "gt_quals", "gt_phred_ll_homref", "gt_phred_ll_het",
      "gt_phred_ll_homalt", "gt_phases")
    val conf = spark.sessionState.newHadoopConf()
    // every column chunk of every parquet file under `table`
    def footerColumns(table: String) = {
      val files = new java.io.File(table).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, s"no parquet files under $table")
      files.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), conf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
        finally reader.close()
      }
    }
    // the default load and --sorted-output alike
    Seq(0, 2).foreach { sorted =>
      val out = dir.resolve(s"db$sorted").toString
      Vcf2Db.run(spark, vcf.toString, None, out, sortedOutput = sorted)
      val chunks = footerColumns(s"$out/variants")
      assert(chunks.nonEmpty, s"no row groups under $out")
      // vid and pos are unique per variant: plain like the blobs
      (blobCols ++ Seq("vid", "pos")).foreach { c =>
        val cc = chunks.filter(_.getPath.toDotString == c)
        assert(cc.nonEmpty, s"$c missing from the footer")
        cc.foreach { m =>
          assert(!m.hasDictionaryPage, s"$c has a dictionary page (sorted=$sorted)")
          assert(!m.getEncodings.asScala.exists(_.usesDictionary),
            s"$c encodings ${m.getEncodings} (sorted=$sorted)")
        }
      }
      val chrom = chunks.filter(_.getPath.toDotString == "chrom")
      assert(chrom.nonEmpty && chrom.forall(m =>
        m.hasDictionaryPage && m.getEncodings.asScala.exists(_.usesDictionary)),
        s"chrom should stay dictionary-encoded (sorted=$sorted)")
      // the impacts table repeats pos once per transcript: it keeps its
      // dictionary, like the string columns
      val impactPos = footerColumns(s"$out/variant_impacts").filter(_.getPath.toDotString == "pos")
      assert(impactPos.nonEmpty && impactPos.forall(_.hasDictionaryPage),
        s"variant_impacts.pos should stay dictionary-encoded (sorted=$sorted)")
    }
  }

  test("GEMINI --gt-filter wildcard DSL compiles and filters the loaded db") {
    import graft.operators.Inheritance
    val dir = Files.createTempDirectory("vcf2db_gtf")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("trio.ped")
    Files.writeString(ped, Inheritance.TrioFixture.pedLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    def positions(spec: String): Seq[Long] =
      GraftDb.gtFilter(spark, out, spec)
        .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    // affected sample (phenotype 2) = child c; HET sites of c
    assert(positions("(gt_types).(phenotype==2).(==HET).(all)") ==
      Seq(1000L, 2000L, 3000L, 100L).sorted)
    // unaffecteds both HOM_REF: only the de novo site 1:1000
    assert(positions("(gt_types).(phenotype==1).(==HOM_REF).(all)") ==
      Seq(1000L))
    // any sample with depth >= 39 (f at 3:100 and 2:600's dp 38 < 39)
    assert(positions("(gt_depths).(*).(>=39).(any)") == Seq(100L, 1000L))
    // exactly two HETs in the trio: 1:2000 (c,f), 1:3000 (c,m),
    // 2:500 (f,m), 3:200 (f,m with uncalled child)
    assert(positions("(gt_types).(*).(==HET).(count==2)") ==
      Seq(200L, 500L, 2000L, 3000L))
    // loud errors for malformed specs
    intercept[IllegalArgumentException](
      GraftDb.gtFilter(spark, out, "(gt_types).(nope==1).(==HET).(all)")
        .collect())
    intercept[IllegalArgumentException](
      GraftDb.gtFilter(spark, out, "gt_types == HET").collect())
  }

  test("a database loaded without a PED serves gtFilter over *, createViews and dbInfo") {
    import graft.operators.Inheritance
    val dir = Files.createTempDirectory("vcf2db_noped")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    assert(GraftDb.gtFilter(spark, out, "(gt_types).(*).(==HET).(count==2)")
      .select("pos").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(200L, 500L, 2000L, 3000L))
    GraftDb.createViews(spark, out)
    assert(spark.sql("SELECT count(*) FROM variants").head().getLong(0) == 8L)
    assert(GraftDb.dbInfo(spark, out).collect().map(_.getString(0)).toSet ==
      Set("variants", "variant_impacts", "vcf_header"))
  }

  test("compound gt-filter: and/or/not over wildcard and per-sample clauses") {
    import graft.operators.Inheritance
    val dir = Files.createTempDirectory("vcf2db_gtf2")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("trio.ped")
    Files.writeString(ped, Inheritance.TrioFixture.pedLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    def positions(spec: String): Seq[Long] =
      GraftDb.gtFilter(spark, out, spec)
        .select("pos").collect().map(_.getLong(0)).sorted.toSeq

    // GEMINI's per-sample clause form: child HET with decent depth
    assert(positions("gt_types.c == HET and gt_depths.c >= 25") ==
      Seq(100L, 1000L, 2000L))
    // the documented compound wildcard form: any HET, every DP >= 20
    // (only 3:200 fails — the uncalled child's DP is 0)
    assert(positions(
      "(gt_types).(*).(==HET).(any) and (gt_depths).(*).(>=20).(all)") ==
      Seq(100L, 500L, 600L, 700L, 1000L, 2000L, 3000L))
    // or + not over a wildcard clause
    assert(positions(
      "gt_types.c == HOM_ALT or not (gt_depths).(*).(>=20).(all)") ==
      Seq(200L, 500L, 600L))
    // precedence: and binds tighter than or...
    assert(positions(
      "gt_types.c == HOM_REF or gt_types.c == HET and gt_depths.f >= 38") ==
      Seq(100L, 700L, 1000L))
    // ...and parentheses regroup the same clauses
    assert(positions(
      "(gt_types.c == HOM_REF or gt_types.c == HET) and gt_depths.f >= 38") ==
      Seq(100L, 1000L))
    // string-valued per-sample clause over the gts array
    assert(positions("gts.c == '1/1'") == Seq(500L, 600L))
    // loud errors: unknown sample, trailing garbage, bare column
    intercept[IllegalArgumentException](
      GraftDb.gtFilter(spark, out, "gt_types.zzz == HET").collect())
    intercept[IllegalArgumentException](
      GraftDb.gtFilter(spark, out,
        "gt_types.c == HET) or gt_types.c == HOM_ALT").collect())
    intercept[IllegalArgumentException](
      GraftDb.gtFilter(spark, out, "gt_types == HET").collect())
  }

  test("sample-filter with --in modifiers relates sample subsets to carriers") {
    import graft.operators.Inheritance
    val dir = Files.createTempDirectory("vcf2db_sf")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("trio.ped")
    Files.writeString(ped, Inheritance.TrioFixture.pedLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    def positions(where: String, in: String): Seq[Long] =
      GraftDb.sampleFilter(spark, out, where, in)
        .select("pos").collect().map(_.getLong(0)).sorted.toSeq
    // affected = child c; carrier = HET|HOM_ALT of gt_types
    assert(positions("phenotype = 2", "any") ==
      Seq(100L, 500L, 600L, 1000L, 2000L, 3000L))
    // c not a carrier: 2:700 (HOM_REF) and 3:200 (UNKNOWN counts as
    // non-carrier, the e40 rule)
    assert(positions("phenotype = 2", "none") == Seq(200L, 700L))
    // ONLY the affected child carries: just the de novo site
    assert(positions("phenotype = 2", "only") == Seq(1000L))
    // both unaffected parents carry (HET or HOM_ALT — 2:700's dad is
    // HOM_ALT and counts)
    assert(positions("phenotype = 1", "all") == Seq(100L, 200L, 500L, 700L))
    intercept[IllegalArgumentException](
      GraftDb.sampleFilter(spark, out, "phenotype = 2", "most").collect())
    intercept[IllegalArgumentException](
      GraftDb.sampleFilter(spark, out, "phenotype = 9", "any").collect())
  }

  test("min-kindreds gates family-tool hits on distinct family counts") {
    import graft.operators.Inheritance
    import spark.implicits._
    // direct helper semantics: variant (1,1,A) seen in two families
    // survives n=2; the single-family variant does not
    val hits = Seq(
      ("1", 1000L, "A", "F1"), ("1", 1000L, "A", "F2"),
      ("2", 2000L, "B", "F1"))
      .toDF("chrom", "pos", "alt", "family_id")
    val kept = Inheritance.minKindreds(hits, 2)
      .select("chrom", "pos", "family_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(kept == Set(("1", 1000L, "F1"), ("1", 1000L, "F2")))
    assert(Inheritance.minKindreds(hits, 1).count() == 3)

    // over a loaded single-family db: n=1 passes through, n=2 empties
    val dir = Files.createTempDirectory("vcf2db_mk")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("trio.ped")
    Files.writeString(ped, Inheritance.TrioFixture.pedLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    val n1 = GraftDb.inheritanceClassify(spark, out).count()
    assert(n1 > 0)
    assert(GraftDb.inheritanceClassify(spark, out, minKindreds = 2).count() == 0)
    assert(GraftDb.compHets(spark, out).count() ==
      GraftDb.compHets(spark, out, minKindreds = 1).count())
    assert(GraftDb.compHets(spark, out, minKindreds = 2).count() == 0)
  }

  test("mendelSummary over a loaded database matches e27's class counts") {
    import graft.operators.Inheritance
    val dir = Files.createTempDirectory("vcf2db_mendel")
    val vcf = dir.resolve("trio.vcf")
    Files.writeString(vcf, Inheritance.TrioFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("trio.ped")
    Files.writeString(ped, Inheritance.TrioFixture.pedLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    val got = GraftDb.mendelSummary(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("FAM", "c", "auto_rec", 1L),
      ("FAM", "c", "de_novo", 1L),
      ("FAM", "c", "mendel_error", 2L)))
  }

  test("GTF annotate over a loaded database labels variants with gene spans") {
    val dir = Files.createTempDirectory("vcf2db_gtf")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    val gtf = dir.resolve("genes.gtf")
    Files.writeString(gtf, graft.operators.Stats.gtfLines.mkString("\n") + "\n")
    val hits = GraftDb.annotateGtf(spark, out, gtf.toString, binW = 100L)
      .select("chrom", "pos", "alt", "gene_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(hits == Set(
      ("1", 100L, "G", "BRCA1"), ("1", 200L, "T", "TP53"),
      ("2", 300L, "A", "EGFR"), ("2", 300L, "T", "EGFR")))
  }

  test("BED annotate over a loaded database labels overlapping variants") {
    val dir = Files.createTempDirectory("vcf2db_bed")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    val bed = dir.resolve("r.bed")
    // BED is 0-based half-open: [50,150) covers pos 51..150
    Files.writeString(bed,
      "track name=test\n# comment\n" +
        "1\t50\t150\tregA\n2\t250\t400\tregB\nX\t0\t1000\tregX\n")

    val hits = GraftDb.annotate(spark, out, bed.toString, binW = 100L)
      .select("chrom", "pos", "alt", "region")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(hits == Set(
      ("1", 100L, "G", "regA"),
      ("2", 300L, "A", "regB"), ("2", 300L, "T", "regB"),
      ("X", 400L, "C", "regX")))
  }

  test("exportVcf round-trips a loaded database through format(vcf)") {
    val dir = Files.createTempDirectory("vcf2db_export")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    val exp = dir.resolve("export").toString
    GraftDb.exportVcf(spark, out, exp, shards = 2)

    // the export is a sharded cohort our own source reads back; every
    // typed field — scalars, Flags, per-alt A values, reshaped R/G
    // arrays, and genotype-derived stats — must survive the round trip
    val keep = Seq("chrom", "pos", "ref", "alt", "qual", "filter", "dp",
      "af", "db", "type", "aaf", "call_rate", "num_het", "num_hom_alt")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(keep.map(org.apache.spark.sql.functions.col): _*)
        .orderBy("chrom", "pos", "alt").collect().map(_.toSeq).toSeq
    val back = spark.read.format("vcf").load(exp)
    val orig = graft.sources.VcfReader.fromLines(spark, VcfFixture.lines)._2
    assert(snap(back) == snap(orig))
    // gt arrays: the per-alt R/G reshape is stable under re-parse
    val gtBack = back.orderBy("chrom", "pos", "alt").select("gt_types", "adi", "pl")
      .collect().map(_.toSeq).toSeq
    val gtOrig = orig.orderBy("chrom", "pos", "alt").select("gt_types", "adi", "pl")
      .collect().map(_.toSeq).toSeq
    assert(gtBack == gtOrig)
    // every shard is a self-contained VCF (full header first) — the
    // sharded-cohort layout; Spark's _SUCCESS marker must be ignored
    val parts = new java.io.File(exp).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(parts.length == 2)
    parts.foreach { f =>
      assert(Files.readString(f.toPath).startsWith("##fileformat=VCFv4.2"))
    }
  }

  test("exportVcf text: the stored header and pinned body lines, sorted disjoint shards") {
    import scala.jdk.CollectionConverters._
    import scala.math.Ordering.Implicits._
    val dir = Files.createTempDirectory("vcf2db_export_text")
    /** A 2-shard export of `lines` loaded: each shard's body must be
      * sorted and the shards' (chrom, pos) ranges disjoint. Returns the
      * distinct shard headers and every body line, sorted.
      */
    def exported(lines: Seq[String], name: String) = {
      val vcf = dir.resolve(s"$name.vcf")
      Files.writeString(vcf, lines.mkString("\n") + "\n")
      val out = dir.resolve(s"$name.db").toString
      Vcf2Db.run(spark, vcf.toString, None, out)
      val exp = dir.resolve(s"$name.export").toString
      GraftDb.exportVcf(spark, out, exp, shards = 2)
      val shards = new java.io.File(exp).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName).map(f => Files.readAllLines(f.toPath).asScala.toVector).toSeq
      val bodies = shards.map(_.filterNot(_.startsWith("#")))
      val keys = bodies.map(_.map { l => val f = l.split("\t"); (f(0), f(1).toLong, f(4)) })
      keys.foreach(k => assert(k == k.sorted, s"$name: shard body not sorted"))
      keys.filter(_.nonEmpty).sliding(2).foreach {
        case Seq(a, b) => assert((a.last._1, a.last._2) < ((b.head._1, b.head._2)),
          s"$name: shards share a key range")
        case _ =>
      }
      (shards.map(_.takeWhile(_.startsWith("#"))).distinct, bodies.flatten.sorted)
    }
    val (fxHeaders, fxBody) = exported(VcfFixture.lines, "fixture")
    assert(fxHeaders == Seq(VcfFixture.lines.filter(_.startsWith("#"))))
    assert(fxBody == Seq(
      "1\t100\trs1\tA\tG\t50.0\tPASS\tDP=10;AF=0.25;DB;ADI=30,12;PL=0,40,90\tGT\t0/1\t0/0\t0/0\t1/1",
      "1\t200\t.\tC\tT\t99.0\tPASS\tDP=20;AF=0.5\tGT\t0/1\t0/1\t./.\t./.",
      "2\t300\trs3\tG\tA\t.\tq10\tDP=5;AF=0.5;ADI=20,8;PL=10,20,30\tGT\t0/1\t0/1\t0/0\t0/0",
      "2\t300\trs3\tG\tT\t.\tq10\tDP=5;AF=0.25;ADI=20,5;PL=10,40,60\tGT\t0/1\t0/0\t1/1\t0/0",
      "X\t400\t.\tT\tC\t10.5\t.\tAF=0.75;TYPE=snp\tGT\t1/1\t1/1\t0/1\t0/1"))
    // the annotation key lives in variant_impacts: no INFO left to write
    val (seHeaders, seBody) = exported(snpEffLines, "snpeff")
    assert(seHeaders == Seq(snpEffLines.filter(_.startsWith("#"))))
    assert(seBody == Seq("1\t100\t.\tA\tG\t99.0\tPASS\t.\tGT\t0/1"))
  }

  test("VCF annotate over a loaded database joins a dbSNP-style source by allele") {
    val dir = Files.createTempDirectory("vcf2db_annvcf")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    val ann = dir.resolve("dbsnp.vcf")
    Files.writeString(ann, VcfFixture.annLines.mkString("\n") + "\n")

    val got = GraftDb.annotateVcf(spark, out, ann.toString)
      .select("chrom", "pos", "alt", "ann_vid", "ann_caf")
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getString(2)),
        (r.getAs[String]("ann_vid"), Option(r.getAs[Any]("ann_caf"))))).toMap
    assert(got.size == 5) // cohort rows only; 3:500 rs99 does not leak
    assert(got(("2", 300L, "T")) == (("rs3", Some(0.05))))
    assert(got(("X", 400L, "C")) == ((null, None)))
  }

  test("fusions over a loaded SV database finds the inter-gene breakend pair") {
    val dir = Files.createTempDirectory("vcf2db_sv")
    val vcf = dir.resolve("sv.vcf")
    Files.writeString(vcf,
      graft.operators.Sv.SvFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    val bed = dir.resolve("genes.bed")
    // BED 0-based half-open → 1-based inclusive [100000,101000] etc.
    Files.writeString(bed,
      "2\t99999\t101000\tGENE_A\n17\t199999\t201000\tGENE_B\n" +
        "5\t999\t2000\tGENE_C\n")

    val got = GraftDb.fusions(spark, out, bed.toString)
      .select("chrom", "pos", "gene_a", "gene_b")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set(
      ("2", 100100L, "GENE_A", "GENE_B"),
      ("17", 200200L, "GENE_B", "GENE_A")))
  }

  test("db_info / dump --tfam / amend over a loaded database") {
    val dir = Files.createTempDirectory("vcf2db_admin")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)

    // db_info lists every stored table's columns with types
    val info = GraftDb.dbInfo(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(info.map(_._1).toSet ==
      Set("variants", "variant_impacts", "samples", "vcf_header"))
    assert(info.contains(("variants", "chrom", "string")))
    assert(info.contains(("variants", "gt_types", "binary")))
    assert(info.contains(("samples", "phenotype", "string")))

    // dump --tfam: PLINK column order
    val tfam = GraftDb.dumpTfam(spark, out)
    assert(tfam.columns.toSeq == Seq("family_id", "sample_id",
      "paternal_id", "maternal_id", "sex", "phenotype"))
    assert(tfam.count() == 4)

    // amend: re-phenotype s4 without a reload
    val ped2 = dir.resolve("amended.ped")
    Files.writeString(ped2,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n"
          .replace("fam1 s4 s1 s2 2 2", "fam1 s4 s1 s2 2 1"))
    GraftDb.amendSamples(spark, out, ped2.toString)
    val s4 = GraftDb.samples(spark, out).filter("sample_id = 's4'").head()
    assert(s4.getAs[String]("phenotype") == "1")

    // a PED that narrows the cohort must be rejected loudly
    val bad = dir.resolve("bad.ped")
    Files.writeString(bad,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\n")
    intercept[IllegalArgumentException](GraftDb.amendSamples(spark, out, bad.toString))
  }

  test("region() parses GEMINI-style specs into pushdown-friendly filters") {
    import spark.implicits._
    val df = Seq(("1", 100L), ("1", 250L), ("2", 100L))
      .toDF("chrom", "pos")
    assert(GraftDb.region(df, "1").count() == 2)
    assert(GraftDb.region(df, "1:100").count() == 1)
    assert(GraftDb.region(df, "1:50-200").count() == 1)
    assert(GraftDb.region(df, "2:90-110").count() == 1)
    intercept[IllegalArgumentException](GraftDb.region(df, "1:x-y"))
    // GRCh38 HLA/ALT contig names carry multiple ':' — whole-name match
    val hla = Seq(("HLA-A*01:01:01:01", 5L)).toDF("chrom", "pos")
    assert(GraftDb.region(hla, "HLA-A*01:01:01:01").count() == 1)
  }

  test("annotation-less VCF (no CSQ/ANN) loads without an impacts table") {
    val dir = Files.createTempDirectory("vcf2db_plain")
    val vcf = dir.resolve("plain.vcf")
    Files.writeString(vcf, Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ta\tb",
      "1\t5\t.\tA\tG\t.\tPASS\tDP=3\tGT\t0/1\t1/1").mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out)
    assert(GraftDb.variants(spark, out).count() == 1)
    // no impacts table written, no worst-impact columns denormalized
    assert(!java.nio.file.Files.exists(dir.resolve("db/variant_impacts")))
    assert(!GraftDb.variants(spark, out).columns.contains("impact"))
  }

  test("volume e2e: 10k-record VCF through the full job, blobs round-trip") {
    val sb = new StringBuilder
    sb ++= "##fileformat=VCFv4.2\n"
    sb ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">\n"
    sb ++= "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">\n"
    sb ++= "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">\n"
    sb ++= "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1\ts2\ts3\n"
    val gts = Vector("0/0", "0/1", "1/1", "./.")
    (1 to 10000).foreach { i =>
      sb ++= Seq(s"${1 + i % 5}", s"${i * 11}", ".", "A", "G", ".", "PASS",
        s"DP=${i % 90}", "GT:DP",
        s"${gts(i % 4)}:${i % 60}", s"${gts((i / 4) % 4)}:${i % 31}",
        s"${gts((i / 16) % 4)}:.").mkString("\t") + "\n"
    }
    val dir = Files.createTempDirectory("vcf2db_vol")
    val vcf = dir.resolve("vol.vcf")
    Files.writeString(vcf, sb.toString)
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out, blobCodec = "snappy")

    val expanded = GraftDb.expandGenotypes(spark, out, codec = "snappy")
    assert(expanded.count() == 10000)
    // per-row blob round-trip invariants, checked distributed (no collect)
    import org.apache.spark.sql.functions._
    val bad = expanded.filter(
      size(col("gt_types")) =!= 3 || size(col("gts")) =!= 3 ||
        size(col("gt_depths")) =!= 3 ||
        col("gt_depths").getItem(2) =!= -1 || // s3's DP is always '.'
        col("num_hom_ref") + col("num_het") + col("num_hom_alt") + col("num_unknown") =!= 3)
      .count()
    assert(bad == 0)
    // spot value: record i=1 → pos 11, s1=gts(1), s2=gts(0), s3=gts(0)
    val r = expanded.filter("pos = 11").head()
    def seqOf[T](c: String): Seq[T] = r.getAs[scala.collection.Seq[T]](c).toSeq
    assert(seqOf[Int]("gt_depths") == Seq(1, 1, -1))
    assert(seqOf[String]("gts") == Seq("0/1", "0/0", "0/0"))
  }

  test("full job against embedded Derby: the reference's actual product") {
    val dir = Files.createTempDirectory("vcf2db_jdbc")
    System.setProperty("derby.system.home", dir.toString)
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val url = "jdbc:derby:memory:vcf2db_e2e;create=true"
    // jdbcBatchSize 2 over 5 variants: multiple insert batches per writer
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString),
      dir.resolve("unused").toString, jdbcUrl = Some(url), jdbcBatchSize = 2)

    val props = new java.util.Properties()
    val variants = spark.read.jdbc(url, "variants", props)
    assert(variants.count() == 5)
    // worst impact denormalized into the SQL table, like the reference
    val v100 = variants.filter("pos = 100").head()
    assert(v100.getAs[String]("gene") == "BRCA1")
    assert(v100.getAs[String]("impact") == "missense_variant")
    assert(v100.getAs[String]("impact_severity") == "MED")
    // genotype blobs land as real BLOBs and unpack back to the arrays
    import org.apache.spark.sql.types.BinaryType
    assert(variants.schema("gt_types").dataType == BinaryType)
    val e100 = variants.filter("pos = 100")
      .selectExpr("zlib_unpack(gt_types) AS t", "zlib_unpack_str(gts) AS g")
      .head()
    assert(e100.getAs[scala.collection.Seq[Int]]("t").toSeq == Seq(1, 0, 0, 3))
    assert(e100.getAs[scala.collection.Seq[String]]("g").toSeq ==
      Seq("0/1", "0/0", "0/0", "1/1"))
    // companion tables all present in the database
    assert(spark.read.jdbc(url, "variant_impacts", props).count() == 5)
    val samples = spark.read.jdbc(url, "samples", props)
    assert(samples.count() == 4)
    assert(samples.select("sample_id").collect().map(_.getString(0)).toSet ==
      Set("s1", "s2", "s3", "s4"))
    val header = spark.read.jdbc(url, "vcf_header", props)
    assert(header.count() == 14)
    assert(header.orderBy("line_no").head().getAs[String]("line") ==
      "##fileformat=VCFv4.2")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark on event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[graft.streaming.Event]
    val ts0 = new java.sql.Timestamp(1700000400000L)
    def ev(id: Long, mins: Long) = graft.streaming.Event(
      id, new java.sql.Timestamp(ts0.getTime + mins * 60000L), 1, "view")
    val q = input.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(ev(1, 0), ev(2, 1), ev(1, 2)) // id 1 duplicated
      q.processAllAvailable()
      input.addData(ev(2, 3), ev(3, 4)) // id 2 duplicated across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("--passonly drops failed-filter records and their impact orphans") {
    val dir = Files.createTempDirectory("passonly")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out, passOnly = true)
    val variants = GraftDb.variants(spark, out)
    // fixture: pos 100/200 PASS, pos 300 q10 (2 decomposed alts), pos
    // 400 '.' (missing) — passonly keeps PASS + missing
    assert(variants.count() == 3)
    assert(variants.select("pos").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(100L, 200L, 400L))
    // annotations of the dropped record must not survive as orphans
    val imp = GraftDb.impacts(spark, out)
    assert(imp.filter("pos = 300").count() == 0)
    assert(imp.count() == 3)
  }

  /** CSQ cases the worst-impact pick has to settle: rank ties, a tie
    * broken by the consequence text, duplicate (chrom, pos, ref, alt)
    * records with a failing FILTER, and per-alt entries.
    */
  private val pickLines = Vector(
    "##fileformat=VCFv4.2",
    "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"VEP. Format: Allele|Consequence|SYMBOL\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
    "1\t100\t.\tA\tG\t50\tPASS\tCSQ=G|missense_variant|TIE_B,G|missense_variant|TIE_A\tGT\t0/1",
    "1\t150\t.\tA\tG\t50\tPASS\t" +
      "CSQ=G|missense_variant&splice_region_variant|LONGER,G|missense_variant|SHORTER\tGT\t0/1",
    "1\t200\t.\tC\tT\t50\tPASS\tCSQ=T|stop_gained|DUP_PASS\tGT\t0/1",
    "1\t200\t.\tC\tT\t50\tq10\tCSQ=T|synonymous_variant|DUP_FAIL\tGT\t0/1",
    "1\t300\t.\tG\tA,T\t50\tPASS\tCSQ=A|intron_variant|ALT_A,T|stop_lost|ALT_T\tGT\t1/2")

  private def loadPicks(passOnly: Boolean): (String, Map[(Long, String, String), String]) = {
    val dir = Files.createTempDirectory("worstpick")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, pickLines.mkString("\n") + "\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, None, out, passOnly = passOnly)
    val genes = GraftDb.variants(spark, out).collect().map(r =>
      (r.getAs[Long]("pos"), r.getAs[String]("alt"),
        Option(r.getAs[String]("filter")).getOrElse(".")) -> r.getAs[String]("gene")).toMap
    (out, genes)
  }

  test("in-row worst impact: CSQ-order ties, each duplicate record its own pick") {
    val (out, genes) = loadPicks(passOnly = false)
    assert(genes == Map(
      (100L, "G", "PASS") -> "TIE_B", // equal (rank, consequence): first entry
      (150L, "G", "PASS") -> "SHORTER", // equal rank: lesser consequence text
      (200L, "T", "PASS") -> "DUP_PASS",
      (200L, "T", "q10") -> "DUP_FAIL", // its own entry, not the key's union
      (300L, "A", "PASS") -> "ALT_A",
      (300L, "T", "PASS") -> "ALT_T"))
    val v150 = GraftDb.variants(spark, out).filter("pos = 150").head()
    assert(v150.getAs[String]("impact") == "missense_variant")
    assert(v150.getAs[Int]("severity_rank") == 12)
    val dupFail = GraftDb.variants(spark, out).filter("filter = 'q10'").head()
    assert(dupFail.getAs[String]("impact_severity") == "LOW")
    // the join reference gives both duplicates the worst of their union
    val (_, v, i) = graft.sources.VcfReader.fromPath(spark,
      s"${out.stripSuffix("/db")}/in.vcf")
    assert(Vcf2Db.denormalizeWorstImpact(v, i).filter("pos = 200")
      .select("gene").collect().map(_.getString(0)).toSeq == Seq("DUP_PASS", "DUP_PASS"))
  }

  test("--passonly drops a failing duplicate's variant and impacts, keeps the PASS one") {
    val (out, genes) = loadPicks(passOnly = true)
    assert(genes.keySet.filter(_._1 == 200L) == Set((200L, "T", "PASS")))
    assert(genes((200L, "T", "PASS")) == "DUP_PASS")
    // a key-based semi-join would keep DUP_FAIL's entry: the key survives
    assert(GraftDb.impacts(spark, out).filter("pos = 200")
      .select("symbol").collect().map(_.getString(0)).toSeq == Seq("DUP_PASS"))
    assert(GraftDb.impacts(spark, out).count() == 7)
  }

  test("in-row worst impact equals the denormalizeWorstImpact join on unique keys") {
    val dir = Files.createTempDirectory("worstref")
    val vcf = dir.resolve("in.vcf").toString
    Files.writeString(dir.resolve("in.vcf"), VcfFixture.lines.mkString("\n") + "\n")
    val inRow = graft.sources.VcfReader.forLoad(spark, vcf, passOnly = false)._2
      .drop(graft.sources.VcfReader.impactsColumn)
    val (_, v, i) = graft.sources.VcfReader.fromPath(spark, vcf)
    val joined = Vcf2Db.denormalizeWorstImpact(v, i)
    assert(inRow.schema == joined.schema)
    assert(inRow.count() == 5)
    assert(inRow.exceptAll(joined).count() == 0)
    assert(joined.exceptAll(inRow).count() == 0)
  }

  private val ped4 = "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
    "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n"

  /** The fixture's records `copies` times over, shifted in pos. */
  private def replicated(copies: Int): Vector[String] = {
    val (head, body) = VcfFixture.lines.partition(_.startsWith("#"))
    head ++ (0 until copies).flatMap(k => body.map { l =>
      val f = l.split("\t", -1)
      f.updated(1, (f(1).toLong + k * 1000L).toString).mkString("\t")
    })
  }

  /** Parquet files of one table of a database directory. */
  private def parquetFiles(table: String): Seq[java.io.File] =
    Option(new java.io.File(table).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))

  /** The distinct footer schemas of a table's files: parquet's own
    * message type (required/optional included) and the Spark schema
    * stored beside it.
    */
  private def footerSchemas(table: String): Set[(String, String)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(table).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), conf))
      try {
        val meta = reader.getFooter.getFileMetaData
        (meta.getSchema.toString,
          meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      } finally reader.close()
    }.toSet
  }

  /** Both databases hold the same tables, with the same footer schemas
    * and the same row multisets.
    */
  private def assertSameDb(a: String, b: String, label: String): Unit = {
    val tables = Seq("variants", "variant_impacts", "samples", "vcf_header")
    def present(d: String) = tables.filter(t => new java.io.File(s"$d/$t").isDirectory)
    assert(present(a) == present(b), s"$label: tables")
    present(a).foreach { t =>
      assert(footerSchemas(s"$a/$t") == footerSchemas(s"$b/$t"), s"$label: $t footer schema")
      val (x, y) = (spark.read.parquet(s"$a/$t"), spark.read.parquet(s"$b/$t"))
      assert(x.schema == y.schema, s"$label: $t schema")
      assert(x.count() == y.count(), s"$label: $t rows")
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$label: $t row multiset")
    }
  }

  /** The table-at-a-time parquet load, as the reference the one-job
    * write is held to: the load scan's variants, packed; its impacts
    * flattened from a second read of the same scan; the PED and header
    * tables from driver rows — each through its own DbSink.writeParquet.
    */
  private def perTableLoad(vcf: String, ped: Option[String], out: String,
      expand: Seq[String], passOnly: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    import graft.sinks.DbSink
    import graft.sources.{PedSource, VcfParser, VcfReader}
    val (header, scanned) = VcfReader.forLoad(spark, vcf, passOnly)
    val expandCols = for {
      f <- expand
      (name, i) <- header.samples.zipWithIndex
    } yield col(f).getItem(i).as(s"${f}_${VcfParser.sanitize(name)}")
    val expanded =
      if (expandCols.isEmpty) scanned
      else scanned.select(scanned.columns.map(c => scanned.col(s"`$c`")).toSeq ++ expandCols: _*)
    DbSink.writeParquet(Vcf2Db.packGenotypeBlobs(expanded).drop(VcfReader.impactsColumn),
      s"$out/variants")
    if (header.annKey.isDefined)
      DbSink.writeParquet(VcfReader.impactsOf(header, scanned), s"$out/variant_impacts")
    def local(name: String, schema: StructType, rows: Seq[Row]): Unit =
      DbSink.writeParquet(spark.createDataFrame(rows.asJava, schema), s"$out/$name", 1)
    ped.foreach { p =>
      val (schema, rows) = PedSource.parse(PedSource.lines(spark, p))
      local("samples", schema, rows)
    }
    local("vcf_header",
      StructType(Seq(StructField("line_no", IntegerType, nullable = false),
        StructField("line", StringType))),
      (header.rawLines :+ "##graft_blob_codec=zlib").zipWithIndex
        .map { case (l, i) => Row(i + 1, l) })
  }

  test("one-job parquet load writes the same tables as the table-at-a-time path") {
    val dir = Files.createTempDirectory("vcf2db_onejob")
    def input(name: String, lines: Seq[String]) = {
      val f = dir.resolve(name)
      Files.writeString(f, lines.mkString("\n") + "\n")
      f.toString
    }
    val fixture = input("fixture.vcf", VcfFixture.lines)
    val ped = Some(input("in.ped", Seq(ped4)))
    val plain = input("plain.vcf", Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ta\tb",
      "1\t5\t.\tA\tG\t.\tPASS\tDP=3\tGT\t0/1\t1/1"))
    val headerOnly = input("header.vcf", VcfFixture.lines.filter(_.startsWith("#")))
    val many = input("many.vcf", replicated(200))
    case class Case(label: String, vcf: String, ped: Option[String] = None,
        passOnly: Boolean = false, expand: Seq[String] = Nil)
    val cases = Seq(
      Case("with PED", fixture, ped),
      Case("without PED", fixture),
      Case("--passonly", fixture, ped, passOnly = true),
      Case("--expand", fixture, expand = Seq("gt_types", "gt_depths")),
      Case("unannotated", plain),
      Case("header only", headerOnly, ped),
      Case("multi-split", many, ped))
    withConf("spark.sql.files.maxPartitionBytes", Some("16384")) {
      cases.zipWithIndex.foreach { case (c, i) =>
        val perTable = dir.resolve(s"per$i").toString
        perTableLoad(c.vcf, c.ped, perTable, c.expand, c.passOnly)
        Seq(s"one$i" -> 0, s"sorted$i" -> 2).foreach { case (name, sorted) =>
          val out = dir.resolve(name).toString
          Vcf2Db.run(spark, c.vcf, c.ped, out, expand = c.expand,
            sortedOutput = sorted, passOnly = c.passOnly)
          assertSameDb(out, perTable, s"${c.label}, sortedOutput=$sorted")
        }
      }
    }
    val unannotated = dir.resolve(s"one${cases.indexWhere(_.label == "unannotated")}")
    assert(!Files.exists(unannotated.resolve("variant_impacts")))
    // a header-only VCF still writes every table, each with its schema
    val empty = dir.resolve(s"one${cases.indexWhere(_.label == "header only")}").toString
    Seq("variants", "variant_impacts", "samples", "vcf_header").foreach { t =>
      assert(parquetFiles(s"$empty/$t").nonEmpty, s"header only: no $t file")
    }
    assert(GraftDb.variants(spark, empty).isEmpty)
    assert(GraftDb.impacts(spark, empty).columns.contains("symbol"))
    assert(GraftDb.samples(spark, empty).count() == 4)
  }

  test("one-job parquet load: one Spark job, as many write tasks as scan splits") {
    val dir = Files.createTempDirectory("vcf2db_width")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, replicated(200).mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped, ped4)
    withConf("spark.sql.files.maxPartitionBytes", Some("8192")) {
      val splits = graft.sources.VcfReader.forLoad(spark, vcf.toString, passOnly = false)
        ._2.queryExecution.toRdd.getNumPartitions
      assert(splits > 8, s"want more splits than the default writerPartitions, got $splits")
      Seq(1, 8).foreach { width =>
        val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            tasks.merge(e.stageId, 1, _ + _)
        }
        spark.sparkContext.addSparkListener(listener)
        val out = dir.resolve(s"db$width").toString
        val (_, jobs) = try countingJobs(
          Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out, writerPartitions = width))
        finally spark.sparkContext.removeSparkListener(listener)
        assert(jobs == 1, s"writerPartitions=$width")
        assert(tasks.size == 1 && tasks.values.iterator.next() == splits,
          s"writerPartitions=$width: tasks per stage $tasks, scan splits $splits")
        assert(GraftDb.variants(spark, out).count() == 1000)
        assert(GraftDb.impacts(spark, out).count() == 1000)
        // the only commit marker is the database's own
        assert(Files.exists(dir.resolve(s"db$width/_SUCCESS")))
      }
    }
  }

  test("one-job parquet load: a failing task aborts the job and leaves no _temporary") {
    val dir = Files.createTempDirectory("vcf2db_abort")
    val vcf = dir.resolve("in.vcf")
    // a malformed POS past the first records: the task fails after it
    // has opened its files
    val lines = replicated(20)
    val bad = lines.indices.filterNot(i => lines(i).startsWith("#"))(50)
    Files.writeString(vcf, lines.updated(bad, lines(bad).replaceFirst("\t\\d+\t", "\tx\t"))
      .mkString("\n") + "\n")
    val ok = dir.resolve("ok.vcf")
    Files.writeString(ok, VcfFixture.lines.mkString("\n") + "\n")
    val out = dir.resolve("db")
    // an earlier database in the same place is replaced, never mixed in
    Vcf2Db.run(spark, ok.toString, None, out.toString)
    intercept[org.apache.spark.SparkException] {
      Vcf2Db.run(spark, vcf.toString, None, out.toString)
    }
    assert(!Files.exists(out.resolve("_temporary")))
    Seq("variants", "variant_impacts", "vcf_header").foreach(t =>
      assert(!Files.exists(out.resolve(t)), s"$t survived the aborted load"))
  }

  test("amendSamples replaces the stored PED, rejects a non-covering one") {
    val dir = Files.createTempDirectory("amend")
    val vcf = dir.resolve("in.vcf")
    Files.writeString(vcf, VcfFixture.lines.mkString("\n") + "\n")
    val ped = dir.resolve("in.ped")
    Files.writeString(ped,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 1\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    val out = dir.resolve("db").toString
    Vcf2Db.run(spark, vcf.toString, Some(ped.toString), out)
    assert(GraftDb.samples(spark, out)
      .filter("sample_id = 's2'").head().getAs[String]("phenotype") == "1")
    // corrected PED: s2 becomes affected
    val ped2 = dir.resolve("fixed.ped")
    Files.writeString(ped2,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\nfam1 s2 -9 -9 2 2\nfam1 s3 s1 s2 1 1\nfam1 s4 s1 s2 2 2\n")
    GraftDb.amendSamples(spark, out, ped2.toString)
    val amended = GraftDb.samples(spark, out)
    assert(amended.count() == 4)
    assert(amended.filter("sample_id = 's2'").head()
      .getAs[String]("phenotype") == "2")
    // genotyped cohort coverage is enforced
    val bad = dir.resolve("bad.ped")
    Files.writeString(bad,
      "#family_id sample_id paternal_id maternal_id sex phenotype\n" +
        "fam1 s1 -9 -9 1 2\n")
    intercept[IllegalArgumentException] {
      GraftDb.amendSamples(spark, out, bad.toString)
    }
    // a failed amend must not have clobbered the stored table
    assert(GraftDb.samples(spark, out).count() == 4)
  }
}
