package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.GraftFunctions.zlibPack
import graft.sources.VcfReader

/** The reference's ETL surface (SURVEY.md §2.2), Spark-first.
  *
  * VCF-specific behaviors (header-driven typing, CSQ expansion,
  * worst-impact selection, genotype stats, decompose) run the REAL
  * parser/reader over an embedded fixture whose expected output is a
  * literal `VALUES` oracle — sf-independent, bit-exact. Generic ETL
  * behaviors (JSON flattening, type inference, explode, dim joins, blob
  * packing) run over the driver testdata.
  */
object Etl {

  private def T(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ------------------------------------------------------------ VCF fixture

  /** 4-sample, 4-record (one multi-allelic) VCF exercising: typed INFO
    * (Integer/Float-A/Flag/String), VEP CSQ with 7 sub-fields, missing
    * values, per-alt decompose, and every genotype class.
    */
  object VcfFixture {
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total Depth\">",
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele Frequency\">",
      "##INFO=<ID=DB,Number=0,Type=Flag,Description=\"dbSNP membership\">",
      "##INFO=<ID=TYPE,Number=1,Type=String,Description=\"Variant type\">",
      "##INFO=<ID=ADI,Number=R,Type=Integer,Description=\"Allelic depths\">",
      "##INFO=<ID=PL,Number=G,Type=Integer,Description=\"Genotype likelihoods\">",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL|Gene|BIOTYPE|PolyPhen|SIFT\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">",
      "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "s1", "s2", "s3", "s4").mkString("\t"),
      Seq("1", "100", "rs1", "A", "G", "50.0", "PASS",
        "DP=10;AF=0.25;DB;ADI=30,12;PL=0,40,90;" +
          "CSQ=G|missense_variant|BRCA1|ENSG1|protein_coding|0.9|0.1," +
          "G|intron_variant|BRCA1|ENSG1|protein_coding||",
        "GT:DP:GQ:AD", "0/1:10:99:5,5", "0/0:12:80:12,0", "0/0:9:50:9,0",
        "1/1:7:20:0,7").mkString("\t"),
      Seq("1", "200", ".", "C", "T", "99.0", "PASS",
        "DP=20;AF=0.5;CSQ=T|stop_gained|TP53|ENSG2|protein_coding|0.99|0.0",
        "GT:DP:GQ:AD", "0/1:8:45:4,4", "0/1:9:60:5,4", "./.:0:.:0,0",
        "./.:0:.:0,0").mkString("\t"),
      Seq("2", "300", "rs3", "G", "A,T", ".", "q10",
        "DP=5;AF=0.5,0.25;ADI=20,8,5;PL=10,20,30,40,50,60;" +
          "CSQ=A|synonymous_variant|EGFR|ENSG3|protein_coding||," +
          "T|frameshift_variant|EGFR|ENSG3|protein_coding||",
        "GT", "1/2", "0/1", "2/2", "0/0").mkString("\t"),
      Seq("X", "400", ".", "T", "C", "10.5", ".", "AF=0.75;TYPE=snp",
        "GT", "1/1", "1/1", "0/1", "0/1").mkString("\t"))

    def variants(s: SparkSession): DataFrame = VcfReader.fromLines(s, lines)._2
    def impacts(s: SparkSession): DataFrame = VcfReader.fromLines(s, lines)._3

    /** The impacts table as a literal SQL VALUES relation (reused by the
      * e04/e10 oracles so e04's oracle re-derives worst-impact in SQL).
      */
    val impactsValues: String =
      """(VALUES
        | ('1', 100, 'A', 'G', 'G', 'missense_variant',  'BRCA1', 'ENSG1', 'protein_coding', '0.9',  '0.1', 12, 'MED'),
        | ('1', 100, 'A', 'G', 'G', 'intron_variant',    'BRCA1', 'ENSG1', 'protein_coding', '',     '',    24, 'LOW'),
        | ('1', 200, 'C', 'T', 'T', 'stop_gained',       'TP53',  'ENSG2', 'protein_coding', '0.99', '0.0',  3, 'HIGH'),
        | ('2', 300, 'G', 'A', 'A', 'synonymous_variant','EGFR',  'ENSG3', 'protein_coding', '',     '',    20, 'LOW'),
        | ('2', 300, 'G', 'T', 'T', 'frameshift_variant','EGFR',  'ENSG3', 'protein_coding', '',     '',     4, 'HIGH')
        |) i(chrom, pos, ref, alt, allele, consequence, symbol, gene, biotype, polyphen, sift, severity_rank, impact_severity)""".stripMargin

    /** Decomposed variants as a VALUES relation (e05/e09 oracles). */
    val variantsValues: String =
      """(VALUES
        | ('1', 100, 'rs1', 'A', 'G', 50.0, 'PASS', 10,   0.25, TRUE,  NULL,  1.0,  0.375, 2, 1, 1, 0),
        | ('1', 200, NULL,  'C', 'T', 99.0, 'PASS', 20,   0.5,  FALSE, NULL,  0.5,  0.5,   0, 2, 0, 2),
        | ('2', 300, 'rs3', 'G', 'A', NULL, 'q10',  5,    0.5,  FALSE, NULL,  1.0,  0.25,  2, 2, 0, 0),
        | ('2', 300, 'rs3', 'G', 'T', NULL, 'q10',  5,    0.25, FALSE, NULL,  1.0,  0.375, 2, 1, 1, 0),
        | ('X', 400, NULL,  'T', 'C', 10.5, NULL,   NULL, 0.75, FALSE, 'snp', 1.0,  0.75,  0, 2, 2, 0)
        |) v(chrom, pos, vid, ref, alt, qual, filter, dp, af, db, type, call_rate, aaf, num_hom_ref, num_het, num_hom_alt, num_unknown)""".stripMargin

    /** Per-sample genotype classes as a VALUES relation (e11/e12
      * oracles — hand-derived from the fixture's GT columns).
      */
    val gtValues: String =
      """(VALUES
        | ('1', 100, 'G', 1, 0, 0, 3),
        | ('1', 200, 'T', 1, 1, 2, 2),
        | ('2', 300, 'A', 1, 1, 0, 0),
        | ('2', 300, 'T', 1, 0, 3, 0),
        | ('X', 400, 'C', 3, 3, 1, 1)
        |) g(chrom, pos, alt, gt_s1, gt_s2, gt_s3, gt_s4)""".stripMargin

    /** Per-(variant, sample) FORMAT sub-fields as a VALUES relation
      * (e15's oracle re-derives the aggregates in SQL from this raw
      * long-form; -1 = missing, the reader's sentinel). Hand-derived
      * from the fixture's GT:DP:GQ:AD columns.
      */
    val gtFormatValues: String =
      """(VALUES
        | ('1', 100, 'G', 1, '0/1', 10, 99,  5, 5),
        | ('1', 100, 'G', 2, '0/0', 12, 80, 12, 0),
        | ('1', 100, 'G', 3, '0/0',  9, 50,  9, 0),
        | ('1', 100, 'G', 4, '1/1',  7, 20,  0, 7),
        | ('1', 200, 'T', 1, '0/1',  8, 45,  4, 4),
        | ('1', 200, 'T', 2, '0/1',  9, 60,  5, 4),
        | ('1', 200, 'T', 3, './.',  0, -1,  0, 0),
        | ('1', 200, 'T', 4, './.',  0, -1,  0, 0),
        | ('2', 300, 'A', 1, '1/2', -1, -1, -1, -1),
        | ('2', 300, 'A', 2, '0/1', -1, -1, -1, -1),
        | ('2', 300, 'A', 3, '2/2', -1, -1, -1, -1),
        | ('2', 300, 'A', 4, '0/0', -1, -1, -1, -1),
        | ('2', 300, 'T', 1, '1/2', -1, -1, -1, -1),
        | ('2', 300, 'T', 2, '0/1', -1, -1, -1, -1),
        | ('2', 300, 'T', 3, '2/2', -1, -1, -1, -1),
        | ('2', 300, 'T', 4, '0/0', -1, -1, -1, -1),
        | ('X', 400, 'C', 1, '1/1', -1, -1, -1, -1),
        | ('X', 400, 'C', 2, '1/1', -1, -1, -1, -1),
        | ('X', 400, 'C', 3, '0/1', -1, -1, -1, -1),
        | ('X', 400, 'C', 4, '0/1', -1, -1, -1, -1)
        |) f(chrom, pos, alt, sample_ix, gt, dp, gq, ref_d, alt_d)""".stripMargin

    /** Companion ANNOTATION VCF (dbSNP/ClinVar-style): sites-only (no
      * FORMAT/sample columns — the normal shape of an annotation
      * source), one multi-allelic record (CAF is Number=A, so each
      * decomposed alt keeps its own frequency), one record absent from
      * the cohort (must not leak through the join), and one cohort
      * variant absent here (X:400 — must survive a left join with NULL
      * annotation).
      */
    val annLines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=CAF,Number=A,Type=Float,Description=\"Allele frequency from population\">",
      "##INFO=<ID=CLNSIG,Number=1,Type=String,Description=\"Clinical significance\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
        "INFO").mkString("\t"),
      Seq("1", "100", "rs1", "A", "G", ".", ".",
        "CAF=0.12;CLNSIG=benign").mkString("\t"),
      Seq("1", "200", "rs77", "C", "T", ".", ".",
        "CAF=0.01;CLNSIG=pathogenic").mkString("\t"),
      Seq("2", "300", "rs3", "G", "A,T", ".", ".",
        "CAF=0.3,0.05").mkString("\t"),
      Seq("3", "500", "rs99", "T", "G", ".", ".",
        "CAF=0.2;CLNSIG=benign").mkString("\t"))

    /** Companion PED pedigree: one trio (s1 child of s2×s3) plus an
      * unrelated founder, exercising trio derivation from real PED text.
      */
    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "F1 s1 s2 s3 1 2",
      "F1 s2 0 0 1 1",
      "F1 s3 0 0 2 1",
      "F2 s4 0 0 1 1")

    /** Two-shard cohort for the e63 merge: DISJOINT sample sets, one
      * shared site (1:100, different QUAL/ID spellings), one site per
      * shard the other lacks (1:200 only in A; 2:300 — multi-allelic —
      * only in B), and asymmetric FORMAT (A carries DP, B GT-only) so
      * the missing-depth sentinel shows in the merge.
      */
    val shardALines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total Depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "s1", "s2").mkString("\t"),
      Seq("1", "100", "rs1", "A", "G", "50.0", "PASS", "DP=22",
        "GT:DP", "0/1:10", "0/0:12").mkString("\t"),
      Seq("1", "200", ".", "C", "T", "99.0", "PASS", "DP=17",
        "GT:DP", "0/1:8", "1/1:9").mkString("\t"))

    val shardBLines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total Depth\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "s5", "s6").mkString("\t"),
      Seq("1", "100", ".", "A", "G", "60.0", "q10", "DP=7",
        "GT", "1/1", "0/1").mkString("\t"),
      Seq("2", "300", "rs3", "G", "A,T", ".", "PASS", "DP=5",
        "GT", "1/2", "0/2").mkString("\t"))

    /** Hand-derived bcftools-merge expectation over shards A+B (merged
      * sample order s1,s2,s5,s6; gt classes 0=hom_ref 1=het 2=unknown
      * 3=hom_alt; -1 = missing depth): the e63 oracle relation.
      *  - 1:100 A>G: both shards carry it — vid/filter from shard A
      *    (lowest carrier), qual = max(50,60).
      *  - 1:200 C>T: only A → s5,s6 are "./." / class 2 / depth -1.
      *  - 2:300 G>A and G>T (decomposed): only B → s1,s2 missing; B has
      *    no DP FORMAT so every depth is -1; "1/2" is het for BOTH alts,
      *    "0/2" is hom_ref for alt A and het for alt T.
      */
    val mergedValues: String =
      """(VALUES
        | ('1', 100, 'rs1', 'A', 'G', 60.0, 'PASS',
        |   '0/1,0/0,1/1,0/1', '1,0,3,1', '10,12,-1,-1',
        |   1.0, 0.5, 1, 2, 1, 0),
        | ('1', 200, NULL, 'C', 'T', 99.0, 'PASS',
        |   '0/1,1/1,./.,./.', '1,3,2,2', '8,9,-1,-1',
        |   0.5, 0.75, 0, 1, 1, 2),
        | ('2', 300, 'rs3', 'G', 'A', CAST(NULL AS DOUBLE), 'PASS',
        |   './.,./.,1/2,0/2', '2,2,1,0', '-1,-1,-1,-1',
        |   0.5, 0.25, 1, 1, 0, 2),
        | ('2', 300, 'rs3', 'G', 'T', CAST(NULL AS DOUBLE), 'PASS',
        |   './.,./.,1/2,0/2', '2,2,1,1', '-1,-1,-1,-1',
        |   0.5, 0.5, 0, 2, 0, 2)
        |) m(chrom, pos, vid, ref, alt, qual, filter, gts_str,
        |    gt_types_str, gt_depths_str, call_rate, aaf, num_hom_ref,
        |    num_het, num_hom_alt, num_unknown)""".stripMargin
  }

  // ---------------------------------------------------------------- queries

  /** e01: INFO-style JSON flattening — every key of a semi-structured
    * column becomes a typed column (the reference turns each ##INFO key
    * into a typed variants column). Codegen JSON path, no shuffle.
    */
  def e01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "events")
      .select($"event_id", $"event_type", $"value",
        from_json($"props", lit("k INT")).getField("k").as("prop_k"))
      .orderBy($"event_id")
  }

  /** e02: header-driven type inference re-expressed: string columns are
    * coerced to their declared/inferred types (try_cast semantics for
    * unparseable values → NULL, like the reference's '.' handling).
    */
  def e02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", $"source",
        regexp_extract($"source", "([0-9]+)", 1).cast("int").as("src_num"),
        $"n_chars".cast("double").as("n_chars_d"),
        expr("try_cast(substring(text, 1, 2) AS INT)").as("bad_cast"))
      .orderBy($"doc_id")
  }

  /** e03: annotation expansion — `|`/` `-separated sub-records exploded
    * to one row per (parent, position, token) with posexplode; per-row
    * fan-out, embarrassingly parallel, no shuffle before the sort.
    */
  def e03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")))
      .toDF("doc_id", "pos", "token")
      .orderBy($"doc_id", $"pos")
  }

  /** e04: worst-impact selection — severity rank + row_number window,
    * keep rank 1 per variant (the reference denormalizes this row onto
    * `variants`).
    */
  def e04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"chrom", $"pos", $"ref", $"alt")
      .orderBy($"severity_rank", $"consequence")
    VcfFixture.impacts(s)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"chrom", $"pos", $"ref", $"alt", $"symbol", $"consequence",
        $"impact_severity")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e05: genotype summary stats computed DISTRIBUTED — gt_types exploded
    * to a (variant, gt) long table then conditionally aggregated, the
    * shape that scales to biobank sample counts (per-variant grouping =
    * one shuffle on the variant key).
    */
  def e05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .select($"chrom", $"pos", $"alt", explode($"gt_types").as("gt"))
      .groupBy($"chrom", $"pos", $"alt")
      .agg(
        (sum(when($"gt" =!= 2, 1).otherwise(0)).cast("double") / count(lit(1)))
          .as("call_rate"),
        // nullif guards the all-UNKNOWN variant (0 called samples) —
        // ANSI mode would otherwise raise DIVIDE_BY_ZERO
        (sum(when($"gt" === 1, 1).when($"gt" === 3, 2).otherwise(0)).cast("double") /
          nullif(sum(when($"gt" =!= 2, 1).otherwise(0)) * 2, lit(0))).as("aaf"),
        sum(when($"gt" === 0, 1).otherwise(0)).cast("int").as("num_hom_ref"),
        sum(when($"gt" === 1, 1).otherwise(0)).cast("int").as("num_het"),
        sum(when($"gt" === 3, 1).otherwise(0)).cast("int").as("num_hom_alt"),
        sum(when($"gt" === 2, 1).otherwise(0)).cast("int").as("num_unknown"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e06: multi-allelic decompose analog on testdata — one row per
    * exploded array element (the VCF-native decompose is exercised by
    * e09's fixture, which contains an ALT=A,T record).
    */
  def e06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "part")
      .select($"p_partkey", posexplode(split($"p_name", " ")))
      .toDF("p_partkey", "word_ix", "word")
      .orderBy($"p_partkey", $"word_ix")
  }

  /** e07: PED-style dim join — samples metadata joined through two
    * broadcast dims; the fact side never shuffles.
    */
  def e07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "customer")
      .join(broadcast(T(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(T(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey", $"c_name", $"n_name", $"r_name")
      .orderBy($"c_custkey")
  }

  /** e08 (rows-only): genotype-blob packing — per-group sorted int array
    * zlib-compressed by a custom Catalyst expression (the reference's
    * gt_types/gt_depths BLOB columns). Packing is per-row after ONE
    * per-key grouping; blobs never transit the driver.
    */
  def e08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    T(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list(struct($"l_linenumber",
        round($"l_quantity" * 100).cast("int").as("q")))).as("items"))
      .select($"l_orderkey",
        size($"items").as("n_items"),
        zlibPack(expr("transform(items, x -> x.q)")).as("qty_blob"))
      .orderBy($"l_orderkey")
  }

  /** e09: the VCF parse itself — header-driven typed columns, per-alt
    * decompose, genotype stats — via the real reader over the fixture.
    */
  def e09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .select($"chrom", $"pos", $"vid", $"ref", $"alt", $"qual", $"filter",
        $"dp", $"af", $"db", $"type", $"call_rate", $"aaf",
        $"num_hom_ref", $"num_het", $"num_hom_alt", $"num_unknown")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e10: CSQ → variant_impacts — one row per (variant-alt, annotation
    * entry), sub-field names from the header Description.
    */
  def e10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.impacts(s)
      .select($"chrom", $"pos", $"ref", $"alt", $"allele", $"consequence",
        $"symbol", $"gene", $"biotype", $"polyphen", $"sift",
        $"severity_rank", $"impact_severity")
      .orderBy($"chrom", $"pos", $"alt", $"severity_rank")
  }

  /** e11: the reference's `--expand` flag — per-sample genotype classes
    * materialized as real columns (gt_types[i] → gt_<sample>), names
    * taken from the header's #CHROM sample list.
    */
  def e11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    val sampleCols = h.samples.zipWithIndex.map { case (name, i) =>
      $"gt_types".getItem(i).as(s"gt_$name")
    }
    variants
      .select(Seq($"chrom", $"pos", $"alt") ++ sampleCols: _*)
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e12: GEMINI-style genotype-filter query over the expanded columns
    * — "variants where sample s1 is HET and the call rate clears a
    * threshold" (the wildcard gt-filter surface the reference's output
    * DB serves).
    */
  def e12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .filter($"gt_types".getItem(0) === 1 && $"call_rate" > 0.5)
      .select($"chrom", $"pos", $"alt", $"aaf")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e13: the reference's `vcf_header` table — the raw header stored
    * verbatim (line-numbered), queryable alongside variants/impacts.
    */
  def e13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = VcfReader.headerOf(VcfFixture.lines)
    h.rawLines.zipWithIndex
      .map { case (l, i) => (i + 1, l) }
      .toDF("line_no", "line")
      .orderBy($"line_no")
  }

  /** Gene/region intervals used by e14 (VALUES mirror in the oracle). */
  private val regionRows = Seq(
    ("1", 50L, 150L, "REG_A"), ("1", 150L, 250L, "REG_B"),
    ("2", 250L, 350L, "REG_C"), ("X", 1L, 1000L, "REG_X"))

  /** e14: region (interval) join — "variants inside gene regions", the
    * GEMINI region-query shape. Scalable strategy: positions bucket
    * into fixed-width bins, regions explode to the bins they cover,
    * the join runs on (chrom, bin) — an equi-join Catalyst can hash —
    * and the exact BETWEEN filters inside the bucket. Never a
    * chrom-only join (24 keys = guaranteed skew at 100 TB).
    */
  def e14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val regions = regionRows.toDF("r_chrom", "r_start", "r_end", "region")
    annotateIntervals(VcfFixture.variants(s), regions, binW = 100L)
      .select($"chrom", $"pos", $"alt", $"region")
      .orderBy($"chrom", $"pos", $"alt", $"region")
  }

  /** GEMINI `annotate`-style interval join, the general form behind
    * e14: label each variant with every overlapping region. Regions
    * must carry (r_chrom, r_start, r_end) — 1-based inclusive, e.g.
    * from [[graft.sources.BedSource]] — plus any payload columns.
    *
    * Scale shape: regions are a broadcastable dim (BED-sized), binned
    * by exploding over covered `binW`-wide bins so the join is an
    * EQUI-join on (chrom, bin) with an exact BETWEEN confirm — never a
    * chrom-only join (24 hot keys at cohort scale). `binW` trades
    * region-dim blow-up (a region spans len/binW bins) against
    * candidate selectivity; 100 kb suits gene-scale BEDs.
    */
  def annotateIntervals(variants: DataFrame, regions: DataFrame,
      binW: Long = 100000L): DataFrame = {
    val binned = regions.withColumn("r_bin",
      explode(expr(s"sequence(r_start div $binW, r_end div $binW)")))
    variants
      .withColumn("bin", expr(s"pos div $binW"))
      .join(broadcast(binned),
        col("chrom") === col("r_chrom") && col("bin") === col("r_bin") &&
          col("pos") >= col("r_start") && col("pos") <= col("r_end"))
      .drop("bin", "r_bin", "r_chrom")
  }

  /** GEMINI `annotate` from a VCF annotation source (dbSNP/ClinVar
    * style) — the most common annotation input in practice: exact
    * ALLELE-keyed left join on (chrom, pos, ref, alt), so a
    * multi-allelic annotation record matches only the decomposed alt it
    * describes (both sides pass through the same per-alt decompose).
    * `ann`'s payload columns are prefixed to dodge collisions with the
    * cohort's own INFO columns (both sides are real VCFs — DP/AF name
    * clashes are the norm, not the exception).
    *
    * Scale shape: unlike a BED dim, a dbSNP-scale annotation source is
    * CORPUS-sized (~1e9 sites) — deliberately NOT broadcast. The join
    * is an equi-join on the constant-width 4-part variant key, which
    * Catalyst shuffles on both sides (or broadcasts on its own when the
    * source is actually small — AQE decides from real sizes); the key
    * is position-uniform, so no salt is needed.
    */
  def annotateVcf(variants: DataFrame, ann: DataFrame,
      prefix: String = "ann_"): DataFrame = {
    val keys = Seq("chrom", "pos", "ref", "alt")
    val payload = ann.columns.filterNot(keys.contains)
    val dim = payload.foldLeft(ann)((df, c) => df.withColumnRenamed(c, prefix + c))
    variants.join(dim, keys, "left")
  }

  /** e53: the registered [[annotateVcf]] query — cohort fixture
    * annotated from the sites-only dbSNP-style fixture; rsID, per-alt
    * CAF, and CLNSIG land as typed columns, unmatched cohort rows keep
    * NULLs.
    */
  def e53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ann = VcfReader.fromLines(s, VcfFixture.annLines)._2
      .select($"chrom", $"pos", $"ref", $"alt", $"vid", $"caf", $"clnsig")
    annotateVcf(VcfFixture.variants(s), ann)
      .select($"chrom", $"pos", $"ref", $"alt",
        $"ann_vid".as("rsid"), $"ann_caf".as("caf"),
        $"ann_clnsig".as("clnsig"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e15: full FORMAT genotype arrays — DP/GQ/AD carried per sample as
    * typed arrays on variants (the reference's gt_depths / gt_quals /
    * gt_ref_depths / gt_alt_depths / gts blob contents), aggregated here
    * with codegen array lambdas; -1 = missing. The depth/quality filter
    * surface every gemini-style query needs.
    */
  def e15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .select($"chrom", $"pos", $"alt",
        expr("CAST(aggregate(gt_depths, 0, (a, x) -> a + greatest(x, 0)) AS BIGINT)")
          .as("depth_sum"),
        expr("CAST(size(filter(gt_depths, x -> x >= 0)) AS BIGINT)")
          .as("n_with_depth"),
        expr("array_min(filter(gt_quals, x -> x >= 0))").as("min_gq"),
        expr("CAST(aggregate(gt_alt_depths, 0, (a, x) -> a + greatest(x, 0)) AS BIGINT)")
          .as("alt_depth_sum"),
        concat_ws(",", $"gts").as("gts_str"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e16: Number=R/G INFO fields as TYPED ARRAYS with per-alt decompose
    * semantics — R keeps [ref, this-alt], G the [0/0, 0/alt, alt/alt]
    * diploid triple (index k(k+1)/2 + j) — where the reference degrades
    * both to TEXT. Absent fields → NULL arrays.
    */
  def e16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .select($"chrom", $"pos", $"alt",
        $"adi".getItem(0).as("adi_ref"), $"adi".getItem(1).as("adi_alt"),
        $"pl".getItem(0).as("pl_rr"), $"pl".getItem(1).as("pl_ra"),
        $"pl".getItem(2).as("pl_aa"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** Gene set for e28 — the exclusion list a gemini-style "variants
    * with no impact in gene set X" query takes as input. Shared
    * verbatim with the oracle.
    */
  private val e28GeneSet = Seq("BRCA1", "EGFR")

  /** e28: the SURVEY §1 downstream query quoted verbatim — "variants
    * with no impact in gene set X" — an ANTI-join of variants against
    * the impacts rows whose gene is in the set. Scale shape: the gene
    * set is a broadcast literal filter on impacts; the surviving
    * impact keys are bounded by the set's loci (dim-sized, broadcast
    * into the anti-join), so the variants corpus is one scan with no
    * shuffle.
    */
  def e28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inSet = VcfFixture.impacts(s)
      .filter($"symbol".isin(e28GeneSet: _*))
      .select($"chrom", $"pos", $"alt")
    VcfFixture.variants(s)
      .join(inSet, Seq("chrom", "pos", "alt"), "left_anti")
      .select($"chrom", $"pos", $"alt", $"aaf")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e17: GEMINI-style trio de-novo candidates — child HET while both
    * parents are HOM-REF — the flagship family-based query the
    * reference's output database serves (gemini's de_novo tool). The
    * trio dim (sample indexes from PED × header order) is BROADCAST
    * against the variants corpus and evaluated by per-row array
    * indexing: the fact side never shuffles and no per-sample explode
    * happens, so the identical plan holds at biobank scale (the
    * nested-loop is trio-dim × one corpus scan, the s01 shape).
    */
  def e17(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    trioDenovo(s, variants, h.samples, VcfFixture.pedLines)
  }

  /** General form of e17 over any parsed variants table + PED. */
  def trioDenovo(s: SparkSession, variants: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame = {
    import s.implicits._
    val trios = Inheritance.triosFromPed(s, headerSamples, pedLines)
    variants
      .join(broadcast(trios),
        element_at($"gt_types", $"c_ix") === 1 &&
          element_at($"gt_types", $"d_ix") === 0 &&
          element_at($"gt_types", $"m_ix") === 0)
      .select($"chrom", $"pos", $"alt", $"family_id", $"child",
        element_at($"gt_depths", $"c_ix").as("child_dp"),
        element_at($"gt_depths", $"d_ix").as("dad_dp"),
        element_at($"gt_depths", $"m_ix").as("mom_dp"))
      .orderBy($"chrom", $"pos", $"alt", $"child")
  }

  /** e20: transition/transversion ratio per chromosome — the first QC
    * stat run on any loaded cohort (gemini `stats --tstv`; ~2.0 genome
    * -wide / ~3.0 exome is the sanity band). Exact integer counts and
    * a single ratio division, one tiny partial-agg shuffle keyed on
    * chrom — scan-speed at cohort scale.
    */
  def e20(s: SparkSession, dir: String): DataFrame =
    tstv(s, VcfReader.fromLines(s, VcfFixture.lines)._2)

  private[operators] val tsExpr =
    "(ref = 'A' AND alt = 'G') OR (ref = 'G' AND alt = 'A') OR " +
      "(ref = 'C' AND alt = 'T') OR (ref = 'T' AND alt = 'C')"

  def tstv(s: SparkSession, variants: DataFrame): DataFrame = {
    import s.implicits._
    variants
      .filter(length($"ref") === 1 && length($"alt") === 1)
      .withColumn("is_ts", expr(tsExpr))
      .groupBy($"chrom")
      .agg(sum(when($"is_ts", 1L).otherwise(0L)).as("n_ts"),
        sum(when($"is_ts", 0L).otherwise(1L)).as("n_tv"))
      .withColumn("tstv",
        expr("round(CAST(n_ts AS DOUBLE) / nullif(n_tv, 0), 6)"))
      .orderBy($"chrom")
  }

  /** e21: per-gene impact burden — variants and impact rows per
    * (gene, severity), the unit of gemini's burden/gene-set queries.
    * One partial-agg shuffle on a (gene, severity) key; gene counts are
    * bounded (~20k human genes), so the aggregate output is dim-sized
    * no matter the cohort.
    */
  def e21(s: SparkSession, dir: String): DataFrame =
    geneBurden(s, VcfReader.fromLines(s, VcfFixture.lines)._3)

  /** The impacts table's gene-label column across annotators — VEP CSQ
    * writes `SYMBOL`, SnpEff ANN `Gene_Name`, BCFtools BCSQ `gene`
    * (sanitized names). NULL literal when the header declares none, so
    * gene-keyed queries degrade instead of crashing on a non-VEP db.
    */
  def geneCol(df: DataFrame): Column =
    Seq("symbol", "gene_name", "gene").find(df.columns.contains)
      .map(col).getOrElse(lit(null).cast("string"))

  /** Same resolution for the consequence-term column (VEP/BCSQ
    * `Consequence`, SnpEff `Annotation`).
    */
  def consequenceCol(df: DataFrame): Column =
    Seq("consequence", "annotation").find(df.columns.contains)
      .map(col).getOrElse(lit(null).cast("string"))

  def geneBurden(s: SparkSession, impacts: DataFrame): DataFrame = {
    import s.implicits._
    impacts
      .groupBy(geneCol(impacts).as("symbol"), $"impact_severity")
      .agg(count(lit(1)).as("n_impacts"),
        countDistinct($"chrom", $"pos", $"alt").as("n_variants"))
      .orderBy($"symbol", $"impact_severity")
  }

  /** ROH fixture: two samples over 10 decomposed sites engineered to
    * produce hom runs broken by hets, an uncalled site, and chrom
    * boundaries.
    */
  object RohFixture {
    val lines: Vector[String] = {
      val sites: Seq[(String, Int, String, String)] = Seq(
        ("1", 100, "0/0", "0/1"), ("1", 150, "1/1", "0/0"),
        ("1", 200, "0/0", "0/0"), ("1", 250, "0/1", "0/0"),
        ("1", 300, "0/0", "0/1"), ("1", 350, "0/0", "1/1"),
        ("1", 400, "./.", "1/1"), ("1", 450, "0/0", "0/1"),
        ("2", 500, "0/0", "0/1"), ("2", 550, "0/0", "1/1"))
      Vector(
        "##fileformat=VCFv4.2",
        "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
        Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
          "FORMAT", "sa", "sb").mkString("\t")) ++
        sites.map { case (c, p, ga, gb) =>
          Seq(c, p.toString, ".", "A", "G", "99", "PASS", ".", "GT", ga, gb)
            .mkString("\t")
        }
    }

    /** Long-form (sample, chrom, pos, gt-class) VALUES for the oracle —
      * hand-derived from the GT strings above (0/0→0, 0/1→1, ./.→2,
      * 1/1→3).
      */
    val gtLongValues: String =
      """(VALUES
        | ('sa','1',100,0),('sa','1',150,3),('sa','1',200,0),('sa','1',250,1),
        | ('sa','1',300,0),('sa','1',350,0),('sa','1',400,2),('sa','1',450,0),
        | ('sa','2',500,0),('sa','2',550,0),
        | ('sb','1',100,1),('sb','1',150,0),('sb','1',200,0),('sb','1',250,0),
        | ('sb','1',300,1),('sb','1',350,3),('sb','1',400,3),('sb','1',450,1),
        | ('sb','2',500,1),('sb','2',550,3)
        |) rg(sample, chrom, pos, gt)""".stripMargin
  }

  /** e23: runs of homozygosity — per (sample, chrom), maximal stretches
    * of consecutive hom calls (gt 0 or 3; het and uncalled both break a
    * run) of ≥ minSites sites. Gaps-and-islands via two row_numbers —
    * the window keys on (sample, chrom), which at biobank scale is
    * millions of independent partitions; per-key data is one sample's
    * sites on one chromosome, the inherent unit of the computation.
    *
    * Decomposed multiallelics are collapsed to ONE row per physical
    * site first (site class = max over its alt rows: 2/2 splits into
    * (0, 3) → hom-alt 3, 1/2 into two hets → 1), so per-alt rows never
    * double-count run length and the row_number order is total.
    */
  def e23(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, RohFixture.lines)
    roh(s, variants, h.samples, minSites = 2)
  }

  def roh(s: SparkSession, variants: DataFrame, samples: Seq[String],
      minSites: Int): DataFrame = {
    import s.implicits._
    val wAll = Window.partitionBy($"sample", $"chrom").orderBy($"pos")
    val g = variants
      .select($"chrom", $"pos", posexplode($"gt_types").as(Seq("i", "gt")))
      .withColumn("sample", element_at(typedLit(samples), $"i" + 1))
      .groupBy($"sample", $"chrom", $"pos").agg(max($"gt").as("gt"))
    g.withColumn("rn", row_number().over(wAll))
      .filter($"gt".isin(0, 3))
      .withColumn("rn2", row_number().over(wAll))
      .groupBy($"sample", $"chrom", ($"rn" - $"rn2").as("grp"))
      .agg(min($"pos").as("start_pos"), max($"pos").as("end_pos"),
        count(lit(1)).as("n_sites"))
      .filter($"n_sites" >= minSites)
      .select($"sample", $"chrom", $"start_pos", $"end_pos", $"n_sites")
      .orderBy($"sample", $"chrom", $"start_pos")
  }

  /** e24: per-sample genotype QC (gemini-style sample stats) — call
    * counts by class, call rate, and singleton count (variants where
    * the sample is the ONLY alt carrier). Carrier counts come from the
    * un-exploded array (one codegen filter per variant), then one
    * explode + one partial-agg shuffle keyed on the sample — output is
    * sample-dim-sized at any cohort scale.
    */
  def e24(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    sampleQc(s, variants, h.samples)
  }

  def sampleQc(s: SparkSession, variants: DataFrame,
      samples: Seq[String]): DataFrame = {
    import s.implicits._
    variants
      .withColumn("n_carriers", expr("size(filter(gt_types, x -> x IN (1, 3)))"))
      .select($"n_carriers", posexplode($"gt_types").as(Seq("i", "gt")))
      .withColumn("sample", element_at(typedLit(samples), $"i" + 1))
      .groupBy($"sample")
      .agg(count(lit(1)).as("n_sites"),
        sum(when($"gt" =!= 2, 1L).otherwise(0L)).as("n_called"),
        sum(when($"gt" === 0, 1L).otherwise(0L)).as("n_hom_ref"),
        sum(when($"gt" === 1, 1L).otherwise(0L)).as("n_het"),
        sum(when($"gt" === 3, 1L).otherwise(0L)).as("n_hom_alt"),
        sum(when($"gt".isin(1, 3) && $"n_carriers" === 1, 1L).otherwise(0L))
          .as("n_singletons"))
      .withColumn("call_rate",
        expr("CAST(n_called AS DOUBLE) / CAST(n_sites AS DOUBLE)"))
      .select($"sample", $"n_sites", $"n_called", $"n_hom_ref", $"n_het",
        $"n_hom_alt", $"n_singletons", $"call_rate")
      .orderBy($"sample")
  }

  /** The HWE/inbreeding arithmetic over genotype-class counts, shared
    * VERBATIM between the Spark plan and the DuckDB oracle: identical
    * IEEE operation order makes the doubles bit-identical in both
    * engines, so no rounding is needed. Expects integer columns
    * n_aa_ref (hom-ref), n_het, n_aa_alt (hom-alt) in scope.
    */
  private val hweSqlCols: Seq[(String, String)] = Seq(
    "n_called" -> "(n_aa_ref + n_het + n_aa_alt)",
    "p_ref" -> ("(CAST(2 * n_aa_ref + n_het AS DOUBLE) / " +
      "CAST(2 * (n_aa_ref + n_het + n_aa_alt) AS DOUBLE))"),
    "hwe_chi2" ->
      ("""(CASE WHEN p_ref > 0.0e0 AND p_ref < 1.0e0 THEN
         |  (CAST(n_aa_ref AS DOUBLE) - CAST(n_called AS DOUBLE) * p_ref * p_ref)
         |    * (CAST(n_aa_ref AS DOUBLE) - CAST(n_called AS DOUBLE) * p_ref * p_ref)
         |    / (CAST(n_called AS DOUBLE) * p_ref * p_ref)
         |  + (CAST(n_het AS DOUBLE) - CAST(n_called AS DOUBLE) * 2.0e0 * p_ref * (1.0e0 - p_ref))
         |    * (CAST(n_het AS DOUBLE) - CAST(n_called AS DOUBLE) * 2.0e0 * p_ref * (1.0e0 - p_ref))
         |    / (CAST(n_called AS DOUBLE) * 2.0e0 * p_ref * (1.0e0 - p_ref))
         |  + (CAST(n_aa_alt AS DOUBLE) - CAST(n_called AS DOUBLE) * (1.0e0 - p_ref) * (1.0e0 - p_ref))
         |    * (CAST(n_aa_alt AS DOUBLE) - CAST(n_called AS DOUBLE) * (1.0e0 - p_ref) * (1.0e0 - p_ref))
         |    / (CAST(n_called AS DOUBLE) * (1.0e0 - p_ref) * (1.0e0 - p_ref))
         |  ELSE NULL END)""".stripMargin),
    "inbreeding_f" ->
      ("""(CASE WHEN p_ref > 0.0e0 AND p_ref < 1.0e0 THEN
         |  1.0e0 - (CAST(n_het AS DOUBLE) / CAST(n_called AS DOUBLE))
         |    / (2.0e0 * p_ref * (1.0e0 - p_ref))
         |  ELSE NULL END)""".stripMargin))

  /** e30: per-variant Hardy-Weinberg chi-square and inbreeding
    * coefficient — the pop-gen QC columns a GEMINI-style variants
    * table carries (hwe, inbreeding_coeff), computed from the same
    * genotype-class counts as e05. Counts come straight off the
    * packed gt_types array (one codegen size/filter per class, no
    * per-sample explode), the statistics are per-row double
    * arithmetic — scan-speed at cohort scale, and the fixed
    * monomorphic guard (p in {0,1} → NULL) is engine-portable.
    * Chi-square STATISTIC, not p-value: the statistic is exact IEEE
    * arithmetic both engines agree on bit-for-bit; a p-value needs
    * erfc, which DuckDB lacks (downstream can threshold the statistic
    * at 3.841 for α=0.05, df=1).
    */
  def e30(s: SparkSession, dir: String): DataFrame =
    hwe(s, VcfFixture.variants(s))

  def hwe(s: SparkSession, variants: DataFrame): DataFrame = {
    import s.implicits._
    var df = variants.select($"chrom", $"pos", $"alt",
      expr("size(filter(gt_types, x -> x = 0))").as("n_aa_ref"),
      expr("size(filter(gt_types, x -> x = 1))").as("n_het"),
      expr("size(filter(gt_types, x -> x = 3))").as("n_aa_alt"))
    hweSqlCols.foreach { case (n, e) => df = df.withColumn(n, expr(e)) }
    df.select($"chrom", $"pos", $"alt", $"n_called", $"p_ref",
        $"hwe_chi2", $"inbreeding_f")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e29: gemini `windower` re-expressed on testdata — sliding-window
    * aggregation (window 1h, step 15min, so every row lands in exactly
    * 4 overlapping windows) over the events timeline per event_type,
    * the same shape as windower's per-chromosome sliding position
    * windows. Spark's `window(ts, w, s)` expands rows w/s-fold BEFORE
    * one partial-agg shuffle keyed on (window, type); the expansion
    * factor is the bounded w/s ratio, the output is timeline/step ×
    * types-sized, and no window ever materializes its member rows —
    * at cohort scale this is a scan plus a dim-sized aggregate.
    */
  def e29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum($"value".cast(DecimalType(18, 2)))
          .cast(DecimalType(38, 2)).cast("double").as("sum_value"))
      .select($"w.start".as("ws"), $"w.end".as("we"), $"event_type",
        $"n_events", $"n_users", $"sum_value")
      .orderBy($"ws", $"event_type")
  }

  /** e63: COHORT MERGE — bcftools-merge semantics over per-sample VCF
    * shards (union of decomposed sites, merged sample order = shard
    * order, absent shard → "./." missing genotypes, stats recomputed
    * over the merged cohort): the ETL step that PRODUCES the pre-merged
    * cohort VCF the reference assumes as its input. Runs the real
    * parser + `VcfReader.mergeVariants` over the two embedded shards;
    * the oracle is the hand-derived merged relation. One constant-width
    * key shuffle at any cohort size (see mergeVariants' scaladoc).
    */
  def e63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = VcfReader.fromLines(s, VcfFixture.shardALines)
    val b = VcfReader.fromLines(s, VcfFixture.shardBLines)
    val (_, merged) = VcfReader.mergeVariants(Seq((a._1, a._2), (b._1, b._2)))
    // Array columns are stringified (e15's discipline) so the driver's
    // pandas row-sort never sees a raw ndarray cell.
    merged.select($"chrom", $"pos", $"vid", $"ref", $"alt", $"qual",
        $"filter",
        concat_ws(",", $"gts").as("gts_str"),
        concat_ws(",", $"gt_types".cast("array<string>")).as("gt_types_str"),
        concat_ws(",", $"gt_depths".cast("array<string>")).as("gt_depths_str"),
        $"call_rate",
        $"aaf", $"num_hom_ref", $"num_het", $"num_hom_alt", $"num_unknown")
      .orderBy($"chrom", $"pos", $"alt")
  }

  // ----------------------------------------------------------------- oracle

  private val variantsSelect =
    """SELECT CAST(chrom AS VARCHAR) AS chrom, CAST(pos AS BIGINT) AS pos,
      | CAST(vid AS VARCHAR) AS vid, CAST(ref AS VARCHAR) AS ref,
      | CAST(alt AS VARCHAR) AS alt, CAST(qual AS DOUBLE) AS qual,
      | CAST(filter AS VARCHAR) AS filter, CAST(dp AS INTEGER) AS dp,
      | CAST(af AS DOUBLE) AS af, CAST(db AS BOOLEAN) AS db,
      | CAST(type AS VARCHAR) AS type,
      | CAST(call_rate AS DOUBLE) AS call_rate, CAST(aaf AS DOUBLE) AS aaf,
      | CAST(num_hom_ref AS INTEGER) AS num_hom_ref,
      | CAST(num_het AS INTEGER) AS num_het,
      | CAST(num_hom_alt AS INTEGER) AS num_hom_alt,
      | CAST(num_unknown AS INTEGER) AS num_unknown
      |FROM """.stripMargin

  val oracle: Map[String, String] = Map(
    "e53_annotate_vcf" ->
      s"""SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.ref, v.alt,
         | a.rsid, CAST(a.caf AS DOUBLE) AS caf, a.clnsig
         |FROM ${VcfFixture.variantsValues}
         |LEFT JOIN (VALUES
         | ('1', 100, 'A', 'G', 'rs1', 0.12, 'benign'),
         | ('1', 200, 'C', 'T', 'rs77', 0.01, 'pathogenic'),
         | ('2', 300, 'G', 'A', 'rs3', 0.30, NULL),
         | ('2', 300, 'G', 'T', 'rs3', 0.05, NULL),
         | ('3', 500, 'T', 'G', 'rs99', 0.20, 'benign')
         |) a(chrom, pos, ref, alt, rsid, caf, clnsig)
         |  ON a.chrom = v.chrom AND a.pos = v.pos
         | AND a.ref = v.ref AND a.alt = v.alt
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e30_hwe" -> {
      val (c1, c2) = hweSqlCols.splitAt(2)
      def sel(cols: Seq[(String, String)], from: String) =
        s"SELECT *, ${cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")} FROM $from"
      s"""WITH base AS (SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         |  num_hom_ref AS n_aa_ref, num_het AS n_het, num_hom_alt AS n_aa_alt
         |  FROM ${VcfFixture.variantsValues}),
         |s1 AS (${sel(c1, "base")}),
         |s2 AS (${sel(c2, "s1")})
         |SELECT chrom, pos, alt, n_called, p_ref, hwe_chi2, inbreeding_f
         |FROM s2 ORDER BY chrom, pos, alt""".stripMargin
    },
    "e29_windower" ->
      // sliding 1h/15min windows: every event belongs to exactly the 4
      // epoch-aligned 15-min starts at/before it (time_bucket - k*15min)
      """WITH exp AS (SELECT
        |  time_bucket(INTERVAL '15 minutes', ts)
        |    - CAST(k AS INT) * INTERVAL '15 minutes' AS ws,
        |  event_type, user_id, value
        |  FROM events CROSS JOIN range(0, 4) t(k))
        |SELECT ws, ws + INTERVAL '1 hour' AS we, event_type,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
        |FROM exp GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "e01_flatten_info" ->
      """SELECT event_id, event_type, value,
        | CAST(props->>'$.k' AS INTEGER) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,
    "e02_type_inference" ->
      """SELECT doc_id, source,
        | CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) AS src_num,
        | CAST(n_chars AS DOUBLE) AS n_chars_d,
        | TRY_CAST(substr(text, 1, 2) AS INTEGER) AS bad_cast
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e03_annotation_expand" ->
      """SELECT doc_id, i-1 AS pos, parts[i] AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) t
        |CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) u
        |ORDER BY doc_id, pos""".stripMargin,
    "e04_worst_impact" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, ref, alt, symbol,
         | consequence, impact_severity
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chrom, pos, ref, alt
         |        ORDER BY severity_rank, consequence) AS rn
         |      FROM ${VcfFixture.impactsValues})
         |WHERE rn = 1 ORDER BY chrom, pos, alt""".stripMargin,
    "e05_genotype_stats" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | CAST(call_rate AS DOUBLE) AS call_rate, CAST(aaf AS DOUBLE) AS aaf,
         | CAST(num_hom_ref AS INTEGER) AS num_hom_ref,
         | CAST(num_het AS INTEGER) AS num_het,
         | CAST(num_hom_alt AS INTEGER) AS num_hom_alt,
         | CAST(num_unknown AS INTEGER) AS num_unknown
         |FROM ${VcfFixture.variantsValues}
         |ORDER BY chrom, pos, alt""".stripMargin,
    "e06_multiallelic_decompose" ->
      """SELECT p_partkey, i-1 AS word_ix, parts[i] AS word
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS parts FROM part) t
        |CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) u
        |ORDER BY p_partkey, word_ix""".stripMargin,
    "e07_samples_ped_join" ->
      """SELECT c_custkey, c_name, n_name, r_name
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin,
    // e08_pack_blob: rows-only (zlib blobs are not ANSI-SQL-expressible)
    "e63_cohort_merge" ->
      s"""SELECT chrom, pos, vid, ref, alt,
         | CAST(qual AS DOUBLE) AS qual, filter, gts_str, gt_types_str,
         | gt_depths_str, CAST(call_rate AS DOUBLE) AS call_rate,
         | CAST(aaf AS DOUBLE) AS aaf, num_hom_ref, num_het, num_hom_alt,
         | num_unknown
         |FROM ${VcfFixture.mergedValues}
         |ORDER BY chrom, pos, alt""".stripMargin,
    "e09_vcf_parse" ->
      s"""$variantsSelect${VcfFixture.variantsValues}
         |ORDER BY chrom, pos, alt""".stripMargin,
    "e20_tstv" ->
      s"""SELECT chrom,
         | CAST(SUM(CASE WHEN ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
         | CAST(SUM(CASE WHEN ts THEN 0 ELSE 1 END) AS BIGINT) AS n_tv,
         | round(CAST(SUM(CASE WHEN ts THEN 1 ELSE 0 END) AS DOUBLE)
         |   / nullif(SUM(CASE WHEN ts THEN 0 ELSE 1 END), 0), 6) AS tstv
         |FROM (SELECT chrom, ($tsExpr) AS ts
         |      FROM ${VcfFixture.variantsValues}
         |      WHERE length(ref) = 1 AND length(alt) = 1)
         |GROUP BY chrom ORDER BY chrom""".stripMargin,
    "e21_gene_burden" ->
      s"""SELECT symbol, impact_severity,
         | CAST(count(*) AS BIGINT) AS n_impacts,
         | CAST(count(DISTINCT chrom || '|' || CAST(pos AS VARCHAR) || '|' || alt) AS BIGINT) AS n_variants
         |FROM ${VcfFixture.impactsValues}
         |GROUP BY symbol, impact_severity
         |ORDER BY symbol, impact_severity""".stripMargin,
    "e23_roh" ->
      s"""WITH a AS (SELECT sample, chrom, pos, gt,
         |  ROW_NUMBER() OVER (PARTITION BY sample, chrom ORDER BY pos) AS rn
         | FROM ${RohFixture.gtLongValues}),
         |h AS (SELECT *,
         |  ROW_NUMBER() OVER (PARTITION BY sample, chrom ORDER BY pos) AS rn2
         | FROM a WHERE gt IN (0, 3))
         |SELECT sample, chrom, CAST(min(pos) AS BIGINT) AS start_pos,
         | CAST(max(pos) AS BIGINT) AS end_pos, CAST(count(*) AS BIGINT) AS n_sites
         |FROM h GROUP BY sample, chrom, rn - rn2
         |HAVING count(*) >= 2
         |ORDER BY sample, chrom, start_pos""".stripMargin,
    "e24_sample_qc" ->
      s"""WITH gg AS (
         | SELECT chrom, pos, alt, 1 AS six, gt_s1 AS gt FROM ${VcfFixture.gtValues}
         | UNION ALL SELECT chrom, pos, alt, 2, gt_s2 FROM ${VcfFixture.gtValues}
         | UNION ALL SELECT chrom, pos, alt, 3, gt_s3 FROM ${VcfFixture.gtValues}
         | UNION ALL SELECT chrom, pos, alt, 4, gt_s4 FROM ${VcfFixture.gtValues}),
         |carr AS (SELECT chrom, pos, alt,
         |  SUM(CASE WHEN gt IN (1, 3) THEN 1 ELSE 0 END) AS nc
         | FROM gg GROUP BY chrom, pos, alt)
         |SELECT 's' || CAST(six AS VARCHAR) AS sample,
         | CAST(count(*) AS BIGINT) AS n_sites,
         | CAST(SUM(CASE WHEN gt <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_called,
         | CAST(SUM(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
         | CAST(SUM(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
         | CAST(SUM(CASE WHEN gt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt,
         | CAST(SUM(CASE WHEN gt IN (1, 3) AND nc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
         | CAST(SUM(CASE WHEN gt <> 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS call_rate
         |FROM gg JOIN carr USING (chrom, pos, alt)
         |GROUP BY six ORDER BY sample""".stripMargin,
    "e10_csq_impacts" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, ref, alt, allele,
         | consequence, symbol, gene, biotype, polyphen, sift,
         | CAST(severity_rank AS INTEGER) AS severity_rank, impact_severity
         |FROM ${VcfFixture.impactsValues}
         |ORDER BY chrom, pos, alt, severity_rank""".stripMargin,
    "e11_expand_gt" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | CAST(gt_s1 AS INTEGER) AS gt_s1, CAST(gt_s2 AS INTEGER) AS gt_s2,
         | CAST(gt_s3 AS INTEGER) AS gt_s3, CAST(gt_s4 AS INTEGER) AS gt_s4
         |FROM ${VcfFixture.gtValues}
         |ORDER BY chrom, pos, alt""".stripMargin,
    "e12_gt_filter" ->
      s"""SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | CAST(v.aaf AS DOUBLE) AS aaf
         |FROM ${VcfFixture.variantsValues}
         |JOIN ${VcfFixture.gtValues}
         |  ON v.chrom = g.chrom AND v.pos = g.pos AND v.alt = g.alt
         |WHERE g.gt_s1 = 1 AND v.call_rate > 0.5
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e28_gene_set_antijoin" ->
      s"""SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | CAST(v.aaf AS DOUBLE) AS aaf
         |FROM ${VcfFixture.variantsValues}
         |WHERE NOT EXISTS (SELECT 1 FROM ${VcfFixture.impactsValues}
         |  WHERE i.chrom = v.chrom AND i.pos = v.pos AND i.alt = v.alt
         |    AND i.symbol IN (${e28GeneSet.map(g => s"'$g'").mkString(", ")}))
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e14_region_join" -> {
      val rvals = regionRows
        .map { case (c, a, b, n) => s"('$c', $a, $b, '$n')" }.mkString(",\n ")
      s"""SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt, r.region
         |FROM ${VcfFixture.variantsValues}
         |JOIN (VALUES
         | $rvals
         |) r(r_chrom, r_start, r_end, region)
         |  ON v.chrom = r.r_chrom AND v.pos BETWEEN r.r_start AND r.r_end
         |ORDER BY v.chrom, v.pos, v.alt, r.region""".stripMargin
    },
    "e15_format_arrays" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | CAST(SUM(CASE WHEN dp >= 0 THEN dp ELSE 0 END) AS BIGINT) AS depth_sum,
         | CAST(SUM(CASE WHEN dp >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_depth,
         | CAST(MIN(CASE WHEN gq >= 0 THEN gq END) AS INTEGER) AS min_gq,
         | CAST(SUM(CASE WHEN alt_d >= 0 THEN alt_d ELSE 0 END) AS BIGINT) AS alt_depth_sum,
         | STRING_AGG(gt, ',' ORDER BY sample_ix) AS gts_str
         |FROM ${VcfFixture.gtFormatValues}
         |GROUP BY 1, 2, 3
         |ORDER BY chrom, pos, alt""".stripMargin,
    "e16_info_arrays" ->
      """SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
        | CAST(adi_ref AS INTEGER) AS adi_ref, CAST(adi_alt AS INTEGER) AS adi_alt,
        | CAST(pl_rr AS INTEGER) AS pl_rr, CAST(pl_ra AS INTEGER) AS pl_ra,
        | CAST(pl_aa AS INTEGER) AS pl_aa
        |FROM (VALUES
        | ('1', 100, 'G', 30, 12, 0, 40, 90),
        | ('1', 200, 'T', NULL, NULL, NULL, NULL, NULL),
        | ('2', 300, 'A', 20, 8, 10, 20, 30),
        | ('2', 300, 'T', 20, 5, 10, 40, 60),
        | ('X', 400, 'C', NULL, NULL, NULL, NULL, NULL)
        |) v(chrom, pos, alt, adi_ref, adi_alt, pl_rr, pl_ra, pl_aa)
        |ORDER BY chrom, pos, alt""".stripMargin,
    "e17_trio_denovo" ->
      s"""SELECT g.chrom, CAST(g.pos AS BIGINT) AS pos, g.alt,
         | t.family_id, t.child,
         | CAST(fc.dp AS INTEGER) AS child_dp,
         | CAST(fd.dp AS INTEGER) AS dad_dp,
         | CAST(fm.dp AS INTEGER) AS mom_dp
         |FROM ${VcfFixture.gtValues}
         |JOIN (VALUES ('F1', 's1', 1, 2, 3)) t(family_id, child, c_ix, d_ix, m_ix) ON TRUE
         |JOIN (SELECT * FROM ${VcfFixture.gtFormatValues}) fc
         |  ON fc.chrom = g.chrom AND fc.pos = g.pos AND fc.alt = g.alt AND fc.sample_ix = t.c_ix
         |JOIN (SELECT * FROM ${VcfFixture.gtFormatValues}) fd
         |  ON fd.chrom = g.chrom AND fd.pos = g.pos AND fd.alt = g.alt AND fd.sample_ix = t.d_ix
         |JOIN (SELECT * FROM ${VcfFixture.gtFormatValues}) fm
         |  ON fm.chrom = g.chrom AND fm.pos = g.pos AND fm.alt = g.alt AND fm.sample_ix = t.m_ix
         |WHERE CASE t.c_ix WHEN 1 THEN g.gt_s1 WHEN 2 THEN g.gt_s2 WHEN 3 THEN g.gt_s3 ELSE g.gt_s4 END = 1
         |  AND CASE t.d_ix WHEN 1 THEN g.gt_s1 WHEN 2 THEN g.gt_s2 WHEN 3 THEN g.gt_s3 ELSE g.gt_s4 END = 0
         |  AND CASE t.m_ix WHEN 1 THEN g.gt_s1 WHEN 2 THEN g.gt_s2 WHEN 3 THEN g.gt_s3 ELSE g.gt_s4 END = 0
         |ORDER BY g.chrom, g.pos, g.alt, t.child""".stripMargin,
    "e13_vcf_header" -> {
      val rows = VcfFixture.lines.takeWhile(_.startsWith("#")).zipWithIndex
        .map { case (l, i) => s"(${i + 1}, '${l.replace("'", "''")}')" }
        .mkString(",\n ")
      s"""SELECT CAST(line_no AS INTEGER) AS line_no, line
         |FROM (VALUES
         | $rows
         |) h(line_no, line)
         |ORDER BY line_no""".stripMargin
    }
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_flatten_info" -> (e01 _),
    "e02_type_inference" -> (e02 _),
    "e03_annotation_expand" -> (e03 _),
    "e04_worst_impact" -> (e04 _),
    "e05_genotype_stats" -> (e05 _),
    "e06_multiallelic_decompose" -> (e06 _),
    "e07_samples_ped_join" -> (e07 _),
    "e08_pack_blob" -> (e08 _),
    "e09_vcf_parse" -> (e09 _),
    "e10_csq_impacts" -> (e10 _),
    "e11_expand_gt" -> (e11 _),
    "e12_gt_filter" -> (e12 _),
    "e13_vcf_header" -> (e13 _),
    "e14_region_join" -> (e14 _),
    "e15_format_arrays" -> (e15 _),
    "e16_info_arrays" -> (e16 _),
    "e17_trio_denovo" -> (e17 _),
    "e20_tstv" -> (e20 _),
    "e21_gene_burden" -> (e21 _),
    "e23_roh" -> (e23 _),
    "e24_sample_qc" -> (e24 _),
    "e28_gene_set_antijoin" -> (e28 _),
    "e29_windower" -> (e29 _),
    "e30_hwe" -> (e30 _),
    "e53_annotate_vcf" -> (e53 _),
    "e63_cohort_merge" -> (e63 _)
  )
}
