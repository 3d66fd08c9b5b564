package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.sources.{PedSource, VcfReader}

/** GEMINI-style family-inheritance queries (SURVEY.md §1: the downstream
  * query capability the reference's output database is built for —
  * gemini's de_novo / autosomal_recessive / mendel_errors / comp_hets
  * tools), re-expressed as Spark plans over the parsed variants +
  * impacts tables.
  *
  * Scale shape shared by every family tool: one trio dim ([[trios]]:
  * child/dad/mom sample indexes, child sex and trio phenotypes, derived
  * on the driver from PED-shaped rows × header sample order into a
  * local relation) is BROADCAST against the variants corpus and
  * evaluated with per-row gt-array indexing — no per-sample explode,
  * the fact side never shuffles for the classification itself. Only
  * comp-het adds a shuffle, keyed on (family, gene) — the
  * candidate-pair key, exactly where a shuffle is semantically required
  * (same bucketing discipline as d02/d04). Each tool has a PED-text
  * form and a `(variants, trios)` core that GraftDb calls with the
  * trios of a loaded database's `samples` table.
  *
  * Autosomal semantics only (GEMINI ships separate X-linked tools).
  */
object Inheritance {

  /** Trio fixture: one family (child c of f×m), 8 single-alt variants
    * across 3 genes engineered to exercise every inheritance class:
    * de novo, recessive candidate, two mendel-error shapes, a comp-het
    * pair (one HET from each parent in GENE_A), a plain inherited HET,
    * and an uncalled child.
    */
  object TrioFixture {
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL\">",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "c", "f", "m").mkString("\t"),
      row("1", 1000, "A", "G", "G|missense_variant|GENE_A", "0/1:30", "0/0:40", "0/0:35"),
      row("1", 2000, "C", "T", "T|missense_variant|GENE_A", "0/1:25", "0/1:33", "0/0:28"),
      row("1", 3000, "G", "A", "A|stop_gained|GENE_A", "0/1:22", "0/0:31", "0/1:27"),
      row("2", 500, "T", "C", "C|missense_variant|GENE_B", "1/1:28", "0/1:36", "0/1:30"),
      row("2", 600, "A", "C", "C|missense_variant|GENE_B", "1/1:26", "0/0:38", "0/1:29"),
      row("2", 700, "G", "T", "T|synonymous_variant|GENE_B", "0/0:24", "1/1:37", "0/1:31"),
      row("3", 100, "A", "T", "T|missense_variant|GENE_C", "0/1:27", "0/1:39", "0/1:33"),
      row("3", 200, "C", "G", "G|missense_variant|GENE_C", "./.:0", "0/1:34", "0/1:32"))

    private def row(chrom: String, pos: Int, ref: String, alt: String,
        csq: String, c: String, f: String, m: String): String =
      Seq(chrom, pos.toString, ".", ref, alt, "99", "PASS", s"CSQ=$csq",
        "GT:DP", c, f, m).mkString("\t")

    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM c f m 1 2",
      "FAM f 0 0 1 1",
      "FAM m 0 0 2 1")

    /** Hand-derived per-trio genotype classes + depths as a VALUES
      * relation (0 HOM-REF / 1 HET / 2 UNKNOWN / 3 HOM-ALT) — the
      * oracles re-derive both queries from this in pure SQL.
      */
    val trioGtValues: String =
      """(VALUES
        | ('1', 1000, 'G', 'GENE_A', 1, 0, 0, 30, 40, 35),
        | ('1', 2000, 'T', 'GENE_A', 1, 1, 0, 25, 33, 28),
        | ('1', 3000, 'A', 'GENE_A', 1, 0, 1, 22, 31, 27),
        | ('2', 500,  'C', 'GENE_B', 3, 1, 1, 28, 36, 30),
        | ('2', 600,  'C', 'GENE_B', 3, 0, 1, 26, 38, 29),
        | ('2', 700,  'T', 'GENE_B', 0, 3, 1, 24, 37, 31),
        | ('3', 100,  'T', 'GENE_C', 1, 1, 1, 27, 39, 33),
        | ('3', 200,  'G', 'GENE_C', 2, 1, 1, 0, 34, 32)
        |) tg(chrom, pos, alt, gene, gt_c, gt_f, gt_m, dp_c, dp_f, dp_m)""".stripMargin
  }

  /** The trio dim every family tool takes: one row per PED row whose
    * child, father and mother each have a PED row and a VCF sample
    * column. Its columns:
    *  - family_id and the child, dad and mom names;
    *  - c_ix, d_ix and m_ix, their 1-based gt-array indexes in header
    *    sample order;
    *  - the child's `sex` and the three phenotypes `ph_c`, `ph_f` and
    *    `ph_m`, as `try_cast(… AS INT)`: a missing or non-numeric PED
    *    value is NULL, which the sex- and phenotype-aware rules never
    *    match.
    *
    * `ped` holds PED-shaped rows (family, sample, father, mother, sex
    * and phenotype first), parsed from PED text
    * ([[graft.sources.PedSource.parse]]) or collected from a loaded
    * database's `samples` table. The derivation runs on the driver over
    * these sample-sized rows and yields a local relation.
    */
  private[graft] def trios(s: SparkSession, ped: Seq[Row],
      headerSamples: Seq[String]): DataFrame = {
    val ixOf = headerSamples.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val rowsOf = ped.groupBy(_.getString(1))
    val dim = ped.flatMap { r =>
      val Seq(fam, child, dad, mom) = (0 to 3).map(r.getString)
      for {
        c <- ixOf.get(child).toSeq
        d <- ixOf.get(dad).toSeq
        m <- ixOf.get(mom).toSeq
        dr <- rowsOf.getOrElse(dad, Nil)
        mr <- rowsOf.getOrElse(mom, Nil)
      } yield Row(fam, child, dad, mom, c, d, m,
        r.getString(4), r.getString(5), dr.getString(5), mr.getString(5))
    }
    val (names, ixs, codes) = (Seq("family_id", "child", "dad", "mom"),
      Seq("c_ix", "d_ix", "m_ix"), Seq("sex", "ph_c", "ph_f", "ph_m"))
    s.createDataFrame(dim.asJava, StructType(
      names.map(StructField(_, StringType)) ++
        ixs.map(StructField(_, IntegerType, nullable = false)) ++
        codes.map(StructField(_, StringType))))
      .select((names ++ ixs).map(col) ++
        codes.map(c => expr(s"try_cast($c AS INT)").as(c)): _*)
  }

  /** [[trios]] over PED text. */
  private[operators] def triosFromPed(s: SparkSession, headerSamples: Seq[String],
      pedLines: Seq[String]): DataFrame =
    trios(s, PedSource.parse(pedLines)._2, headerSamples)

  /** e18: classify each (variant, trio) into an inheritance class —
    * `de_novo` (child HET, parents HOM-REF), `auto_rec` (child HOM-ALT,
    * parents both HET: the recessive-disease candidate), or
    * `mendel_error` (a genotype impossible under Mendelian transmission:
    * child HOM-ALT with a HOM-REF parent, child HOM-REF with a HOM-ALT
    * parent, or child HET from two HOM-ALT parents). Unmatched rows
    * (plain inherited / uncalled) drop out.
    */
  def e18(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, TrioFixture.lines)
    classify(s, variants, h.samples, TrioFixture.pedLines)
  }

  def classify(s: SparkSession, variants: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame =
    classify(s, variants, triosFromPed(s, headerSamples, pedLines))

  def classify(s: SparkSession, variants: DataFrame, trios: DataFrame): DataFrame = {
    import s.implicits._
    val (gtC, gtF, gtM) = (element_at($"gt_types", $"c_ix"),
      element_at($"gt_types", $"d_ix"), element_at($"gt_types", $"m_ix"))
    variants
      .crossJoin(broadcast(trios))
      .withColumn("class",
        when(gtC === 1 && gtF === 0 && gtM === 0, "de_novo")
          .when(gtC === 3 && gtF === 1 && gtM === 1, "auto_rec")
          .when((gtC === 3 && (gtF === 0 || gtM === 0)) ||
            (gtC === 0 && (gtF === 3 || gtM === 3)) ||
            (gtC === 1 && gtF === 3 && gtM === 3), "mendel_error"))
      .filter($"class".isNotNull)
      .select($"chrom", $"pos", $"alt", $"family_id", $"child", $"class",
        element_at($"gt_depths", $"c_ix").as("child_dp"),
        element_at($"gt_depths", $"d_ix").as("dad_dp"),
        element_at($"gt_depths", $"m_ix").as("mom_dp"))
      .orderBy($"chrom", $"pos", $"alt", $"child")
  }

  /** GEMINI's `--min-kindreds N`: keep only rows whose key (the
    * variant for the single-site tools, the gene for comp_hets) was
    * hit in at least N distinct families. One window over the already
    * family-keyed result — the candidate frame is orders of magnitude
    * smaller than the variants fact, and families-per-key is
    * cohort-bounded, so the collect_set stays tiny.
    */
  def minKindreds(df: DataFrame, n: Int,
      keyCols: Seq[String] = Seq("chrom", "pos", "alt")): DataFrame =
    if (n <= 1) df
    else df
      .withColumn("n_kindreds", size(collect_set(col("family_id"))
        .over(Window.partitionBy(keyCols.map(col): _*))))
      .filter(col("n_kindreds") >= n)

  /** e19: compound-heterozygote candidate pairs — two HET sites of the
    * child in the SAME gene, one inherited from each parent (unphased
    * GEMINI comp_hets rule: site A dad-HET/mom-HOM-REF, site B the
    * reverse). Gene labels come from the expanded impacts table via an
    * equi-join on the variant key; the pair self-join is keyed on
    * (family, gene) so candidates only meet inside their gene bucket.
    *
    * Phase-aware (GEMINI's priority=1 rule): when the child's GT is
    * phased at BOTH sites (`gt_phases` = 1) and the alt haplotype side
    * is unambiguous (exactly one side of the '|' is non-ref), a pair
    * whose alts sit on the SAME haplotype is cis, not compound-het, and
    * is rejected. Unphased, ambiguous (multi-allelic "1|2"), or
    * missing-phase sites fall back to the unphased parental-origin rule
    * above — phase can only prune candidates, never invent them.
    */
  def e19(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, impacts) = VcfReader.fromLines(s, TrioFixture.lines)
    compHets(s, variants, impacts, h.samples, TrioFixture.pedLines)
  }

  def compHets(s: SparkSession, variants: DataFrame, impacts: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame =
    compHets(s, variants, impacts, triosFromPed(s, headerSamples, pedLines))

  def compHets(s: SparkSession, variants: DataFrame, impacts: DataFrame,
      trios: DataFrame): DataFrame = {
    import s.implicits._
    val genes = impacts
      .select($"chrom", $"pos", $"alt", Etl.geneCol(impacts).as("gene"))
      .distinct()
    val (gtC, gtF, gtM) = (element_at($"gt_types", $"c_ix"),
      element_at($"gt_types", $"d_ix"), element_at($"gt_types", $"m_ix"))
    // explicit early projection: a Vcf2Db variants table carries a
    // denormalized worst-impact `gene` column that would collide with
    // the impacts-derived gene label below
    val hasPhase = variants.columns.contains("gts") &&
      variants.columns.contains("gt_phases")
    val baseCols = Seq($"chrom", $"pos", $"alt", $"gt_types") ++
      (if (hasPhase) Seq($"gts", $"gt_phases") else Nil)
    // alt haplotype side of the child's phased HET: 0 = left of '|',
    // 1 = right, null = unphased or ambiguous (both sides non-ref in a
    // multi-allelic call — which side is THIS row's alt is unknowable
    // post-decompose, so it stays uninformative)
    val altSide: Column = if (hasPhase) {
      val g = element_at($"gts", $"c_ix")
      val l = split(g, "\\|").getItem(0)
      val r = split(g, "\\|").getItem(1)
      when(element_at($"gt_phases", $"c_ix") === 1,
        when(l =!= "0" && r === "0", 0)
          .when(l === "0" && r =!= "0", 1))
    } else lit(null).cast("int")
    val hets = variants.select(baseCols: _*)
      .crossJoin(broadcast(trios))
      .withColumn("gt_c", gtC).withColumn("gt_f", gtF).withColumn("gt_m", gtM)
      .filter($"gt_c" === 1 &&
        (($"gt_f" === 1 && $"gt_m" === 0) || ($"gt_m" === 1 && $"gt_f" === 0)))
      .withColumn("from_dad", $"gt_f" === 1)
      .withColumn("alt_side", altSide)
      .join(genes, Seq("chrom", "pos", "alt"))
      .select($"family_id", $"child", $"gene", $"chrom", $"pos", $"alt",
        $"from_dad", $"alt_side")
    hets.as("a")
      .join(hets.as("b"),
        $"a.family_id" === $"b.family_id" && $"a.gene" === $"b.gene" &&
          ($"a.chrom" < $"b.chrom" ||
            ($"a.chrom" === $"b.chrom" && $"a.pos" < $"b.pos")) &&
          $"a.from_dad" =!= $"b.from_dad" &&
          // phased-cis rejection: both sides known and equal → same
          // haplotype. Null (unphased/ambiguous) never rejects.
          !($"a.alt_side".isNotNull && $"b.alt_side".isNotNull &&
            $"a.alt_side" === $"b.alt_side"))
      .select($"a.family_id", $"a.child", $"a.gene",
        $"a.chrom".as("chrom_a"), $"a.pos".as("pos_a"), $"a.alt".as("alt_a"),
        $"b.chrom".as("chrom_b"), $"b.pos".as("pos_b"), $"b.alt".as("alt_b"))
      .orderBy($"family_id", $"gene", $"chrom_a", $"pos_a", $"chrom_b", $"pos_b")
  }

  /** X-fixture: two families on chrX — fam1's child is male (one X,
    * hemizygous: VCF-called 0/1 or 1/1 both mean "alt"), fam2's child
    * is female (two X copies). Variants engineered to cover male and
    * female X-linked recessive + de novo, a carrier-only female
    * (not a candidate), and an uncalled child.
    */
  object XFixture {
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "c1", "f1", "m1", "c2", "f2", "m2").mkString("\t"),
      // male child c1: alt from carrier mom = recessive; alt from two
      // hom-ref parents = de novo
      row("X", 1000, "A", "G", "1/1", "0/0", "0/1", "0/0", "0/0", "0/0"),
      row("X", 2000, "C", "T", "0/1", "0/0", "0/0", "0/0", "0/0", "0/0"),
      // female child c2: hom-alt with carrier mom + hemizygous-alt dad
      // = recessive; het from two hom-ref parents = de novo; het with
      // carrier mom only = carrier, NOT a candidate
      row("X", 3000, "G", "A", "0/0", "0/0", "0/0", "1/1", "1/1", "0/1"),
      row("X", 4000, "T", "C", "0/0", "0/0", "0/0", "0/1", "0/0", "0/0"),
      row("X", 5000, "A", "T", "0/0", "0/0", "0/0", "0/1", "0/0", "0/1"),
      // uncalled child rows drop out
      row("X", 6000, "C", "G", "./.", "0/0", "0/1", "./.", "0/0", "0/1"))

    private def row(chrom: String, pos: Int, ref: String, alt: String,
        gts: String*): String =
      (Seq(chrom, pos.toString, ".", ref, alt, "99", "PASS", ".", "GT") ++ gts)
        .mkString("\t")

    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM1 c1 f1 m1 1 2",
      "FAM1 f1 0 0 1 1",
      "FAM1 m1 0 0 2 1",
      "FAM2 c2 f2 m2 2 2",
      "FAM2 f2 0 0 1 1",
      "FAM2 m2 0 0 2 1")

    /** Hand-derived (variant, trio) genotype classes + child sex for the
      * oracle (1 = male, 2 = female).
      */
    val xGtValues: String =
      """(VALUES
        | ('X', 1000, 'G', 'FAM1', 'c1', 1, 3, 0, 1),
        | ('X', 2000, 'T', 'FAM1', 'c1', 1, 1, 0, 0),
        | ('X', 3000, 'A', 'FAM2', 'c2', 2, 3, 3, 1),
        | ('X', 4000, 'C', 'FAM2', 'c2', 2, 1, 0, 0),
        | ('X', 5000, 'T', 'FAM2', 'c2', 2, 1, 0, 1),
        | ('X', 1000, 'G', 'FAM2', 'c2', 2, 0, 0, 0),
        | ('X', 2000, 'T', 'FAM2', 'c2', 2, 0, 0, 0),
        | ('X', 3000, 'A', 'FAM1', 'c1', 1, 0, 0, 0),
        | ('X', 4000, 'C', 'FAM1', 'c1', 1, 0, 0, 0),
        | ('X', 5000, 'T', 'FAM1', 'c1', 1, 0, 0, 0),
        | ('X', 6000, 'G', 'FAM1', 'c1', 1, 2, 0, 1),
        | ('X', 6000, 'G', 'FAM2', 'c2', 2, 2, 0, 1)
        |) xg(chrom, pos, alt, family_id, child, sex, gt_c, gt_f, gt_m)""".stripMargin
  }

  /** Shared X-linked classification CASE (genotype classes 0/1/2/3,
    * `sex` 1 = male): valid verbatim in Spark SQL and DuckDB, the
    * single source of the e22 rule on both sides.
    *
    * Male child (hemizygous — any alt call is "alt"): carrier mom +
    * hom-ref dad → recessive; two hom-ref parents → de novo. Female
    * child: hom-alt with carrier mom + (hemizygous-)alt dad →
    * recessive; any alt call from two hom-ref parents → de novo; a het
    * daughter of a carrier mom is a carrier, not a candidate.
    */
  private val xlinkedCase: String =
    """CASE
      | WHEN sex = 1 AND gt_c IN (1, 3) AND gt_m = 1 AND gt_f = 0 THEN 'xl_recessive'
      | WHEN sex = 1 AND gt_c IN (1, 3) AND gt_m = 0 AND gt_f = 0 THEN 'xl_denovo'
      | WHEN sex = 2 AND gt_c = 3 AND gt_m = 1 AND gt_f IN (1, 3) THEN 'xl_recessive'
      | WHEN sex = 2 AND gt_c IN (1, 3) AND gt_m = 0 AND gt_f = 0 THEN 'xl_denovo'
      |END""".stripMargin

  /** e22: GEMINI-style X-linked tools (x_linked_recessive /
    * x_linked_de_novo), sex-aware via the trio dim's `sex` column.
    * Same broadcast-trio × one-variants-scan shape as e18; the fact
    * side never shuffles.
    */
  def e22(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, XFixture.lines)
    xlinked(s, variants, h.samples, XFixture.pedLines)
  }

  def xlinked(s: SparkSession, variants: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame =
    xlinked(s, variants, triosFromPed(s, headerSamples, pedLines))

  /** e22 core over any variants table + a [[trios]] dim (its `sex`:
    * 1 = male child).
    */
  def xlinked(s: SparkSession, variants: DataFrame, trios: DataFrame): DataFrame = {
    import s.implicits._
    variants
      // accept both contig conventions ("X" and GRCh38-style "chrX")
      .filter(regexp_replace($"chrom", "^chr", "") === "X")
      .crossJoin(broadcast(trios))
      .withColumn("gt_c", element_at($"gt_types", $"c_ix"))
      .withColumn("gt_f", element_at($"gt_types", $"d_ix"))
      .withColumn("gt_m", element_at($"gt_types", $"m_ix"))
      .withColumn("class", expr(xlinkedCase))
      .filter($"class".isNotNull)
      .select($"chrom", $"pos", $"alt", $"family_id", $"child",
        $"sex", $"class")
      .orderBy($"chrom", $"pos", $"alt", $"child")
  }

  /** Auto-dominant fixture: FAM's dad is affected, mom unaffected —
    * covering the dominant transmission hit, the no-affected-carrier
    * negative, the unaffected-carrier veto, non-transmission, and an
    * uncalled child. FAM2's mom has UNKNOWN phenotype (PED 0) and
    * carries the HET — unknown must not veto (GEMINI ignores
    * unknown-phenotype individuals).
    */
  object AdFixture {
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "c", "f", "m", "c2", "f2", "m2").mkString("\t"),
      // dominant hit: affected child HET, affected dad HET, mom HOM-REF
      row("1", 100, "A", "G", "0/1", "0/1", "0/0", "0/0", "0/0", "0/0"),
      // child HET but NO affected parent carries it → not dominant
      row("1", 200, "C", "T", "0/1", "0/0", "0/0", "0/0", "0/0", "0/0"),
      // UNAFFECTED mom carries the HET → violates full penetrance
      row("1", 300, "G", "A", "0/1", "0/0", "0/1", "0/0", "0/0", "0/0"),
      // affected dad HET but child HOM-REF → not transmitted
      row("1", 400, "T", "C", "0/0", "0/1", "0/0", "0/0", "0/0", "0/0"),
      // uncalled child drops out
      row("1", 500, "A", "T", "./.", "0/1", "0/0", "0/0", "0/0", "0/0"),
      // FAM2: affected dad transmits; mom (phenotype UNKNOWN) also
      // carries — still a hit, unknown never vetoes
      row("1", 600, "A", "C", "0/0", "0/0", "0/0", "0/1", "0/1", "0/1"))

    private def row(chrom: String, pos: Int, ref: String, alt: String,
        gts: String*): String =
      (Seq(chrom, pos.toString, ".", ref, alt, "99", "PASS", ".", "GT") ++ gts)
        .mkString("\t")

    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM c f m 1 2",
      "FAM f 0 0 1 2",
      "FAM m 0 0 2 1",
      "FAM2 c2 f2 m2 1 2",
      "FAM2 f2 0 0 1 2",
      "FAM2 m2 0 0 2 0")

    /** Hand-derived (variant, trio) classes + trio phenotypes. */
    val adGtValues: String =
      """(VALUES
        | ('1', 100, 'G', 'FAM', 'c', 1, 1, 0, 2, 2, 1),
        | ('1', 200, 'T', 'FAM', 'c', 1, 0, 0, 2, 2, 1),
        | ('1', 300, 'A', 'FAM', 'c', 1, 0, 1, 2, 2, 1),
        | ('1', 400, 'C', 'FAM', 'c', 0, 1, 0, 2, 2, 1),
        | ('1', 500, 'T', 'FAM', 'c', 2, 1, 0, 2, 2, 1),
        | ('1', 600, 'C', 'FAM', 'c', 0, 0, 0, 2, 2, 1),
        | ('1', 100, 'G', 'FAM2', 'c2', 0, 0, 0, 2, 2, 0),
        | ('1', 200, 'T', 'FAM2', 'c2', 0, 0, 0, 2, 2, 0),
        | ('1', 300, 'A', 'FAM2', 'c2', 0, 0, 0, 2, 2, 0),
        | ('1', 400, 'C', 'FAM2', 'c2', 0, 0, 0, 2, 2, 0),
        | ('1', 500, 'T', 'FAM2', 'c2', 0, 0, 0, 2, 2, 0),
        | ('1', 600, 'C', 'FAM2', 'c2', 1, 1, 1, 2, 2, 0)
        |) ag(chrom, pos, alt, family_id, child, gt_c, gt_f, gt_m, ph_c, ph_f, ph_m)""".stripMargin
  }

  /** X-dominant fixture: FAM1's mom is affected (male child can only
    * receive his X from her), FAM2's dad is affected (hemizygous alt
    * transmits to every daughter). Negatives cover no-affected-carrier,
    * the unaffected-carrier veto, and non-carrier children.
    */
  object XdFixture {
    val lines: Vector[String] = Vector(
      "##fileformat=VCFv4.2",
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
      Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
        "FORMAT", "c1", "f1", "m1", "c2", "f2", "m2").mkString("\t"),
      // male dominant hit: affected mom transmits her HET
      row("X", 100, "A", "G", "0/1", "0/0", "0/1", "0/0", "0/0", "0/0"),
      // no affected parent carries → not dominant
      row("X", 200, "C", "T", "0/1", "0/0", "0/0", "0/0", "0/0", "0/0"),
      // UNAFFECTED dad carries → full-penetrance veto
      row("X", 300, "G", "A", "0/1", "1/1", "0/1", "0/0", "0/0", "0/0"),
      // female dominant hit: affected hemizygous dad transmits
      row("X", 400, "T", "C", "0/0", "0/0", "0/0", "0/1", "1/1", "0/0"),
      // unaffected mom carries → veto (and affected dad doesn't carry)
      row("X", 500, "A", "T", "0/0", "0/0", "0/0", "0/1", "0/0", "0/1"),
      // child doesn't carry → not a candidate
      row("X", 600, "C", "G", "0/0", "0/0", "0/0", "0/0", "1/1", "0/0"))

    private def row(chrom: String, pos: Int, ref: String, alt: String,
        gts: String*): String =
      (Seq(chrom, pos.toString, ".", ref, alt, "99", "PASS", ".", "GT") ++ gts)
        .mkString("\t")

    val pedLines: Vector[String] = Vector(
      "#family_id sample_id paternal_id maternal_id sex phenotype",
      "FAM1 c1 f1 m1 1 2",
      "FAM1 f1 0 0 1 1",
      "FAM1 m1 0 0 2 2",
      "FAM2 c2 f2 m2 2 2",
      "FAM2 f2 0 0 1 2",
      "FAM2 m2 0 0 2 1")

    /** Hand-derived (variant, trio) classes + sex + trio phenotypes. */
    val xdGtValues: String =
      """(VALUES
        | ('X', 100, 'G', 'FAM1', 'c1', 1, 1, 0, 1, 2, 1, 2),
        | ('X', 200, 'T', 'FAM1', 'c1', 1, 1, 0, 0, 2, 1, 2),
        | ('X', 300, 'A', 'FAM1', 'c1', 1, 1, 3, 1, 2, 1, 2),
        | ('X', 400, 'C', 'FAM1', 'c1', 1, 0, 0, 0, 2, 1, 2),
        | ('X', 500, 'T', 'FAM1', 'c1', 1, 0, 0, 0, 2, 1, 2),
        | ('X', 600, 'G', 'FAM1', 'c1', 1, 0, 0, 0, 2, 1, 2),
        | ('X', 100, 'G', 'FAM2', 'c2', 2, 0, 0, 0, 2, 2, 1),
        | ('X', 200, 'T', 'FAM2', 'c2', 2, 0, 0, 0, 2, 2, 1),
        | ('X', 300, 'A', 'FAM2', 'c2', 2, 0, 0, 0, 2, 2, 1),
        | ('X', 400, 'C', 'FAM2', 'c2', 2, 1, 3, 0, 2, 2, 1),
        | ('X', 500, 'T', 'FAM2', 'c2', 2, 1, 0, 1, 2, 2, 1),
        | ('X', 600, 'G', 'FAM2', 'c2', 2, 0, 3, 0, 2, 2, 1)
        |) xd(chrom, pos, alt, family_id, child, sex, gt_c, gt_f, gt_m, ph_c, ph_f, ph_m)""".stripMargin
  }

  /** Shared X-linked-dominant CASE (full-penetrance GEMINI
    * x_linked_dominant): an AFFECTED child carries the X alt; a male
    * child's X comes only from mom, so the affected transmitter must
    * be her; a female child can receive it from either affected
    * parent. A KNOWN-UNAFFECTED carrier parent vetoes; unknown
    * phenotype neither transmits nor vetoes (same convention as
    * auto_dom). Valid verbatim in Spark SQL and DuckDB.
    */
  private val xlinkedDomCase: String =
    """gt_c IN (1, 3) AND ph_c = 2 AND (
      |  (sex = 1 AND ph_m = 2 AND gt_m IN (1, 3)
      |    AND NOT (ph_f = 1 AND gt_f IN (1, 3)))
      |  OR
      |  (sex = 2
      |    AND ((ph_f = 2 AND gt_f IN (1, 3)) OR (ph_m = 2 AND gt_m IN (1, 3)))
      |    AND NOT (ph_f = 1 AND gt_f IN (1, 3))
      |    AND NOT (ph_m = 1 AND gt_m IN (1, 3)))
      |)""".stripMargin

  /** e26: GEMINI x_linked_dominant — the remaining X tool (e22 covers
    * recessive + de novo). Same broadcast-trio shape, reading the trio
    * dim's sex AND all three phenotypes.
    */
  def e26(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, XdFixture.lines)
    xlinkedDom(s, variants, h.samples, XdFixture.pedLines)
  }

  def xlinkedDom(s: SparkSession, variants: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame =
    xlinkedDom(s, variants, triosFromPed(s, headerSamples, pedLines))

  /** e26 core over any variants table + a [[trios]] dim. */
  def xlinkedDom(s: SparkSession, variants: DataFrame,
      trios: DataFrame): DataFrame = {
    import s.implicits._
    variants
      .filter(regexp_replace($"chrom", "^chr", "") === "X")
      .crossJoin(broadcast(trios))
      .withColumn("gt_c", element_at($"gt_types", $"c_ix"))
      .withColumn("gt_f", element_at($"gt_types", $"d_ix"))
      .withColumn("gt_m", element_at($"gt_types", $"m_ix"))
      .filter(expr(xlinkedDomCase))
      .select($"chrom", $"pos", $"alt", $"family_id", $"child",
        $"sex", lit("xl_dominant").as("class"))
      .orderBy($"chrom", $"pos", $"alt", $"child")
  }

  /** Shared autosomal-dominant CASE (full-penetrance GEMINI auto_dom
    * rule): an AFFECTED child carries a HET transmitted from an
    * AFFECTED carrier parent, and no KNOWN-UNAFFECTED parent carries
    * it. Unknown phenotype (PED 0/-9 → anything other than 1 or 2)
    * neither qualifies as the affected transmitter nor vetoes —
    * GEMINI ignores unknown-phenotype individuals. Valid verbatim in
    * Spark SQL and DuckDB.
    */
  private val autoDomCase: String =
    """gt_c = 1 AND ph_c = 2
      | AND ((ph_f = 2 AND gt_f IN (1, 3)) OR (ph_m = 2 AND gt_m IN (1, 3)))
      | AND NOT (ph_f = 1 AND gt_f IN (1, 3))
      | AND NOT (ph_m = 1 AND gt_m IN (1, 3))""".stripMargin

  /** e25: GEMINI auto_dom — the remaining inheritance tool (e18 covers
    * de_novo / auto_rec / mendel_errors). Same broadcast-trio shape;
    * the trio dim's PHENOTYPES make the affected-transmission rule a
    * per-row predicate.
    */
  def e25(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, AdFixture.lines)
    autoDom(s, variants, h.samples, AdFixture.pedLines)
  }

  def autoDom(s: SparkSession, variants: DataFrame,
      headerSamples: Seq[String], pedLines: Seq[String]): DataFrame =
    autoDom(s, variants, triosFromPed(s, headerSamples, pedLines))

  /** e25 core over any variants table + a [[trios]] dim. */
  def autoDom(s: SparkSession, variants: DataFrame, trios: DataFrame): DataFrame = {
    import s.implicits._
    variants
      .crossJoin(broadcast(trios))
      .withColumn("gt_c", element_at($"gt_types", $"c_ix"))
      .withColumn("gt_f", element_at($"gt_types", $"d_ix"))
      .withColumn("gt_m", element_at($"gt_types", $"m_ix"))
      .filter(expr(autoDomCase))
      .select($"chrom", $"pos", $"alt", $"family_id", $"child",
        lit("auto_dom").as("class"))
      .orderBy($"chrom", $"pos", $"alt", $"child")
  }

  /** e27: GEMINI `mendel_errors`-style per-family QC summary — how many
    * variants fall in each inheritance class per (family, child), the
    * rate view a cohort QC dashboard reads (a family whose
    * mendel_error count spikes has a sample swap or contamination).
    * Same broadcast-trio classification scan as e18 followed by one
    * partial-agg shuffle on the (family, child, class) key — family
    * count × class count rows at any cohort size.
    */
  def e27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, TrioFixture.lines)
    classify(s, variants, h.samples, TrioFixture.pedLines)
      .groupBy($"family_id", $"child", $"class")
      .agg(count(lit(1)).as("n_variants"))
      .orderBy($"family_id", $"child", $"class")
  }

  /** e59: GENERATION DEPTH over a pedigree forest by POINTER DOUBLING —
    * each member's generation number (founders = 0) via the
    * parent-jump technique: every round each node's ancestor pointer
    * jumps to its ancestor's ancestor while accumulating the hop
    * count, so after r rounds the pointer covers 2^r generations. Six
    * rounds therefore resolve ANY pedigree 63 generations deep — a
    * CONSTANT round count with no driver-side fixpoint probe at all,
    * unlike d07's star contraction whose O(log n) rounds each sync on
    * a convergence count. This is gemini's `--families` depth question
    * generalized (kinship tooling's "kindepth"), and the second
    * distributed-graph regime in the engine (d07 contracts components;
    * e59 measures ancestor chains).
    *
    * Test harness: the deterministic complete pedigree over the
    * customer DIM — member m = rank(c_custkey) (dense 1..N at ANY key
    * distribution; raw keys break at sf≥1 where replica offsets leave
    * gaps and ancestor chains dangle), parent(m) = m div 2 — which
    * gives the oracle a CLOSED FORM, depth = floor(log2(m)): the
    * iterative distributed algorithm is verified against exact
    * arithmetic, not against another iteration of itself. The ranking
    * window is a single-partition sort BY DESIGN of the member DIM
    * (q33's calendar-frame argument: the pedigree membership table is
    * dim-sized, never the fact).
    *
    * Scale shape: each round is ONE equi-join of the jump frame with
    * itself on the ancestor key (co-partitioned after the first
    * shuffle) + a lineage-truncating checkpoint; the depth histogram
    * rollup is one partial agg. 6 rounds × 1 shuffle, whatever the
    * cohort size.
    */
  def e59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = graft.Tables(s, dir, "customer")
      .select(row_number().over(Window.orderBy($"c_custkey"))
        .cast("long").as("node"))
    var jump = members.filter($"node" >= 2L)
      .select($"node", expr("node div 2").as("anc"), lit(1L).as("d"))
      .transform(graft.Lineage.cut)
    (1 to 6).foreach { _ =>
      val b = jump.select($"node".as("b_node"), $"anc".as("b_anc"),
        $"d".as("b_d"))
      jump = jump.join(b, $"anc" === $"b_node", "left")
        .select($"node",
          coalesce($"b_anc", $"anc").as("anc"),
          ($"d" + coalesce($"b_d", lit(0L))).as("d"))
        .transform(graft.Lineage.cut)
    }
    jump.select($"node", $"d".as("depth"))
      .union(members.filter($"node" === 1L)
        .select($"node", lit(0L).as("depth")))
      .groupBy($"depth")
      .agg(count(lit(1)).as("n_members"),
        min($"node").as("min_member"), max($"node").as("max_member"))
      .orderBy($"depth")
  }

  val oracle: Map[String, String] = Map(
    "e59_generation_depth" ->
      """WITH r AS (SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
        |   AS node FROM customer),
        |m AS (SELECT node,
        |  CAST(floor(log2(node)) AS BIGINT) AS depth
        | FROM r)
        |SELECT depth, count(*) AS n_members,
        | min(node) AS min_member, max(node) AS max_member
        |FROM m GROUP BY depth ORDER BY depth""".stripMargin,
    "e27_mendel_summary" ->
      s"""SELECT 'FAM' AS family_id, 'c' AS child, class,
         | count(*) AS n_variants
         |FROM (SELECT *,
         |  CASE WHEN gt_c = 1 AND gt_f = 0 AND gt_m = 0 THEN 'de_novo'
         |       WHEN gt_c = 3 AND gt_f = 1 AND gt_m = 1 THEN 'auto_rec'
         |       WHEN (gt_c = 3 AND (gt_f = 0 OR gt_m = 0))
         |         OR (gt_c = 0 AND (gt_f = 3 OR gt_m = 3))
         |         OR (gt_c = 1 AND gt_f = 3 AND gt_m = 3) THEN 'mendel_error'
         |  END AS class
         |  FROM ${TrioFixture.trioGtValues})
         |WHERE class IS NOT NULL
         |GROUP BY family_id, child, class
         |ORDER BY family_id, child, class""".stripMargin,
    "e26_xlinked_dom" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt, family_id, child,
         | CAST(sex AS INTEGER) AS sex, 'xl_dominant' AS class
         |FROM ${XdFixture.xdGtValues}
         |WHERE $xlinkedDomCase
         |ORDER BY chrom, pos, alt, child""".stripMargin,
    "e25_auto_dom" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt, family_id, child,
         | 'auto_dom' AS class
         |FROM ${AdFixture.adGtValues}
         |WHERE $autoDomCase
         |ORDER BY chrom, pos, alt, child""".stripMargin,
    "e22_xlinked" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt, family_id, child,
         | CAST(sex AS INTEGER) AS sex, class
         |FROM (SELECT *, $xlinkedCase AS class
         |      FROM ${XFixture.xGtValues})
         |WHERE class IS NOT NULL
         |ORDER BY chrom, pos, alt, child""".stripMargin,
    "e18_inheritance_classify" ->
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | 'FAM' AS family_id, 'c' AS child, class,
         | CAST(dp_c AS INTEGER) AS child_dp,
         | CAST(dp_f AS INTEGER) AS dad_dp,
         | CAST(dp_m AS INTEGER) AS mom_dp
         |FROM (SELECT *,
         |  CASE WHEN gt_c = 1 AND gt_f = 0 AND gt_m = 0 THEN 'de_novo'
         |       WHEN gt_c = 3 AND gt_f = 1 AND gt_m = 1 THEN 'auto_rec'
         |       WHEN (gt_c = 3 AND (gt_f = 0 OR gt_m = 0))
         |         OR (gt_c = 0 AND (gt_f = 3 OR gt_m = 3))
         |         OR (gt_c = 1 AND gt_f = 3 AND gt_m = 3) THEN 'mendel_error'
         |  END AS class
         |  FROM ${TrioFixture.trioGtValues})
         |WHERE class IS NOT NULL
         |ORDER BY chrom, pos, alt, child""".stripMargin,
    "e19_comp_het" ->
      s"""WITH hets AS (
         | SELECT chrom, pos, alt, gene, (gt_f = 1) AS from_dad
         | FROM ${TrioFixture.trioGtValues}
         | WHERE gt_c = 1 AND ((gt_f = 1 AND gt_m = 0) OR (gt_m = 1 AND gt_f = 0)))
         |SELECT 'FAM' AS family_id, 'c' AS child, a.gene,
         | a.chrom AS chrom_a, CAST(a.pos AS BIGINT) AS pos_a, a.alt AS alt_a,
         | b.chrom AS chrom_b, CAST(b.pos AS BIGINT) AS pos_b, b.alt AS alt_b
         |FROM hets a JOIN hets b
         |  ON a.gene = b.gene
         | AND (a.chrom < b.chrom OR (a.chrom = b.chrom AND a.pos < b.pos))
         | AND a.from_dad <> b.from_dad
         |ORDER BY family_id, a.gene, chrom_a, pos_a, chrom_b, pos_b""".stripMargin
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e18_inheritance_classify" -> (e18 _),
    "e19_comp_het" -> (e19 _),
    "e22_xlinked" -> (e22 _),
    "e25_auto_dom" -> (e25 _),
    "e26_xlinked_dom" -> (e26 _),
    "e27_mendel_summary" -> (e27 _),
    "e59_generation_depth" -> (e59 _)
  )
}
