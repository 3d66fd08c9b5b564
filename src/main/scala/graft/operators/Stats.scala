package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.mdsPairs
import graft.operators.Etl.VcfFixture
import graft.sources.VcfReader

/** GEMINI's `stats` + `annotate -a extract` tool surface (SURVEY.md
  * §2.2), Spark-first: score extraction from annotation intervals with
  * per-variant aggregation ops, the site frequency spectrum, and the
  * pairwise-sample genotype distance matrix behind `stats --mds`.
  */
object Stats {

  /** Scored annotation intervals (a conservation-track-like BED with a
    * value column); VALUES mirror in the e34 oracle. Dyadic scores so
    * the mean stays bit-exact across engines.
    */
  private val annotRows = Seq(
    ("1", 50L, 150L, 1.5), ("1", 90L, 110L, 2.25), ("1", 150L, 250L, 0.5),
    ("2", 250L, 310L, 3.0), ("X", 300L, 500L, 1.25))

  /** e34: gemini `annotate -a extract -o mean/max/count` — pull a value
    * column off every overlapping annotation interval and aggregate it
    * per variant. The interval join is Etl.annotateIntervals' binned
    * equi-join (broadcast annotation dim, never a chrom-only key); the
    * aggregation is one (chrom,pos,alt)-keyed partial agg whose output
    * is variant-sized; un-annotated variants survive via the left join
    * with NULL scores (GEMINI leaves the column empty).
    */
  def e34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ann = annotRows.toDF("r_chrom", "r_start", "r_end", "score")
    val variants = VcfFixture.variants(s)
    val scored = Etl.annotateIntervals(variants, ann, binW = 100L)
      .groupBy($"chrom", $"pos", $"alt")
      .agg(sum($"score").as("score_sum"),
        count($"score").cast("int").as("n_overlaps"),
        max($"score").as("score_max"))
      // ONE division on identical operands in both engines (a running
      // mean would round differently depending on grouping order)
      .withColumn("score_mean", expr("score_sum / CAST(n_overlaps AS DOUBLE)"))
    variants.select($"chrom", $"pos", $"alt")
      .join(scored, Seq("chrom", "pos", "alt"), "left")
      .select($"chrom", $"pos", $"alt", $"n_overlaps", $"score_mean",
        $"score_max")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e35: gemini `stats --sfs` — the site frequency spectrum: how many
    * variants carry each alt-allele count. AC comes off the packed
    * gt_types array in one codegen projection (het + 2*hom_alt), then
    * ONE partial-agg shuffle whose key space is bounded by 2*cohort+1
    * bins — constant-size output at any variant count.
    */
  def e35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .select(expr("size(filter(gt_types, x -> x = 1)) + " +
        "2 * size(filter(gt_types, x -> x = 3))").as("ac"))
      .groupBy($"ac").agg(count(lit(1)).as("n_variants"))
      .orderBy($"ac")
  }

  /** e36: gemini `stats --mds` — the pairwise genotype distance matrix
    * (mean squared alt-copy difference over sites where both samples
    * are called) that feeds multidimensional scaling.
    *
    * Scale shape: sample pairs are generated INSIDE one codegen
    * projection over the packed gt_types array (a nested transform +
    * flatten comprehension) — no self-join of the variants fact, no
    * per-sample explode; the only shuffle is the final partial agg
    * keyed on the (i, j) pair, whose key space is cohort^2/2. The
    * cohort^2 term is inherent to the statistic; at biobank scale the
    * standard remedy is subsampling SITES (one pushed-down filter
    * here), not a different plan. The final mean is ONE integer
    * division per pair — bit-identical in both engines.
    */
  def e36(s: SparkSession, dir: String): DataFrame = {
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    mdsDistances(s, variants, h.samples)
  }

  /** Pairwise mean-squared-genotype-distance matrix (`stats --mds`).
    *
    * `maxSites` is the biobank-scale remedy AS A PARAMETER: the
    * cohort²/2 aggregate key space is inherent to the statistic, but
    * the per-pair cost is linear in SITES, so capping sites bounds the
    * whole job. The subsample is DETERMINISTIC (smallest-k by
    * xxhash64 site key — (chrom, pos) when present, else the packed
    * gt_types row — via orderBy+limit = one TakeOrderedAndProject
    * per-partition heap, no full sort, no RNG): reruns and both
    * engines of any oracle see the same site set. Distances stay
    * unbiased estimates of the all-sites mean — PROVIDED the key is a
    * site identity: the gt_types fallback ties on repeated identical
    * rows (a corpus where many sites share one genotype pattern would
    * sample whole pattern classes, biasing the estimate), so frames
    * with (chrom, pos) always key on them.
    */
  def mdsDistances(s: SparkSession, variants: DataFrame,
                   samples: Seq[String],
                   maxSites: Option[Int] = None): DataFrame = {
    import s.implicits._
    val sites = maxSites match {
      case Some(k) =>
        val key =
          if (variants.columns.contains("chrom") && variants.columns.contains("pos"))
            xxhash64($"chrom", $"pos")
          else xxhash64($"gt_types")
        variants.withColumn("_sk", key).orderBy($"_sk").limit(k).drop("_sk")
      case None => variants
    }
    mdsPairsAgg(sites, samples)
  }

  private def mdsPairsAgg(variants: DataFrame,
                          samples: Seq[String]): DataFrame = {
    val s = variants.sparkSession
    import s.implicits._
    // co-called pairs + squared copy diffs fused into ONE codegen
    // kernel (mds_pairs, packed (i << 40 | j << 16 | sq) longs): the
    // equivalent nested transform×transform comprehension runs its
    // higher-order closures INTERPRETED per element — measured 6.3×
    // slower on ScaleSpec's 96-sample × 2k-site case (8.4 s → 1.3 s)
    val pairs = variants.select(
      explode(mdsPairs($"gt_types")).as("v"))
    pairs
      .select(element_at(typedLit(samples),
          expr("CAST(v >> 40 AS INT)") + 1).as("sample_a"),
        element_at(typedLit(samples),
          expr("CAST((v >> 16) & 16777215 AS INT)") + 1).as("sample_b"),
        expr("CAST(v & 65535 AS INT)").as("sq"))
      .groupBy($"sample_a", $"sample_b")
      .agg(count(lit(1)).as("n_sites"), sum($"sq").as("sq_sum"))
      .withColumn("distance",
        expr("CAST(sq_sum AS DOUBLE) / CAST(n_sites AS DOUBLE)"))
      .select($"sample_a", $"sample_b", $"n_sites", $"distance")
      .orderBy($"sample_a", $"sample_b")
  }

  /** e37: gemini `query --show-samples` — each variant annotated with
    * the comma-joined, name-sorted lists of het and hom-alt carrier
    * samples. One carrier posexplode + one variant-keyed partial agg;
    * `array_sort(collect_list)` makes the list order deterministic
    * regardless of partitioning (collect_list alone is
    * partition-order-dependent — a silent nondeterminism at scale).
    * Output is variant-sized with cohort-bounded strings.
    */
  def e37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    val lists = Burden.carriers(s, variants, h.samples)
      .groupBy($"chrom", $"pos", $"alt")
      .agg(
        concat_ws(",", array_sort(collect_list(when($"gt_class" === 1, $"sample"))))
          .as("het_samples"),
        concat_ws(",", array_sort(collect_list(when($"gt_class" === 3, $"sample"))))
          .as("hom_alt_samples"))
    variants.select($"chrom", $"pos", $"alt")
      .join(lists, Seq("chrom", "pos", "alt"), "left")
      // a variant with zero carriers never enters `lists` (carriers
      // filters to classes 1/3) — GEMINI shows an empty list, not NULL
      .select($"chrom", $"pos", $"alt",
        coalesce($"het_samples", lit("")).as("het_samples"),
        coalesce($"hom_alt_samples", lit("")).as("hom_alt_samples"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** The fixture PED's (sample, phenotype) dim — 2 = affected, 1 =
    * unaffected, parsed from the same pedLines e07/e17 consume.
    */
  private def phenotypes(s: SparkSession): DataFrame = {
    import s.implicits._
    VcfFixture.pedLines.filterNot(_.startsWith("#"))
      .map { l => val f = l.split("\\s+"); (f(1), f(5).toInt) }
      .toDF("sample", "phenotype")
  }

  /** Shared (variant, sample, gt_class) long form for the by-sample
    * stats: ONE posexplode of the packed gt_types array. No filter —
    * callers count classes conditionally so zero-count groups still
    * appear. At cohort scale this fans out variants × samples once and
    * feeds a single partial agg; the per-sample result is dim-sized.
    */
  private def gtBySample(s: SparkSession, variants: DataFrame,
                         samples: Seq[String]): DataFrame = {
    import s.implicits._
    variants.select($"chrom", $"pos", $"alt",
        posexplode($"gt_types").as(Seq("six", "gt_class")))
      .select($"chrom", $"pos", $"alt", $"gt_class",
        element_at(typedLit(samples), $"six" + 1).as("sample"))
  }

  /** e38: gemini `stats --vars-by-sample` — how many variants each
    * sample carries (het or hom-alt). One partial-agg shuffle keyed on
    * sample; output is cohort-dim-sized at any variant count.
    */
  def e38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    gtBySample(s, variants, h.samples)
      .groupBy($"sample")
      .agg(sum(when($"gt_class".isin(1, 3), 1L).otherwise(0L))
        .as("n_variants"))
      .orderBy($"sample")
  }

  /** e39: gemini `stats --gts-by-sample` — per-sample counts of each
    * genotype class (hom_ref / het / hom_alt / unknown). Same single
    * explode + partial agg as e38; the four counts are conditional
    * sums in ONE pass, not four scans.
    */
  def e39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    def n(cls: Int) = sum(when($"gt_class" === cls, 1L).otherwise(0L))
    gtBySample(s, variants, h.samples)
      .groupBy($"sample")
      .agg(n(0).as("n_hom_ref"), n(1).as("n_het"), n(3).as("n_hom_alt"),
        n(2).as("n_unknown"))
      .orderBy($"sample")
  }

  /** e40: gemini `query --carrier-summary-by-phenotype` — per variant,
    * carrier (het|hom-alt) and non-carrier (hom-ref) counts split by
    * PED affection status; unknown genotypes count toward neither
    * (GEMINI's rule). The phenotype dim broadcasts (cohort-sized);
    * the only shuffle is the variant-keyed partial agg, and every
    * variant survives because the un-filtered explode keeps at least
    * one row per variant.
    */
  def e40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    def n(aff: Boolean, classes: Seq[Int]) =
      sum(when($"phenotype" === (if (aff) 2 else 1) &&
        $"gt_class".isin(classes: _*), 1L).otherwise(0L))
    gtBySample(s, variants, h.samples)
      .join(broadcast(phenotypes(s)), Seq("sample"))
      .groupBy($"chrom", $"pos", $"alt")
      .agg(
        n(aff = true, Seq(1, 3)).as("n_aff_carrier"),
        n(aff = true, Seq(0)).as("n_aff_noncarrier"),
        n(aff = false, Seq(1, 3)).as("n_unaff_carrier"),
        n(aff = false, Seq(0)).as("n_unaff_noncarrier"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** The fixture PED's (sample, family_id) dim, parsed from the same
    * pedLines (s1–s3 = F1, s4 = F2).
    */
  private def families(s: SparkSession): DataFrame = {
    import s.implicits._
    VcfFixture.pedLines.filterNot(_.startsWith("#"))
      .map { l => val f = l.split("\\s+"); (f(1), f(0)) }
      .toDF("sample", "family_id")
  }

  /** e46: gemini `query --show-families` — each variant with the
    * name-sorted list of FAMILIES containing a carrier, and the
    * kindred count the `--min-kindreds` gate reads. One carrier
    * explode (Burden.carriers) joined to the broadcast family dim +
    * ONE variant-keyed partial agg; `array_sort(collect_set)` pins
    * order against partition nondeterminism, and the left join keeps
    * carrier-less variants with an empty list like GEMINI.
    */
  def e46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    val lists = Burden.carriers(s, variants, h.samples)
      .join(broadcast(families(s)), Seq("sample"))
      .groupBy($"chrom", $"pos", $"alt")
      .agg(array_sort(collect_set($"family_id")).as("fam_arr"))
    variants.select($"chrom", $"pos", $"alt")
      .join(lists, Seq("chrom", "pos", "alt"), "left")
      .select($"chrom", $"pos", $"alt",
        concat_ws(",", coalesce($"fam_arr", array())).as("families"),
        size(coalesce($"fam_arr", array())).as("n_kindreds"))
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e47: gemini `gene_wise --min-kindreds 2` — genes where variants
    * (not necessarily the same one) hit carriers in at least N distinct
    * families, with the supporting (variant, family) evidence rows.
    * Scale shape: the carrier explode is bounded by carriers-per-site;
    * the family dim and the qualifying-gene frame are both BROADCAST
    * (cohort- and gene-dim-sized at any corpus size); the only shuffles
    * are the variant-keyed gene join and one gene-keyed partial agg
    * whose key space is the ~20k-gene universe.
    */
  def e47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, impacts) = VcfReader.fromLines(s, VcfFixture.lines)
    val sites = impacts
      .select($"chrom", $"pos", $"alt", $"symbol".as("gene")).distinct()
    val hits = Burden.carriers(s, variants, h.samples)
      .join(broadcast(families(s)), Seq("sample"))
      .join(sites, Seq("chrom", "pos", "alt"))
      .select($"gene", $"chrom", $"pos", $"alt", $"family_id").distinct()
    val genes = hits.groupBy($"gene")
      .agg(countDistinct($"family_id").cast("int").as("n_kindreds"))
      .filter($"n_kindreds" >= 2)
    hits.join(broadcast(genes), Seq("gene"))
      .select($"gene", $"chrom", $"pos", $"alt", $"family_id", $"n_kindreds")
      .orderBy($"gene", $"chrom", $"pos", $"alt", $"family_id")
  }

  /** e48: gemini `stats --snp-counts` — variant tallies per
    * substitution type (A->G, C->T, ...), SNP rows only. One codegen
    * projection + ONE partial-agg shuffle over a ≤12-key space —
    * constant-size output at any variant count.
    */
  def e48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VcfFixture.variants(s)
      .filter(length($"ref") === 1 && length($"alt") === 1)
      .select(concat($"ref", lit("->"), $"alt").as("substitution"))
      .groupBy($"substitution").agg(count(lit(1)).as("n_variants"))
      .orderBy($"substitution")
  }

  /** The plink biallelic recode of one sample's genotype on a
    * DECOMPOSED row, from (gts string, per-alt gt class) alone — no
    * allele index needed: a sample is cleanly biallelic for this row
    * iff its total non-ref allele count equals its copies of THIS alt
    * (then the bases are ref/alt by class); any other-alt carrier or
    * missing call degrades to plink's "0 0" whole-genotype missing
    * code. Shared verbatim (modulo list-function spelling) with the
    * e49 oracle.
    */
  private val tpedCell: String =
    """CASE
      | WHEN p.gt_types = 2 THEN '0 0'
      | WHEN size(filter(split(replace(p.gts, '|', '/'), '/'),
      |        a -> a <> '0' AND a <> '.'))
      |      = (CASE WHEN p.gt_types = 3 THEN 2
      |              WHEN p.gt_types = 1 THEN 1 ELSE 0 END)
      |   THEN CASE WHEN p.gt_types = 3 THEN concat(alt, ' ', alt)
      |             WHEN p.gt_types = 1 THEN concat(ref, ' ', alt)
      |             ELSE concat(ref, ' ', ref) END
      | ELSE '0 0' END""".stripMargin

  /** e49: gemini `query --format TPED` — the plink transposed-pedigree
    * export: one line per variant (chrom, snp id, genetic distance 0,
    * pos, per-sample allele pairs in cohort order). Pure per-row
    * codegen over the packed gts/gt_types arrays (no explode, no
    * shuffle beyond the final presentation sort) — export runs at scan
    * speed at any cohort size.
    */
  def e49(s: SparkSession, dir: String): DataFrame =
    tpedExportLines(VcfFixture.variants(s))
      .orderBy(col("chrom"), col("pos"), col("genotypes"))

  /** e49's line builder over any variants frame carrying unpacked
    * `gts`/`gt_types` arrays — the CLI `export --format=tped` path.
    */
  def tpedExportLines(v: DataFrame): DataFrame =
    v.select(col("chrom"),
      coalesce(colOr(v, "vid", "string"),
        concat(col("chrom"), lit(":"), col("pos"))).as("snp_id"),
      lit(0).as("cm"), col("pos"),
      expr(s"concat_ws(' ', transform(arrays_zip(gts, gt_types), p -> $tpedCell))")
        .as("genotypes"))

  /** e50: gemini `region --gene TP53` — every variant whose impact
    * annotation lands in the named gene. The gene filter is a
    * selective predicate pushed onto the impacts scan; the distinct
    * variant-key frame it yields is gene-sized, so it BROADCASTs into
    * a left-semi join against one variants scan — the fact table never
    * shuffles (e28's anti-join shape, semi-join polarity).
    */
  def e50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, variants, impacts) = VcfReader.fromLines(s, VcfFixture.lines)
    val keys = impacts.filter($"symbol" === "TP53")
      .select($"chrom", $"pos", $"alt").distinct()
    variants.join(broadcast(keys), Seq("chrom", "pos", "alt"), "left_semi")
      .select($"chrom", $"pos", $"ref", $"alt", $"qual", $"filter")
      .orderBy($"chrom", $"pos", $"alt")
  }

  /** e51: gemini `stats --tstv-coding` generalized — the ts/tv QC ratio
    * STRATIFIED by the variant's worst-impact severity class (HIGH
    * frameshift/stop sites behave differently from LOW synonymous
    * ones; a skewed coding ts/tv is the classic callset-artifact
    * signal). Worst impact per variant is e04's rank rule; the
    * severity dim it yields is variant-sized and broadcasts into one
    * equi-join against the variants scan, then a 3-group partial agg —
    * e20's shape with one extra broadcast join.
    */
  def e51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, variants, impacts) = VcfReader.fromLines(s, VcfFixture.lines)
    val w = Window.partitionBy($"chrom", $"pos", $"ref", $"alt")
      .orderBy($"severity_rank", $"consequence")
    val worst = impacts
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"chrom", $"pos", $"ref", $"alt", $"impact_severity")
    // ref IS a join key: two decomposed records can share (chrom, pos,
    // alt) with different refs, and a 3-key join would fan them out and
    // double-count the ts/tv tallies (the window above partitions on
    // all four).
    variants.join(broadcast(worst), Seq("chrom", "pos", "ref", "alt"))
      .filter(length($"ref") === 1 && length($"alt") === 1)
      .withColumn("is_ts", expr(Etl.tsExpr))
      .groupBy($"impact_severity")
      .agg(sum(when($"is_ts", 1L).otherwise(0L)).as("n_ts"),
        sum(when($"is_ts", 0L).otherwise(1L)).as("n_tv"))
      .withColumn("tstv",
        expr("round(CAST(n_ts AS DOUBLE) / nullif(n_tv, 0), 6)"))
      .orderBy($"impact_severity")
  }

  /** e52: VCF EXPORT — the reverse of the load path: reassemble each
    * decomposed variants-table row into a spec-conformant VCF body
    * line (CHROM..FILTER plus a typed-column-rebuilt INFO string, DP →
    * AF → DB → TYPE field order; missing values as `.`). Closes the
    * round trip a vcf2db user needs to hand a cohort subset back to
    * bcftools/IGV. Pure per-row codegen string assembly at scan speed —
    * no shuffle beyond the presentation sort (and concat_ws's
    * null-skipping builds the INFO field without a single branch tree
    * per combination).
    */
  def e52(s: SparkSession, dir: String): DataFrame =
    vcfExportLines(VcfFixture.variants(s))
      .orderBy(col("chrom"), col("pos"), col("alt"))

  /** `col(n)` when the frame carries it, else a typed NULL — what lets
    * the export line builders run over ANY variants frame (a loaded
    * GraftDb flattens only the INFO fields its header declared).
    */
  private def colOr(v: DataFrame, n: String, tpe: String): Column =
    if (v.columns.contains(n)) col(n) else lit(null).cast(tpe)

  /** e52's line builder over any variants frame — the CLI `export
    * --format=vcf` path routes here (same expressions, no new logic).
    */
  def vcfExportLines(v: DataFrame): DataFrame = {
    val (dp, af, db, tpe) = (colOr(v, "dp", "long"), colOr(v, "af", "double"),
      colOr(v, "db", "boolean"), colOr(v, "type", "string"))
    v.withColumn("info", concat_ws(";",
        when(dp.isNotNull, concat(lit("DP="), dp.cast("string"))),
        when(af.isNotNull, concat(lit("AF="), af.cast("string"))),
        when(db, lit("DB")),
        when(tpe.isNotNull, concat(lit("TYPE="), tpe))))
      .withColumn("vcf_line", concat_ws("\t",
        col("chrom"), col("pos").cast("string"),
        coalesce(colOr(v, "vid", "string"), lit(".")),
        col("ref"), col("alt"),
        coalesce(colOr(v, "qual", "double").cast("string"), lit(".")),
        coalesce(colOr(v, "filter", "string"), lit(".")),
        when(length(col("info")) > 0, col("info")).otherwise(lit("."))))
      .select(col("chrom"), col("pos"), col("alt"), col("vcf_line"))
  }

  /** JSON string-field escaping shared by e54's two engines: backslash
    * first, then double quote — literal replace() (not regex), same op
    * order in the DuckDB oracle (which spells the characters as
    * chr(92)/chr(34) to dodge SQL-literal escaping).
    */
  private[graft] def jsonEscape(c: Column): Column =
    replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))

  /** e54: gemini `query --format json` — each decomposed variant row
    * serialized as a JSON object line (the gemini export consumed by
    * downstream scripting; key order fixed, missing values as JSON
    * null, string fields backslash/quote-escaped via [[jsonEscape]]).
    * The JSON is assembled by the SAME per-row codegen
    * concatenation in both engines — not an engine-native to_json,
    * whose key ordering/number formatting is engine-defined — so the
    * bytes hash-match. Scan-speed string assembly, no shuffle beyond
    * the presentation sort (e52's regime).
    */
  def e54(s: SparkSession, dir: String): DataFrame =
    jsonExportLines(VcfFixture.variants(s))
      .orderBy(col("chrom"), col("pos"), col("alt"))

  /** e54's line builder over any variants frame — the CLI `export
    * --format=json` path (same expressions, absent columns emit JSON
    * null exactly like absent values).
    */
  def jsonExportLines(v: DataFrame): DataFrame = {
    val vid = colOr(v, "vid", "string")
    val filt = colOr(v, "filter", "string")
    v.withColumn("json_line", concat(
        lit("{\"chrom\": \""), jsonEscape(col("chrom")),
        lit("\", \"pos\": "), col("pos").cast("string"),
        lit(", \"id\": "),
        when(vid.isNotNull, concat(lit("\""), jsonEscape(vid), lit("\"")))
          .otherwise(lit("null")),
        lit(", \"ref\": \""), jsonEscape(col("ref")),
        lit("\", \"alt\": \""), jsonEscape(col("alt")),
        lit("\", \"qual\": "),
        coalesce(colOr(v, "qual", "double").cast("string"), lit("null")),
        lit(", \"filter\": "),
        when(filt.isNotNull, concat(lit("\""), jsonEscape(filt), lit("\"")))
          .otherwise(lit("null")),
        lit(", \"dp\": "),
        coalesce(colOr(v, "dp", "long").cast("string"), lit("null")),
        lit(", \"af\": "),
        coalesce(colOr(v, "af", "double").cast("string"), lit("null")),
        lit("}")))
      .select(col("chrom"), col("pos"), col("alt"), col("json_line"))
  }

  /** e55: gemini `db_info` — the table/column inventory of the loaded
    * database (table name, column name, 1-based ordinal). A CATALOG
    * operation: Spark reads only parquet FOOTERS on the driver (no data
    * scan, no job), exactly as gemini reads sqlite's schema tables; the
    * result is dim-sized at any data scale. Types are deliberately
    * omitted — each engine spells them differently, names + positions
    * are the cross-engine contract.
    */
  def e55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.all.flatMap { t =>
      s.read.parquet(s"$dir/$t.parquet").schema.fields.toSeq
        .zipWithIndex.map { case (f, i) => (t, f.name, i + 1) }
    }.toDF("table_name", "column_name", "ordinal")
      .orderBy($"table_name", $"ordinal")
  }

  /** Embedded GTF gene-model fixture for e56: an explicit `gene` row
    * (BRCA1), a gene known only through transcript/exon rows (TP53 —
    * exercises the feature-hull path), a second-chrom gene and an
    * uncovered one.
    */
  val gtfLines: Vector[String] = Vector(
    "#!genome-build fixture",
    "1\thavana\tgene\t50\t150\t.\t+\t.\tgene_id \"ENSG1\"; gene_name \"BRCA1\";",
    "1\thavana\ttranscript\t180\t250\t.\t-\t.\tgene_id \"ENSG2\"; gene_name \"TP53\";",
    "1\thavana\texon\t190\t260\t.\t-\t.\tgene_id \"ENSG2\"; gene_name \"TP53\";",
    "2\thavana\tgene\t250\t350\t.\t+\t.\tgene_id \"ENSG3\"; gene_name \"EGFR\";",
    "X\thavana\texon\t500\t600\t.\t+\t.\tgene_id \"ENSG4\"; gene_name \"DMD\";")

  /** e56: gene-model annotation from GTF — each variant labeled with
    * the gene span(s) covering its position, the refGene-style gene
    * table GEMINI's `region --gene` is served from, here ingested from
    * the PUBLIC interchange format (Ensembl/GENCODE GTF; 1-based
    * inclusive, unlike BED — `sources.GtfSource` handles both row
    * shapes: explicit gene rows and transcript/exon hulls).
    *
    * Scale shape: gene models are a DIM (~20k genes) at any cohort
    * size — the span collapse is one dim-sized agg and the annotation
    * is e14's binned BROADCAST equi-join (never a chrom-keyed join:
    * 24-key skew); one variants scan.
    */
  def e56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val genes = graft.sources.GtfSource.genes(
      graft.sources.GtfSource.fromLines(s, gtfLines))
    Etl.annotateIntervals(VcfFixture.variants(s), genes)
      .select($"chrom", $"pos", $"alt", $"gene_id", $"gene_name",
        $"strand", $"r_start", $"r_end")
      .orderBy($"chrom", $"pos", $"alt", $"gene_id")
  }

  // ---------------------------------------------------------------- oracles

  private val gtLong: String =
    s"""(SELECT chrom, pos, alt, six, gt,
       |   CASE WHEN gt = 3 THEN 2 WHEN gt = 1 THEN 1 ELSE 0 END AS copies
       | FROM (
       |  SELECT chrom, pos, alt, 1 AS six, gt_s1 AS gt FROM ${VcfFixture.gtValues}
       |  UNION ALL SELECT chrom, pos, alt, 2, gt_s2 FROM ${VcfFixture.gtValues}
       |  UNION ALL SELECT chrom, pos, alt, 3, gt_s3 FROM ${VcfFixture.gtValues}
       |  UNION ALL SELECT chrom, pos, alt, 4, gt_s4 FROM ${VcfFixture.gtValues}) gg
       |)""".stripMargin

  /** The PED (sample, phenotype) dim as a SQL VALUES literal, derived
    * from the same pedLines the Spark side parses.
    */
  private val pedPhenoValues: String =
    VcfFixture.pedLines.filterNot(_.startsWith("#"))
      .map { l => val f = l.split("\\s+"); s"('${f(1)}', ${f(5)})" }
      .mkString("(VALUES ", ", ", ") p(sample, phenotype)")

  /** The PED (sample, family_id) dim as a SQL VALUES literal. */
  private val pedFamilyValues: String =
    VcfFixture.pedLines.filterNot(_.startsWith("#"))
      .map { l => val f = l.split("\\s+"); s"('${f(1)}', '${f(0)}')" }
      .mkString("(VALUES ", ", ", ") pf(sample, family_id)")

  /** e60: SEX-CHECK QC (plink `--check-sex` / peddy's sex inference on
    * this engine's tables): per sample, the X-chromosome heterozygosity
    * profile against the PED's declared sex — males carry ONE X, so an
    * X het rate near the autosomal rate means a sample swap, a
    * contamination, or a pedigree recording error; every cohort QC
    * pipeline runs this before any inheritance query (e17–e27 all
    * silently mislead on a swapped sample). Inference rule: X het rate
    * > 0.5 → female (2), else male (1); mismatch = inferred ≠
    * declared. The fixture's s4 (declared male, het on X) trips it.
    *
    * Scale shape: ONE posexplode of the X-sliced variants (the chrom
    * predicate prunes first — at biobank scale X is ~5% of sites) into
    * a sample-keyed partial agg; the PED sex dim broadcasts onto the
    * sample-dim result. No corpus-wide shuffle.
    */
  def e60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    val sexes = VcfFixture.pedLines.filterNot(_.startsWith("#"))
      .map { l => val f = l.split("\\s+"); (f(1), f(4).toInt) }
      .toDF("sample", "declared_sex")
    gtBySample(s, variants.filter($"chrom" === "X"), h.samples)
      .groupBy($"sample")
      .agg(sum(when($"gt_class" =!= 2, 1L).otherwise(0L)).as("n_x_calls"),
        sum(when($"gt_class" === 1, 1L).otherwise(0L)).as("n_x_het"))
      .join(broadcast(sexes), Seq("sample"))
      .withColumn("x_het_rate", expr(
        "round(CAST(n_x_het AS DOUBLE) / nullif(CAST(n_x_calls AS DOUBLE), 0.0e0), 6)"))
      .withColumn("inferred_sex",
        when($"x_het_rate" > 0.5, 2).otherwise(1))
      .withColumn("sex_mismatch", $"inferred_sex" =!= $"declared_sex")
      .select($"sample", $"declared_sex", $"n_x_calls", $"n_x_het",
        $"x_het_rate", $"inferred_sex", $"sex_mismatch")
      .orderBy($"sample")
  }

  /** e61: Ts/Tv BY SAMPLE — the transition/transversion ratio computed
    * per sample over its called non-ref genotypes (e20 reports the
    * cohort ratio; the PER-SAMPLE form is the QC that catches ONE bad
    * library: a sample whose Ts/Tv sags toward 0.5 while the cohort
    * holds ~2 has artifact calls concentrated in it, invisible in the
    * pooled number). Transitions are the purine↔purine /
    * pyrimidine↔pyrimidine pairs (A↔G, C↔T); everything else
    * transverts.
    *
    * Scale shape: ONE posexplode of the variants into the sample-keyed
    * partial agg (gtBySample's regime — the per-variant ref/alt ride
    * the exploded row, no second join against the sites), result is
    * sample-dim-sized; the ratio is one double division on identical
    * BIGINT counts.
    */
  def e61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, _) = VcfReader.fromLines(s, VcfFixture.lines)
    val isTi = ($"ref" === "A" && $"alt" === "G") ||
      ($"ref" === "G" && $"alt" === "A") ||
      ($"ref" === "C" && $"alt" === "T") ||
      ($"ref" === "T" && $"alt" === "C")
    gtBySample(s, variants, h.samples)
      .join(broadcast(variants.select($"chrom", $"pos", $"alt", $"ref")),
        Seq("chrom", "pos", "alt"))
      .filter($"gt_class".isin(1, 3))
      .groupBy($"sample")
      .agg(sum(when(isTi, 1L).otherwise(0L)).as("n_ts"),
        sum(when(!isTi, 1L).otherwise(0L)).as("n_tv"))
      .withColumn("ts_tv", expr(
        "round(CAST(n_ts AS DOUBLE) / nullif(CAST(n_tv AS DOUBLE), 0.0e0), 6)"))
      .select($"sample", $"n_ts", $"n_tv", $"ts_tv")
      .orderBy($"sample")
  }

  /** e62: CASE/CONTROL BURDEN ASSOCIATION — per gene, the 2×2 carrier
    * table (affected vs unaffected × carrier vs non-carrier) and its
    * odds ratio: gemini's `burden` tool carried to the association
    * question ("is carrying ANY variant in this gene enriched in
    * cases?"), the rare-variant collapsing test's contingency stage
    * (e33's C-alpha is the dispersion companion). The OR numerator and
    * denominator ship as EXACT integer cross-products (a·d and b·c) so
    * downstream exact tests never re-derive them from a rounded float;
    * the reported OR is one double division.
    *
    * Scale shape: carriers collapse in ONE (gene, sample) partial agg
    * off the posexploded variants (gene labels ride the broadcast
    * impacts dim); the phenotype dim broadcasts; the 2×2 rollup is
    * gene-dim-sized.
    */
  def e62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h, variants, impacts) = VcfReader.fromLines(s, VcfFixture.lines)
    val genes = impacts.select($"chrom", $"pos", $"alt",
      Etl.geneCol(impacts).as("gene")).distinct()
    val carriers = gtBySample(s, variants, h.samples)
      .join(broadcast(genes), Seq("chrom", "pos", "alt"))
      .groupBy($"gene", $"sample")
      .agg(max(when($"gt_class".isin(1, 3), 1).otherwise(0)).as("carrier"))
    val cohort = carriers
      .join(broadcast(phenotypes(s)), Seq("sample"))
      .groupBy($"gene")
      .agg(
        sum(when($"phenotype" === 2 && $"carrier" === 1, 1L).otherwise(0L)).as("aff_carrier"),
        sum(when($"phenotype" === 2 && $"carrier" === 0, 1L).otherwise(0L)).as("aff_noncarrier"),
        sum(when($"phenotype" === 1 && $"carrier" === 1, 1L).otherwise(0L)).as("unaff_carrier"),
        sum(when($"phenotype" === 1 && $"carrier" === 0, 1L).otherwise(0L)).as("unaff_noncarrier"))
    cohort
      .withColumn("or_num", $"aff_carrier" * $"unaff_noncarrier")
      .withColumn("or_den", $"aff_noncarrier" * $"unaff_carrier")
      .withColumn("odds_ratio", expr(
        "round(CAST(or_num AS DOUBLE) / nullif(CAST(or_den AS DOUBLE), 0.0e0), 6)"))
      .select($"gene", $"aff_carrier", $"aff_noncarrier",
        $"unaff_carrier", $"unaff_noncarrier", $"or_num", $"or_den",
        $"odds_ratio")
      .orderBy($"gene")
  }

  val oracle: Map[String, String] = Map(
    "e62_burden_assoc" ->
      s"""WITH ph(sample, phenotype) AS (VALUES
         |  ('s1', 2), ('s2', 1), ('s3', 1), ('s4', 1)),
         |genes AS (SELECT DISTINCT chrom, pos, alt, symbol AS gene
         |  FROM ${VcfFixture.impactsValues}),
         |car AS (SELECT gene, 's' || CAST(six AS VARCHAR) AS sample,
         |  MAX(CASE WHEN gt IN (1, 3) THEN 1 ELSE 0 END) AS carrier
         | FROM $gtLong g
         | JOIN genes ON g.chrom = genes.chrom AND g.pos = genes.pos
         |   AND g.alt = genes.alt
         | GROUP BY 1, 2),
         |tab AS (SELECT gene,
         |  CAST(SUM(CASE WHEN phenotype = 2 AND carrier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS aff_carrier,
         |  CAST(SUM(CASE WHEN phenotype = 2 AND carrier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS aff_noncarrier,
         |  CAST(SUM(CASE WHEN phenotype = 1 AND carrier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unaff_carrier,
         |  CAST(SUM(CASE WHEN phenotype = 1 AND carrier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unaff_noncarrier
         | FROM car JOIN ph ON car.sample = ph.sample GROUP BY gene)
         |SELECT gene, aff_carrier, aff_noncarrier, unaff_carrier,
         | unaff_noncarrier,
         | aff_carrier * unaff_noncarrier AS or_num,
         | aff_noncarrier * unaff_carrier AS or_den,
         | round(CAST(aff_carrier * unaff_noncarrier AS DOUBLE)
         |   / nullif(CAST(aff_noncarrier * unaff_carrier AS DOUBLE), 0.0e0), 6)
         |   AS odds_ratio
         |FROM tab ORDER BY gene""".stripMargin,
    "e61_tstv_by_sample" ->
      s"""WITH j AS (
         | SELECT 's' || CAST(six AS VARCHAR) AS sample, g.gt, v.ref, v.alt,
         |  CASE WHEN (v.ref = 'A' AND v.alt = 'G') OR (v.ref = 'G' AND v.alt = 'A')
         |        OR (v.ref = 'C' AND v.alt = 'T') OR (v.ref = 'T' AND v.alt = 'C')
         |   THEN 1 ELSE 0 END AS is_ti
         | FROM $gtLong g
         | JOIN ${VcfFixture.variantsValues}
         |   ON g.chrom = v.chrom AND g.pos = v.pos AND g.alt = v.alt
         | WHERE g.gt IN (1, 3))
         |SELECT sample,
         | CAST(SUM(is_ti) AS BIGINT) AS n_ts,
         | CAST(SUM(1 - is_ti) AS BIGINT) AS n_tv,
         | round(CAST(SUM(is_ti) AS DOUBLE)
         |   / nullif(CAST(SUM(1 - is_ti) AS DOUBLE), 0.0e0), 6) AS ts_tv
         |FROM j GROUP BY sample ORDER BY sample""".stripMargin,
    "e60_sex_check" ->
      s"""WITH sx(sample, declared_sex) AS (VALUES
         |  ('s1', 1), ('s2', 1), ('s3', 2), ('s4', 1)),
         |x AS (SELECT 's' || CAST(six AS VARCHAR) AS sample,
         |  CAST(SUM(CASE WHEN gt <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_x_calls,
         |  CAST(SUM(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_x_het
         | FROM $gtLong WHERE chrom = 'X' GROUP BY 1),
         |r AS (SELECT x.sample, declared_sex, n_x_calls, n_x_het,
         |  round(CAST(n_x_het AS DOUBLE)
         |    / nullif(CAST(n_x_calls AS DOUBLE), 0.0e0), 6) AS x_het_rate
         | FROM x JOIN sx ON x.sample = sx.sample)
         |SELECT sample, declared_sex, n_x_calls, n_x_het, x_het_rate,
         | CASE WHEN x_het_rate > 0.5e0 THEN 2 ELSE 1 END AS inferred_sex,
         | (CASE WHEN x_het_rate > 0.5e0 THEN 2 ELSE 1 END <> declared_sex)
         |   AS sex_mismatch
         |FROM r ORDER BY sample""".stripMargin,
    "e56_gtf_genes" ->
      s"""WITH g(r_chrom, gene_id, r_start, r_end, gene_name, strand) AS (VALUES
         | ('1', 'ENSG1',  50, 150, 'BRCA1', '+'),
         | ('1', 'ENSG2', 180, 260, 'TP53',  '-'),
         | ('2', 'ENSG3', 250, 350, 'EGFR',  '+'),
         | ('X', 'ENSG4', 500, 600, 'DMD',   '+'))
         |SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | g.gene_id, g.gene_name, g.strand,
         | CAST(g.r_start AS BIGINT) AS r_start,
         | CAST(g.r_end AS BIGINT) AS r_end
         |FROM ${VcfFixture.variantsValues}
         |JOIN g ON g.r_chrom = v.chrom
         | AND v.pos >= g.r_start AND v.pos <= g.r_end
         |ORDER BY v.chrom, v.pos, v.alt, g.gene_id""".stripMargin,
    "e54_json_export" -> {
      // replace(replace(x, '\', '\\'), '"', '\"') with the characters
      // spelled as chr() so no SQL-literal escaping is involved.
      def js(col: String): String =
        s"replace(replace($col, chr(92), chr(92) || chr(92)), " +
          s"chr(34), chr(92) || chr(34))"
      s"""SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | '{"chrom": "' || ${js("chrom")} || '", "pos": ' || CAST(pos AS VARCHAR) ||
         | ', "id": ' || COALESCE('"' || ${js("vid")} || '"', 'null') ||
         | ', "ref": "' || ${js("ref")} || '", "alt": "' || ${js("alt")} ||
         | '", "qual": ' || COALESCE(CAST(CAST(qual AS DOUBLE) AS VARCHAR), 'null') ||
         | ', "filter": ' || COALESCE('"' || ${js("filter")} || '"', 'null') ||
         | ', "dp": ' || COALESCE(CAST(dp AS VARCHAR), 'null') ||
         | ', "af": ' || COALESCE(CAST(CAST(af AS DOUBLE) AS VARCHAR), 'null') ||
         | '}' AS json_line
         |FROM ${VcfFixture.variantsValues}
         |ORDER BY chrom, pos, alt""".stripMargin
    },
    "e55_db_info" -> {
      val names = graft.Tables.all.map(t => s"'$t'").mkString(", ")
      s"""SELECT table_name, column_name,
         | CAST(ordinal_position AS INT) AS ordinal
         |FROM information_schema.columns
         |WHERE table_name IN ($names)
         |ORDER BY table_name, ordinal""".stripMargin
    },
    "e51_tstv_by_impact" ->
      s"""WITH worst AS (
         | SELECT chrom, pos, ref, alt, impact_severity,
         |  ROW_NUMBER() OVER (PARTITION BY chrom, pos, ref, alt
         |    ORDER BY severity_rank, consequence) AS rn
         | FROM ${VcfFixture.impactsValues}),
         |j AS (
         | SELECT w.impact_severity,
         |  ((v.ref = 'A' AND v.alt = 'G') OR (v.ref = 'G' AND v.alt = 'A') OR
         |   (v.ref = 'C' AND v.alt = 'T') OR (v.ref = 'T' AND v.alt = 'C')) AS ts
         | FROM ${VcfFixture.variantsValues}
         | JOIN worst w ON w.chrom = v.chrom AND w.pos = v.pos
         |   AND w.ref = v.ref AND w.alt = v.alt AND w.rn = 1
         | WHERE LENGTH(v.ref) = 1 AND LENGTH(v.alt) = 1),
         |agg AS (
         | SELECT impact_severity,
         |  CAST(SUM(CASE WHEN ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts,
         |  CAST(SUM(CASE WHEN ts THEN 0 ELSE 1 END) AS BIGINT) AS n_tv
         | FROM j GROUP BY 1)
         |SELECT impact_severity, n_ts, n_tv,
         | round(CAST(n_ts AS DOUBLE) / nullif(n_tv, 0), 6) AS tstv
         |FROM agg ORDER BY impact_severity""".stripMargin,
    "e52_vcf_export" ->
      s"""WITH built AS (
         | SELECT chrom, pos, vid, ref, alt, qual, filter,
         |  concat_ws(';',
         |   CASE WHEN dp IS NOT NULL THEN 'DP=' || CAST(dp AS VARCHAR) END,
         |   CASE WHEN af IS NOT NULL
         |     THEN 'AF=' || CAST(CAST(af AS DOUBLE) AS VARCHAR) END,
         |   CASE WHEN db THEN 'DB' END,
         |   CASE WHEN type IS NOT NULL THEN 'TYPE=' || type END) AS info
         | FROM ${VcfFixture.variantsValues})
         |SELECT chrom, CAST(pos AS BIGINT) AS pos, alt,
         | concat_ws(chr(9), chrom, CAST(pos AS VARCHAR),
         |  COALESCE(vid, '.'), ref, alt,
         |  COALESCE(CAST(CAST(qual AS DOUBLE) AS VARCHAR), '.'),
         |  COALESCE(filter, '.'),
         |  CASE WHEN length(info) > 0 THEN info ELSE '.' END) AS vcf_line
         |FROM built ORDER BY chrom, pos, alt""".stripMargin,
    "e47_gene_wise" ->
      s"""WITH sites AS (
         | SELECT DISTINCT chrom, pos, alt, symbol AS gene
         | FROM ${VcfFixture.impactsValues}),
         |hits AS (
         | SELECT DISTINCT i.gene, g.chrom, g.pos, g.alt, pf.family_id
         | FROM $gtLong g
         | JOIN $pedFamilyValues ON 's' || CAST(g.six AS VARCHAR) = pf.sample
         | JOIN sites i ON i.chrom = g.chrom AND i.pos = g.pos AND i.alt = g.alt
         | WHERE g.gt IN (1, 3)),
         |genes AS (
         | SELECT gene, CAST(COUNT(DISTINCT family_id) AS INTEGER) AS n_kindreds
         | FROM hits GROUP BY 1 HAVING COUNT(DISTINCT family_id) >= 2)
         |SELECT h.gene, h.chrom, CAST(h.pos AS BIGINT) AS pos, h.alt,
         | h.family_id, ge.n_kindreds
         |FROM hits h JOIN genes ge ON h.gene = ge.gene
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "e50_region_gene" ->
      s"""SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.ref, v.alt,
         | CAST(v.qual AS DOUBLE) AS qual, v.filter
         |FROM ${VcfFixture.variantsValues}
         |WHERE EXISTS (SELECT 1 FROM ${VcfFixture.impactsValues}
         |  WHERE i.symbol = 'TP53' AND i.chrom = v.chrom
         |    AND i.pos = v.pos AND i.alt = v.alt)
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e48_snp_counts" ->
      s"""SELECT ref || '->' || alt AS substitution,
         | CAST(COUNT(*) AS BIGINT) AS n_variants
         |FROM ${VcfFixture.variantsValues}
         |WHERE LENGTH(ref) = 1 AND LENGTH(alt) = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "e49_tped" ->
      s"""WITH cell AS (
         | SELECT f.chrom, f.pos, f.alt, f.sample_ix,
         |  CASE
         |   WHEN c.gt = 2 THEN '0 0'
         |   WHEN len(list_filter(string_split(replace(f.gt, '|', '/'), '/'),
         |          a -> a <> '0' AND a <> '.'))
         |        = (CASE WHEN c.gt = 3 THEN 2 WHEN c.gt = 1 THEN 1 ELSE 0 END)
         |     THEN CASE WHEN c.gt = 3 THEN v.alt || ' ' || v.alt
         |               WHEN c.gt = 1 THEN v.ref || ' ' || v.alt
         |               ELSE v.ref || ' ' || v.ref END
         |   ELSE '0 0' END AS g2
         | FROM ${VcfFixture.gtFormatValues}
         | JOIN $gtLong c
         |   ON c.chrom = f.chrom AND c.pos = f.pos AND c.alt = f.alt
         |  AND c.six = f.sample_ix
         | JOIN ${VcfFixture.variantsValues}
         |   ON v.chrom = f.chrom AND v.pos = f.pos AND v.alt = f.alt),
         |lines AS (
         | SELECT chrom, pos, alt,
         |  STRING_AGG(g2, ' ' ORDER BY sample_ix) AS genotypes
         | FROM cell GROUP BY 1, 2, 3)
         |SELECT v.chrom,
         | COALESCE(v.vid, v.chrom || ':' || CAST(v.pos AS VARCHAR)) AS snp_id,
         | CAST(0 AS INTEGER) AS cm, CAST(v.pos AS BIGINT) AS pos, l.genotypes
         |FROM ${VcfFixture.variantsValues}
         |JOIN lines l ON l.chrom = v.chrom AND l.pos = v.pos AND l.alt = v.alt
         |ORDER BY v.chrom, v.pos, l.genotypes""".stripMargin,
    "e46_show_families" ->
      s"""WITH carr AS (
         | SELECT g.chrom, g.pos, g.alt, pf.family_id
         | FROM $gtLong g
         | JOIN $pedFamilyValues ON 's' || CAST(g.six AS VARCHAR) = pf.sample
         | WHERE g.gt IN (1, 3)),
         |lists AS (
         | SELECT chrom, pos, alt,
         |  STRING_AGG(DISTINCT family_id, ',' ORDER BY family_id) AS families,
         |  COUNT(DISTINCT family_id) AS n_kindreds
         | FROM carr GROUP BY 1, 2, 3)
         |SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | COALESCE(l.families, '') AS families,
         | CAST(COALESCE(l.n_kindreds, 0) AS INTEGER) AS n_kindreds
         |FROM ${VcfFixture.variantsValues}
         |LEFT JOIN lists l
         |  ON l.chrom = v.chrom AND l.pos = v.pos AND l.alt = v.alt
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e38_vars_by_sample" ->
      s"""SELECT 's' || CAST(six AS VARCHAR) AS sample,
         | CAST(SUM(CASE WHEN gt IN (1, 3) THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_variants
         |FROM $gtLong GROUP BY 1 ORDER BY sample""".stripMargin,
    "e39_gts_by_sample" ->
      s"""SELECT 's' || CAST(six AS VARCHAR) AS sample,
         | CAST(SUM(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
         | CAST(SUM(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
         | CAST(SUM(CASE WHEN gt = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt,
         | CAST(SUM(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
         |FROM $gtLong GROUP BY 1 ORDER BY sample""".stripMargin,
    "e40_carrier_summary" ->
      s"""SELECT g.chrom, CAST(g.pos AS BIGINT) AS pos, g.alt,
         | CAST(SUM(CASE WHEN p.phenotype = 2 AND g.gt IN (1, 3)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_aff_carrier,
         | CAST(SUM(CASE WHEN p.phenotype = 2 AND g.gt = 0
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_aff_noncarrier,
         | CAST(SUM(CASE WHEN p.phenotype = 1 AND g.gt IN (1, 3)
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_unaff_carrier,
         | CAST(SUM(CASE WHEN p.phenotype = 1 AND g.gt = 0
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_unaff_noncarrier
         |FROM $gtLong g
         |JOIN $pedPhenoValues
         |  ON p.sample = 's' || CAST(g.six AS VARCHAR)
         |GROUP BY g.chrom, g.pos, g.alt
         |ORDER BY g.chrom, g.pos, g.alt""".stripMargin,
    "e34_annotate_extract" -> {
      val avals = annotRows
        .map { case (c, a, b, v) => s"('$c', $a, $b, $v)" }.mkString(",\n ")
      s"""WITH scored AS (
         | SELECT v.chrom, v.pos, v.alt,
         |  CAST(COUNT(*) AS INTEGER) AS n_overlaps,
         |  SUM(CAST(a.score AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE) AS score_mean,
         |  MAX(CAST(a.score AS DOUBLE)) AS score_max
         | FROM ${VcfFixture.variantsValues}
         | JOIN (VALUES
         | $avals
         | ) a(a_chrom, a_start, a_end, score)
         |   ON v.chrom = a.a_chrom AND v.pos BETWEEN a.a_start AND a.a_end
         | GROUP BY 1, 2, 3)
         |SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | s.n_overlaps, s.score_mean, s.score_max
         |FROM ${VcfFixture.variantsValues}
         |LEFT JOIN scored s
         |  ON s.chrom = v.chrom AND s.pos = v.pos AND s.alt = v.alt
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin
    },
    "e35_sfs" ->
      s"""SELECT CAST(num_het + 2 * num_hom_alt AS INTEGER) AS ac,
         | CAST(COUNT(*) AS BIGINT) AS n_variants
         |FROM ${VcfFixture.variantsValues}
         |GROUP BY 1 ORDER BY ac""".stripMargin,
    "e37_show_samples" ->
      s"""WITH lists AS (
         | SELECT chrom, pos, alt,
         |  COALESCE(STRING_AGG(CASE WHEN gt = 1 THEN 's' || CAST(six AS VARCHAR) END,
         |    ',' ORDER BY six), '') AS het_samples,
         |  COALESCE(STRING_AGG(CASE WHEN gt = 3 THEN 's' || CAST(six AS VARCHAR) END,
         |    ',' ORDER BY six), '') AS hom_alt_samples
         | FROM $gtLong GROUP BY 1, 2, 3)
         |SELECT v.chrom, CAST(v.pos AS BIGINT) AS pos, v.alt,
         | l.het_samples, l.hom_alt_samples
         |FROM ${VcfFixture.variantsValues}
         |LEFT JOIN lists l
         |  ON l.chrom = v.chrom AND l.pos = v.pos AND l.alt = v.alt
         |ORDER BY v.chrom, v.pos, v.alt""".stripMargin,
    "e36_mds" ->
      s"""SELECT 's' || CAST(a.six AS VARCHAR) AS sample_a,
         | 's' || CAST(b.six AS VARCHAR) AS sample_b,
         | CAST(COUNT(*) AS BIGINT) AS n_sites,
         | CAST(SUM((a.copies - b.copies) * (a.copies - b.copies)) AS DOUBLE)
         |   / CAST(COUNT(*) AS DOUBLE) AS distance
         |FROM $gtLong a
         |JOIN $gtLong b
         |  ON a.chrom = b.chrom AND a.pos = b.pos AND a.alt = b.alt
         | AND a.six < b.six
         |WHERE a.gt <> 2 AND b.gt <> 2
         |GROUP BY 1, 2 ORDER BY sample_a, sample_b""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e34_annotate_extract" -> (e34 _),
    "e35_sfs" -> (e35 _),
    "e36_mds" -> (e36 _),
    "e37_show_samples" -> (e37 _),
    "e38_vars_by_sample" -> (e38 _),
    "e39_gts_by_sample" -> (e39 _),
    "e40_carrier_summary" -> (e40 _),
    "e46_show_families" -> (e46 _),
    "e47_gene_wise" -> (e47 _),
    "e48_snp_counts" -> (e48 _),
    "e49_tped" -> (e49 _),
    "e50_region_gene" -> (e50 _),
    "e51_tstv_by_impact" -> (e51 _),
    "e52_vcf_export" -> (e52 _),
    "e54_json_export" -> (e54 _),
    "e55_db_info" -> (e55 _),
    "e56_gtf_genes" -> (e56 _),
    "e60_sex_check" -> (e60 _),
    "e61_tstv_by_sample" -> (e61 _),
    "e62_burden_assoc" -> (e62 _)
  )
}
