package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{snappyPack, snappyUnpack, zlibPack,
  zlibPackStr, zlibUnpack, zlibUnpackStr}
import graft.sinks.DbSink
import graft.sources.{PedSource, VcfReader}

/** The reference's product surface as one Spark job:
  * `vcf2db VCF [PED] OUT` → a queryable database of
  * `variants` (typed INFO columns + genotype stats + worst impact
  * denormalized), `variant_impacts`, `samples`, and `vcf_header`.
  *
  * Two scans of the VCF text and, unless `sortedOutput` asks for a range
  * layout, no shuffle: the variants scan parses each record once,
  * straight into Catalyst rows that already carry the record's own
  * worst impact (VcfReader.forLoad); the impacts table is a second,
  * site-only scan.
  *
  * Sink is the bounded-parallelism DbSink: parquet here (no JDBC
  * driver jar in this container); swapping in `DbSink.writeJdbc`
  * retargets the same job at sqlite/MySQL/PostgreSQL exactly like the
  * reference's peewee backends.
  */
object Vcf2Db {

  /** Worst-impact denormalization as a join — the reference picks the
    * top-severity annotation per variant and copies its headline fields
    * onto the variants row (gene, impact, impact_severity, plus the
    * severity_rank that picked them): a window over the impacts table,
    * then a left join on the variant key.
    *
    * `run` does not use it: the load makes the same pick inside the
    * per-record parse, and this form stays as the reference that pick
    * is tested against. The two differ on two inputs only. Entries tied
    * on (severity_rank, impact) are picked arbitrarily here, in CSQ
    * order by the parse. Records sharing a (chrom, pos, ref, alt) key
    * all get the worst entry of their union here, each its own in the
    * parse.
    */
  def denormalizeWorstImpact(variants: DataFrame, impacts: DataFrame): DataFrame = {
    // annotator-agnostic column resolution: VEP names its fields
    // Consequence/SYMBOL, SnpEff Annotation/Gene_Name — hardcoding one
    // set crashes the whole load for the other annotator's VCFs
    val consCol = graft.operators.Etl.consequenceCol(impacts)
    val w = Window.partitionBy("chrom", "pos", "ref", "alt")
      .orderBy(col("severity_rank"), consCol)
    val geneCol = graft.operators.Etl.geneCol(impacts)
    val worst = impacts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("chrom").as("i_chrom"), col("pos").as("i_pos"),
        col("ref").as("i_ref"), col("alt").as("i_alt"),
        geneCol.as("gene"), consCol.as("impact"),
        col("impact_severity"), col("severity_rank"))
    variants.join(worst,
      variants("chrom") === worst("i_chrom") && variants("pos") === worst("i_pos") &&
        variants("ref") === worst("i_ref") && variants("alt") === worst("i_alt"),
      "left")
      .drop("i_chrom", "i_pos", "i_ref", "i_alt")
  }

  /** The int-array genotype columns — pack (packGenotypeBlobs) and
    * unpack (GraftDb.expandGenotypes) must agree on this list. The last
    * three are the PL-derived phred-likelihood columns the reference
    * packs for GEMINI compatibility when FORMAT PL is present.
    */
  private[graft] val intArrayCols =
    Seq("gt_types", "gt_depths", "gt_ref_depths", "gt_alt_depths", "gt_quals",
      "gt_phred_ll_homref", "gt_phred_ll_het", "gt_phred_ll_homalt",
      "gt_phases")

  /** The ten per-sample genotype blob columns (the reference's six
    * plus the PL-derived phred trio and gt_phases): each typed array
    * compressed per row (codegen Catalyst expressions, packing
    * happens executor-side after the reader — never on the driver).
    * `codec` = "zlib" (reference default) or "snappy" (its later
    * versions; ~3× faster pack at a modest ratio cost — the 100 TB
    * default). The string-array `gts` column always packs zlib.
    * Read them back with `GraftDb.expandGenotypes`.
    */
  def packGenotypeBlobs(variants: DataFrame, codec: String = "zlib"): DataFrame = {
    require(codec == "zlib" || codec == "snappy", s"unknown blob codec: $codec")
    val pack: Column => Column = if (codec == "zlib") zlibPack else snappyPack
    intArrayCols
      .filter(variants.columns.contains)
      .foldLeft(variants)((df, c) => df.withColumn(c, pack(col(c))))
      .transform(df =>
        if (df.columns.contains("gts")) df.withColumn("gts", zlibPackStr(col("gts")))
        else df)
  }

  /** @param sortedOutput when > 0, the variants table is written
    *   range-partitioned + sorted by (chrom, pos) into this many slabs
    *   (Scale.writeRangeSorted) instead of hash-partitioned — the
    *   layout region queries want: per-file key ranges are disjoint,
    *   so a chrom/pos predicate prunes whole files via parquet
    *   row-group min/max. Buy once at load time, win on every
    *   GraftDb.region query after.
    */
  /** @param jdbcUrl when set, every table writes through
    *   [[DbSink.writeJdbc]] against this URL instead of parquet — the
    *   reference's actual product (a sqlite/MySQL/PG database via
    *   peewee). Multi-valued INFO arrays degrade to comma-joined TEXT
    *   exactly like the reference; genotype blobs land as BLOBs.
    *   `outDir` is ignored for table data in this mode.
    */
  def run(spark: SparkSession, vcfPath: String, pedPath: Option[String],
      outDir: String, writerPartitions: Int = 8,
      expand: Seq[String] = Nil, blobCodec: String = "zlib",
      sortedOutput: Int = 0, jdbcUrl: Option[String] = None,
      jdbcBatchSize: Int = 10000, passOnly: Boolean = false): Unit = {
    import spark.implicits._
    // variants arrive with their worst impact already picked (when the
    // header declares an annotation key). The reference's --passonly:
    // a record whose FILTER failed (anything but PASS or missing '.')
    // yields no variants and no impacts, dropped in each table's parse —
    // so no annotation of a dropped record can survive as an orphan.
    val (header, denorm, impacts) = VcfReader.forLoad(spark, vcfPath, passOnly)
    // the reference's --expand flag: selected per-sample arrays ALSO
    // materialize as one typed column per sample (gt-filter queries hit
    // plain columns, no blob decode), named <field>_<sample>. ONE
    // projection for all of them — a withColumn per (field, sample)
    // nests a Project node each, which is quadratic analyzer work at
    // cohort sample counts
    // loud on typos (mirrors the CLI's strict flag validation — a
    // silently-dropped misspelling used to mean "no columns, no error"),
    // deduplicated so a repeated name can't fail the write late with a
    // duplicate-column error
    val expandNames = expand.distinct
    val unknownExpand = expandNames.filterNot(denorm.columns.contains)
    require(unknownExpand.isEmpty,
      s"--expand names not in the variants schema: ${unknownExpand.mkString(", ")}")
    val expandCols = for {
      f <- expandNames
      (name, i) <- header.samples.zipWithIndex
    } yield col(f).getItem(i).as(s"${f}_${graft.sources.VcfParser.sanitize(name)}")
    val expanded =
      if (expandCols.isEmpty) denorm
      else denorm.select(denorm.columns.map(col).toSeq ++ expandCols: _*)
    val variantsOut = packGenotypeBlobs(expanded, blobCodec)
    // one sink closure for both backends — the tables and their order
    // are identical; only the target differs (parquet dir vs JDBC table)
    val sink: (org.apache.spark.sql.DataFrame, String, Int) => Unit =
      jdbcUrl match {
        case Some(url) => (df, table, parts) =>
          DbSink.writeJdbc(DbSink.jdbcSafe(df),
            DbSink.JdbcConf(url = url, table = table,
              batchSize = jdbcBatchSize, numPartitions = parts),
            mode = org.apache.spark.sql.SaveMode.Overwrite)
        case None => (df, name, parts) =>
          DbSink.writeParquet(df, s"$outDir/$name", parts)
      }
    if (sortedOutput > 0 && jdbcUrl.isEmpty)
      graft.operators.Scale.writeRangeSorted(variantsOut,
        s"$outDir/variants", sortedOutput, col("chrom"), col("pos"))
    else
      sink(variantsOut, "variants", writerPartitions)
    if (header.annKey.isDefined)
      sink(impacts, "variant_impacts", writerPartitions)
    pedPath.foreach { p =>
      sink(PedSource.fromPath(spark, p), "samples", 1)
    }
    // self-describing blob codec: a synthetic header line records which
    // codec packed the blobs, so readers don't have to trust call-site
    // discipline (a snappy db read as zlib fails deep inside a query)
    val headerOut = header.rawLines :+ s"##graft_blob_codec=$blobCodec"
    sink(
      headerOut.zipWithIndex.map { case (l, i) => (i + 1, l) }
        .toDF("line_no", "line"),
      "vcf_header", 1)
  }

  private val usage =
    "usage: Vcf2Db <vcf> [<ped>] <outDir> [--expand=gt_types,...] " +
      "[--blob-codec=zlib|snappy] [--sorted-output=N] " +
      "[--jdbc-url=jdbc:...] [--jdbc-batch-size=N] [--passonly=true]"

  def main(args: Array[String]): Unit = {
    val (flag, positional) = Cli.parse(args,
      Set("expand", "blob-codec", "sorted-output", "jdbc-url",
        "jdbc-batch-size", "passonly"), usage)
    require(positional.length == 2 || positional.length == 3, usage)
    val (vcf, ped, out) =
      if (positional.length == 2) (positional(0), None, positional(1))
      else (positional(0), Some(positional(1)), positional(2))
    val expand = flag("expand").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val codec = flag("blob-codec").getOrElse("zlib")
    val sorted = flag("sorted-output").map(_.toInt).getOrElse(0)
    val spark = GraftSession.build()
    try run(spark, vcf, ped, out, expand = expand, blobCodec = codec,
      sortedOutput = sorted, jdbcUrl = flag("jdbc-url"),
      jdbcBatchSize = flag("jdbc-batch-size").map(_.toInt).getOrElse(10000),
      passOnly = flag("passonly").exists(_.toBoolean))
    finally spark.stop()
  }
}

/** Read-side accessors over a Vcf2Db output directory — the GEMINI-ish
  * query entry point a downstream user loads tables from.
  */
object GraftDb {
  def variants(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/variants")

  /** GEMINI-style region filter: "chrom", "chrom:start-end", or
    * "chrom:pos" — plain chrom/pos comparisons, so they push down to
    * parquet (or to the vcf source's split pruning) untouched.
    *
    * Contig names carrying multiple ':' (GRCh38 HLA/ALT contigs like
    * "HLA-A*01:01:01:01") can't be the simple form, so such specs fall
    * back to a literal whole-name chrom match (samtools' resolution
    * order); a single-':' spec with a malformed range is still rejected
    * loudly — it is far more likely a typo than a contig name.
    */
  def region(df: DataFrame, spec: String): DataFrame = {
    val re = """^([^:]+)(?::(\d+)(?:-(\d+))?)?$""".r
    spec.trim match {
      case re(chrom, null, null) => df.filter(col("chrom") === chrom)
      case re(chrom, pos, null) =>
        df.filter(col("chrom") === chrom && col("pos") === pos.toLong)
      case re(chrom, start, end) =>
        require(start.toLong <= end.toLong,
          s"bad region '$spec': start ${start} > end ${end}")
        df.filter(col("chrom") === chrom &&
          col("pos") >= start.toLong && col("pos") <= end.toLong)
      case s if s.count(_ == ':') >= 2 => df.filter(col("chrom") === s)
      case _ => throw new IllegalArgumentException(
        s"bad region '$spec' (want chrom[:start[-end]])")
    }
  }

  /** The blob codec recorded at write time (absent for pre-marker
    * databases → the zlib default).
    */
  def storedBlobCodec(spark: SparkSession, dir: String): Option[String] =
    vcfHeader(spark, dir)
      .filter(col("line").startsWith("##graft_blob_codec="))
      .collect().headOption
      .map(_.getAs[String]("line").stripPrefix("##graft_blob_codec="))

  private def resolveCodec(spark: SparkSession, dir: String, codec: String): String =
    if (codec == "auto") storedBlobCodec(spark, dir).getOrElse("zlib") else codec

  /** Variants with the ten genotype blobs unpacked back to typed arrays
    * (the reference's `--expand` read path). `codec` must match the one
    * the table was written with.
    */
  def expandGenotypes(spark: SparkSession, dir: String,
      codec: String = "auto"): DataFrame = {
    // "auto" (the default everywhere on the read side) resolves from
    // the codec marker the writer recorded in vcf_header
    val resolved = resolveCodec(spark, dir, codec)
    require(resolved == "zlib" || resolved == "snappy", s"unknown blob codec: $resolved")
    val unpack: Column => Column = if (resolved == "zlib") zlibUnpack else snappyUnpack
    Vcf2Db.intArrayCols
      .foldLeft(variants(spark, dir))((df, c) =>
        if (df.columns.contains(c)) df.withColumn(c, unpack(col(c))) else df)
      .transform(df =>
        if (df.columns.contains("gts")) df.withColumn("gts", zlibUnpackStr(col("gts")))
        else df)
  }
  def impacts(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/variant_impacts")
  def samples(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/samples")
  def vcfHeader(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/vcf_header")

  /** GEMINI `amend --sample`: replace the stored samples table from a
    * corrected PED (fixed phenotypes/sexes/families) WITHOUT reloading
    * the cohort — pedigree fixes are routine after a load, genotypes
    * never change with them. The new PED must cover the genotyped
    * cohort: the gt-array columns are positional in header sample
    * order, so a PED missing a genotyped sample would silently
    * misclassify every wildcard gt-filter class built from it.
    */
  def amendSamples(spark: SparkSession, dir: String, pedPath: String): Unit = {
    val ped = graft.sources.PedSource.fromPath(spark, pedPath)
    val cohort = headerSamples(spark, dir).toSet
    val pedNames = ped.select("sample_id").collect().map(_.getString(0)).toSet
    val missing = cohort -- pedNames
    require(missing.isEmpty,
      s"amend PED is missing genotyped samples: ${missing.mkString(", ")}")
    // stage through a temp dir: parquet overwrite deletes the target
    // before the job reads it when source == sink
    val tmp = s"$dir/samples__amend_tmp"
    ped.coalesce(1).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/samples")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** The gt-array sample order = the stored header's #CHROM column
    * line. One driver-side row fetch — header metadata, not data.
    */
  def headerSamples(spark: SparkSession, dir: String): Seq[String] = {
    val line = vcfHeader(spark, dir)
      .filter(col("line").startsWith("#CHROM")).select("line")
      .collect().headOption.getOrElse(
        throw new IllegalStateException(s"$dir/vcf_header has no #CHROM line"))
      .getString(0)
    line.split('\t').drop(9).toSeq
  }

  private def trios(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Inheritance.triosFromSamples(
      spark, samples(spark, dir), headerSamples(spark, dir))

  /** GEMINI's family tools over a LOADED database (blobs unpacked,
    * trios derived from the samples table): de_novo / auto_rec /
    * mendel_error classification and compound-het pairs.
    */
  def inheritanceClassify(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame =
    graft.operators.Inheritance.minKindreds(
      graft.operators.Inheritance.classify(
        spark, expandGenotypes(spark, dir, codec), trios(spark, dir)),
      minKindreds)

  /** `minKindreds` follows GEMINI: for comp_hets the kindred count is
    * per GENE (a gene hit by candidate pairs in ≥ N families), not per
    * variant pair.
    */
  def compHets(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame =
    graft.operators.Inheritance.minKindreds(
      graft.operators.Inheritance.compHets(
        spark, expandGenotypes(spark, dir, codec), impacts(spark, dir),
        trios(spark, dir)),
      minKindreds, keyCols = Seq("gene"))

  /** GEMINI `--gt-filter` wildcard over a loaded database: variants
    * whose unpacked genotype arrays satisfy the DSL predicate, e.g.
    * `(gt_types).(phenotype==2).(==HET).(all)` — see
    * [[graft.operators.GtFilter]]. One codegen row predicate, no
    * explode; the variants scan is the whole cost.
    */
  def gtFilter(spark: SparkSession, dir: String, spec: String,
      codec: String = "auto"): DataFrame = {
    val v = expandGenotypes(spark, dir, codec)
    v.filter(graft.operators.GtFilter.compile(
      spec, samples(spark, dir), headerSamples(spark, dir)))
  }

  /** GEMINI `query --sample-filter WHERE --in any|all|none|only`:
    * variants related to the sample subset the WHERE picks from the
    * samples table — see [[graft.operators.GtFilter.sampleFilter]].
    */
  def sampleFilter(spark: SparkSession, dir: String, where: String,
      in: String = "any", codec: String = "auto"): DataFrame = {
    val v = expandGenotypes(spark, dir, codec)
    v.filter(graft.operators.GtFilter.sampleFilter(
      where, in, samples(spark, dir), headerSamples(spark, dir)))
  }

  /** GEMINI mendel_errors-style QC summary over a loaded database:
    * inheritance-class counts per (family, child) — e27's shape on the
    * stored tables (one partial-agg shuffle over the classification
    * scan).
    */
  def mendelSummary(spark: SparkSession, dir: String,
      codec: String = "auto"): DataFrame =
    inheritanceClassify(spark, dir, codec)
      .groupBy(col("family_id"), col("child"), col("class"))
      .agg(count(lit(1)).as("n_variants"))
      .orderBy(col("family_id"), col("child"), col("class"))

  /** GEMINI X-linked tools over a loaded database — trio dim carries
    * the samples table's sex column.
    */
  def xlinked(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame =
    graft.operators.Inheritance.minKindreds(
      graft.operators.Inheritance.xlinked(
        spark, expandGenotypes(spark, dir, codec),
        graft.operators.Inheritance.triosWithSex(
          spark, samples(spark, dir), headerSamples(spark, dir))),
      minKindreds)

  /** GEMINI x_linked_dominant over a loaded database — trio dim
    * carries sex and the three phenotypes from the samples table.
    */
  def xlinkedDom(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame =
    graft.operators.Inheritance.minKindreds(
      graft.operators.Inheritance.xlinkedDom(
        spark, expandGenotypes(spark, dir, codec),
        graft.operators.Inheritance.triosWithSexPheno(
          spark, samples(spark, dir), trios(spark, dir))),
      minKindreds)

  /** Cohort QC over a loaded database: ts/tv ratio per chromosome,
    * per-(gene, severity) burden, per-sample genotype stats, and runs
    * of homozygosity.
    */
  def tstv(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Etl.tstv(spark, variants(spark, dir))

  def geneBurden(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Etl.geneBurden(spark, impacts(spark, dir))

  def sampleQc(spark: SparkSession, dir: String,
      codec: String = "auto"): DataFrame =
    graft.operators.Etl.sampleQc(spark,
      expandGenotypes(spark, dir, codec), headerSamples(spark, dir))

  def roh(spark: SparkSession, dir: String, minSites: Int = 2,
      codec: String = "auto"): DataFrame =
    graft.operators.Etl.roh(spark,
      expandGenotypes(spark, dir, codec), headerSamples(spark, dir), minSites)

  /** GEMINI `annotate` over a loaded database: variants labeled with
    * every overlapping interval from a BED file (broadcast bin-bucketed
    * join — see Etl.annotateIntervals for the scale shape).
    */
  def annotate(spark: SparkSession, dir: String, bedPath: String,
      binW: Long = 100000L): DataFrame =
    graft.operators.Etl.annotateIntervals(
      variants(spark, dir),
      graft.sources.BedSource.fromPath(spark, bedPath), binW)

  /** Gene-model annotation from a GTF file (Ensembl/GENCODE): each
    * variant labeled with its covering gene spans — the refGene-style
    * table `region --gene` is served from, via the same binned
    * broadcast interval join as BED annotate (gene models are a
    * ~20k-row dim at any cohort size).
    */
  def annotateGtf(spark: SparkSession, dir: String, gtfPath: String,
      binW: Long = 100000L): DataFrame =
    graft.operators.Etl.annotateIntervals(
      variants(spark, dir),
      graft.sources.GtfSource.genes(
        graft.sources.GtfSource.fromPath(spark, gtfPath)), binW)

  /** GEMINI `annotate` from a VCF annotation source (dbSNP/ClinVar
    * style): exact allele-keyed left join of the loaded cohort against
    * a second VCF's decomposed records — see
    * [[graft.operators.Etl.annotateVcf]] for the scale shape (the
    * annotation source is corpus-sized, so it is NOT broadcast; the
    * 4-part variant key shuffles both sides).
    */
  def annotateVcf(spark: SparkSession, dir: String, vcfPath: String,
      prefix: String = "ann_"): DataFrame = {
    val ann = spark.read.format("vcf").load(vcfPath)
    graft.operators.Etl.annotateVcf(variants(spark, dir), ann, prefix)
  }

  /** VCF EXPORT over a loaded database — the reverse of the load path,
    * closing the round trip a vcf2db user needs to hand a cohort subset
    * back to bcftools/IGV (e52 is the fixture-sized oracle form of the
    * line assembly). Each record is rebuilt from the typed columns the
    * STORED HEADER declares: INFO fields in header order (Flags by
    * presence, scalars cast, decomposed R/G arrays re-emitted
    * comma-joined with `.` for missing elements; the annotation key —
    * CSQ/ANN — lives in variant_impacts and is not reassembled), and
    * genotypes re-derived per sample from gt_types in header sample
    * order (0/0, 0/1, 1/1, ./. — decomposed diploid semantics, the
    * vt-decompose convention; phasing and other-alt references do not
    * survive decompose).
    *
    * Output is a DIRECTORY of plain-text shards, each carrying the full
    * header — exactly the sharded-cohort layout `format("vcf")` reads
    * back — written range-partitioned on (chrom, pos) and sorted within
    * shards, so the export is itself a `sorted=true` prunable cohort.
    * Scale shape: per-row codegen string assembly + one range shuffle;
    * no collect, no driver bottleneck at any cohort size.
    */
  def exportVcf(spark: SparkSession, dir: String, outDir: String,
      shards: Int = 1, codec: String = "auto"): Unit = {
    import spark.implicits._
    val rawHeader = vcfHeader(spark, dir).orderBy("line_no")
      .select("line").collect().map(_.getString(0)).toVector
      .filterNot(_.startsWith("##graft_blob_codec="))
    val h = graft.sources.VcfParser.parseHeader(rawHeader)
    val df = expandGenotypes(spark, dir, codec)
    val cols = df.columns.toSet
    val infoParts: Seq[Column] = graft.sources.VcfReader.infoSpecs(h)
      .map(s => (s, graft.sources.VcfParser.sanitize(s.id)))
      .filter { case (_, c) => cols.contains(c) }
      .map { case (s, c) =>
        val tag = lit(s.id + "=")
        (s.number, df.schema(c).dataType) match {
          case ("0", _) => when(col(c), lit(s.id))
          case (_, _: org.apache.spark.sql.types.ArrayType) =>
            when(col(c).isNotNull, concat(tag, concat_ws(",",
              transform(col(c), x => coalesce(x.cast("string"), lit("."))))))
          case _ =>
            when(col(c).isNotNull, concat(tag, col(c).cast("string")))
        }
      }
    val info = concat_ws(";", infoParts: _*)
    val site = Seq(col("chrom"), col("pos").cast("string"),
      coalesce(col("vid"), lit(".")), col("ref"), col("alt"),
      coalesce(col("qual").cast("string"), lit(".")),
      coalesce(col("filter"), lit(".")),
      when(length(info) > 0, info).otherwise(lit(".")))
    val fields =
      if (h.samples.nonEmpty && cols.contains("gt_types"))
        site ++ Seq(lit("GT"), concat_ws("\t", transform(col("gt_types"),
          g => when(g === 0, "0/0").when(g === 1, "0/1")
            .when(g === 3, "1/1").otherwise("./."))))
      else site
    val headerText = rawHeader.mkString("\n")
    df.withColumn("vcf_line", concat_ws("\t", fields: _*))
      .repartitionByRange(math.max(1, shards), col("chrom"), col("pos"))
      .sortWithinPartitions("chrom", "pos", "alt")
      .select("vcf_line").as[String]
      .mapPartitions(it => Iterator(headerText) ++ it)
      .write.mode("overwrite").text(outDir)
  }

  /** GEMINI `fusions` over a loaded database: breakend (BND) variants
    * whose two ends land in two different genes of the BED's intervals
    * (name column = gene). Broadcast binned joins; the variants fact is
    * scanned once — see [[graft.operators.Sv.fusions]].
    */
  def fusions(spark: SparkSession, dir: String, bedPath: String,
      binW: Long = 100000L): DataFrame = {
    val genes = graft.sources.BedSource.fromPath(spark, bedPath)
      .select(col("r_chrom").as("g_chrom"), col("r_start").as("g_start"),
        col("r_end").as("g_end"), col("region").as("gene"))
    graft.operators.Sv.fusions(variants(spark, dir), genes, binW)
  }

  /** GEMINI `db_info`: one row per (table, column, type) across the
    * loaded database — schema metadata read from the stored tables
    * (driver-side schema fetch; no data scan).
    */
  def dbInfo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    val tables = Seq("variants", "variant_impacts", "samples", "vcf_header")
      .filter(t => exists(s"$dir/$t"))
    tables.flatMap { t =>
      spark.read.parquet(s"$dir/$t").schema.fields.map(f =>
        (t, f.name, f.dataType.simpleString))
    }.toDF("table_name", "column_name", "column_type")
  }

  /** GEMINI `dump --tfam`: the samples table in PLINK .tfam column
    * order (family, sample, paternal, maternal, sex, phenotype).
    */
  def dumpTfam(spark: SparkSession, dir: String): DataFrame =
    samples(spark, dir).select("family_id", "sample_id", "paternal_id",
      "maternal_id", "sex", "phenotype")

  /** GEMINI `amend --sample`: replace the stored samples table from a
    * new PED file (re-phenotyping a loaded cohort without a reload).
    * The new PED must cover the same sample ids the genotype arrays
    * were packed for — enforced against the stored header's #CHROM
    * sample list, since a silently narrowed cohort would mis-attribute
    * every per-sample array index downstream.
    */
  def amend(spark: SparkSession, dir: String, pedPath: String): Unit = {
    val ped = graft.sources.PedSource.fromPath(spark, pedPath)
    val newIds = ped.select("sample_id").collect().map(_.getString(0)).toSet
    val expected = headerSamples(spark, dir).toSet
    require(expected.subsetOf(newIds),
      s"amend PED is missing cohort samples: ${(expected -- newIds).mkString(", ")}")
    // stage-then-swap: parquet reads are lazy, so writing straight over
    // the directory being read would corrupt it mid-scan
    val tmp = s"$dir/samples__amend_tmp"
    graft.sinks.DbSink.writeParquet(ped, tmp, 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dst = new org.apache.hadoop.fs.Path(s"$dir/samples")
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Registers the loaded tables as temp views (genotype blobs already
    * expanded) so the reference's SQL surface runs verbatim:
    * `spark.sql("SELECT ... FROM variants JOIN variant_impacts ...")`.
    * Tables absent from the database (impacts for an annotation-less
    * VCF) are skipped.
    */
  def createViews(spark: SparkSession, dir: String,
      codec: String = "auto"): Unit = {
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    expandGenotypes(spark, dir, codec).createOrReplaceTempView("variants")
    if (exists(s"$dir/variant_impacts"))
      impacts(spark, dir).createOrReplaceTempView("variant_impacts")
    if (exists(s"$dir/samples"))
      samples(spark, dir).createOrReplaceTempView("samples")
    vcfHeader(spark, dir).createOrReplaceTempView("vcf_header")
  }
}
