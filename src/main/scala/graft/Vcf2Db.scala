package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

import graft.functions.GraftFunctions.{snappyPack, snappyUnpack, zlibPack,
  zlibPackStr, zlibUnpack, zlibUnpackStr}
import graft.operators.{GtFilter, Inheritance}
import graft.sinks.DbSink
import graft.sources.{PedSource, VcfLineAssembler, VcfReader}

/** The reference's product surface as one Spark job:
  * `vcf2db VCF [PED] OUT` → a queryable database of
  * `variants` (typed INFO columns + genotype stats + worst impact
  * denormalized), `variant_impacts`, `samples`, and `vcf_header`.
  *
  * One scan of the VCF text, one parse per record and no shuffle: the
  * scan (VcfReader.forLoad) yields variants rows that already carry
  * their record's worst impact, and the record's first alt row also
  * carries the record's impacts rows. `DbSink.writeParquetDb` writes all
  * four parquet tables from that scan in one job under one commit, at
  * the scan's width, or range-sorted first under `sortedOutput`.
  *
  * `jdbcUrl` retargets the same tables at a SQL database through
  * `DbSink.writeJdbc` (sqlite/MySQL/PostgreSQL given their driver jar,
  * exactly like the reference's peewee backends): one table at a time,
  * the impacts from a second scan of the same shape.
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
    * versions; the 100 TB default). On a 20-sample int blob snappy
    * packs in ~0.3 µs against zlib's ~2.5 µs, for ~30 % more bytes (55
    * vs 42; JDK 17, 4-vCPU Xeon). The string-array `gts` column always
    * packs zlib.
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

  /** @param writerPartitions the writer width of each JDBC table (its
    *   connection cap). The parquet load writes at the scan's own width.
    * @param sortedOutput when > 0, the load's rows are range-partitioned
    *   on (chrom, pos) into this many slabs and sorted within each
    *   before the one-job write, so the variants (and impacts) files
    *   cover disjoint key ranges — the layout region queries want: a
    *   chrom/pos predicate prunes whole files via parquet row-group
    *   min/max. Buy once at load time, win on every GraftDb.region
    *   query after.
    * @param jdbcUrl when set, every table writes through
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
    // one scan: variants arrive with their worst impact already picked
    // and their record's impacts rows in a nested column (when the
    // header declares an annotation key). The reference's --passonly:
    // a record whose FILTER failed (anything but PASS or missing '.')
    // yields no variants and no impacts, dropped in the parse — so no
    // annotation of a dropped record can survive as an orphan.
    val (header, scanned) = VcfReader.forLoad(spark, vcfPath, passOnly)
    val nested = VcfReader.impactsColumn
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
    val unknownExpand = expandNames.filterNot(n => n != nested && scanned.columns.contains(n))
    require(unknownExpand.isEmpty,
      s"--expand names not in the variants schema: ${unknownExpand.mkString(", ")}")
    val expandCols = for {
      f <- expandNames
      (name, i) <- header.samples.zipWithIndex
    } yield col(f).getItem(i).as(s"${f}_${graft.sources.VcfParser.sanitize(name)}")
    val expanded =
      if (expandCols.isEmpty) scanned
      else scanned.select(scanned.columns.map(c => scanned.col(s"`$c`")).toSeq ++ expandCols: _*)
    val loaded = packGenotypeBlobs(expanded, blobCodec)
    val samples = pedPath.map { p =>
      val (schema, rows) = PedSource.parse(PedSource.lines(spark, p))
      DbSink.LocalTable("samples", schema, rows)
    }
    // self-describing blob codec: a synthetic header line records which
    // codec packed the blobs, so readers don't have to trust call-site
    // discipline (a snappy db read as zlib fails deep inside a query)
    val headerOut = DbSink.LocalTable("vcf_header",
      StructType(Seq(StructField("line_no", IntegerType, nullable = false),
        StructField("line", StringType))),
      (header.rawLines :+ s"##graft_blob_codec=$blobCodec").zipWithIndex
        .map { case (l, i) => Row(i + 1, l) })
    val local = samples.toSeq :+ headerOut
    jdbcUrl match {
      case None =>
        // --sorted-output range-sorts the rows before the same one-job
        // write; the impacts ride in their first alt row's nested column
        val rows =
          if (sortedOutput <= 0) loaded
          else loaded.repartitionByRange(sortedOutput, col("chrom"), col("pos"))
            .sortWithinPartitions(col("chrom"), col("pos"))
        DbSink.writeParquetDb(rows, outDir, "variants",
          if (header.annKey.isDefined) Some(nested -> "variant_impacts") else None, local)
      case Some(url) =>
        // table at a time: JDBC caps its connections per table
        def sink(df: DataFrame, table: String, parts: Int): Unit =
          DbSink.writeJdbc(DbSink.jdbcSafe(df),
            DbSink.JdbcConf(url = url, table = table,
              batchSize = jdbcBatchSize, numPartitions = parts),
            mode = org.apache.spark.sql.SaveMode.Overwrite)
        sink(loaded.drop(nested), "variants", writerPartitions)
        if (header.annKey.isDefined)
          sink(VcfReader.impactsOf(header, scanned), "variant_impacts", writerPartitions)
        local.foreach(t => sink(spark.createDataFrame(t.rows.asJava, t.schema), t.name, 1))
    }
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
    readTable(spark, s"$dir/variants")

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

  private val codecMarker = "##graft_blob_codec="

  /** One call's read of a database's metadata, dropped when the call
    * ends (`amendSamples` may rewrite `samples` between calls):
    * `vcf_header` collected here, once, and `samples` once on first use.
    */
  private[graft] final class Metadata(spark: SparkSession, dir: String) {
    private val header =
      vcfHeader(spark, dir).collect().sortBy(_.getInt(0)).map(_.getString(1)).toVector
    val codec: Option[String] =
      header.collectFirst { case l if l.startsWith(codecMarker) => l.stripPrefix(codecMarker) }
    /** The header a VCF written from this database carries. */
    val vcfLines: Vector[String] = header.filterNot(_.startsWith(codecMarker))
    /** The gt-array sample order: the #CHROM line's. */
    lazy val sampleOrder: Seq[String] = header.find(_.startsWith("#CHROM"))
      .getOrElse(throw new IllegalStateException(s"$dir/vcf_header has no #CHROM line"))
      .split('\t').drop(9).toSeq
    private lazy val stored =
      if (exists(spark, s"$dir/samples")) GraftDb.samples(spark, dir)
      else PedSource.fromLines(spark, Nil)
    private lazy val sampleRows = stored.collect().toSeq
    /** `samples` as a local relation (no rows without a PED): filtering
      * or collecting it runs no Spark job.
      */
    lazy val samples: DataFrame = spark.createDataFrame(sampleRows.asJava, stored.schema)
    lazy val trios: DataFrame = Inheritance.trios(spark, sampleRows, sampleOrder)
    /** [[expandGenotypes]]: "auto" is the recorded codec, else zlib. */
    def genotypes(codec: String): DataFrame =
      unpack(variants(spark, dir), if (codec == "auto") this.codec.getOrElse("zlib") else codec)
  }

  /** The blob codec recorded at write time (absent for pre-marker
    * databases → the zlib default).
    */
  def storedBlobCodec(spark: SparkSession, dir: String): Option[String] =
    new Metadata(spark, dir).codec

  /** Variants with the ten genotype blobs unpacked back to typed arrays
    * (the reference's `--expand` read path). `codec` must match the one
    * the table was written with; "auto" (the default everywhere on the
    * read side) resolves from the codec marker the writer recorded in
    * vcf_header.
    */
  def expandGenotypes(spark: SparkSession, dir: String,
      codec: String = "auto"): DataFrame =
    if (codec == "auto") new Metadata(spark, dir).genotypes(codec)
    else unpack(variants(spark, dir), codec)

  private def unpack(variants: DataFrame, codec: String): DataFrame = {
    require(codec == "zlib" || codec == "snappy", s"unknown blob codec: $codec")
    val unpack: Column => Column = if (codec == "zlib") zlibUnpack else snappyUnpack
    Vcf2Db.intArrayCols
      .foldLeft(variants)((df, c) =>
        if (df.columns.contains(c)) df.withColumn(c, unpack(col(c))) else df)
      .transform(df =>
        if (df.columns.contains("gts")) df.withColumn("gts", zlibUnpackStr(col("gts")))
        else df)
  }
  def impacts(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/variant_impacts")
  def samples(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, s"$dir/samples")

  /** A table read with the schema Spark's writer stored in the footer of
    * its first part file, read on the driver: a schema-less read runs a
    * Spark job to infer it. A table without that footer key (or without
    * a part file) is read schema-less.
    */
  private def readTable(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(conf)
    val stored = (if (fs.exists(table)) fs.listStatus(table).toSeq else Nil)
      .map(_.getPath).find(p => p.getName.endsWith(".parquet") &&
        !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .flatMap { part =>
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
        try Option(footer.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally footer.close()
      }
    stored.fold(spark.read)(json =>
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])).parquet(path)
  }
  /** Read with the schema Vcf2Db.run writes: inferring it would run a
    * Spark job.
    */
  def vcfHeader(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema("line_no INT, line STRING").parquet(s"$dir/vcf_header")

  /** GEMINI `amend --sample`: replace the stored samples table from a
    * corrected PED (fixed phenotypes/sexes/families) WITHOUT reloading
    * the cohort — pedigree fixes are routine after a load, genotypes
    * never change with them. The new PED must cover the genotyped
    * cohort: the gt-array columns are positional in header sample
    * order, so a PED missing a genotyped sample would silently
    * misclassify every wildcard gt-filter class built from it.
    */
  def amendSamples(spark: SparkSession, dir: String, pedPath: String): Unit = {
    val ped = PedSource.fromPath(spark, pedPath)
    val cohort = headerSamples(spark, dir).toSet
    val pedNames = ped.select("sample_id").collect().map(_.getString(0)).toSet
    val missing = cohort -- pedNames
    require(missing.isEmpty,
      s"amend PED is missing genotyped samples: ${missing.mkString(", ")}")
    // stage-then-swap: parquet reads are lazy, so writing straight over
    // the directory being read would corrupt it mid-scan
    val tmp = s"$dir/samples__amend_tmp"
    DbSink.writeParquet(ped, tmp, 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dst = new org.apache.hadoop.fs.Path(s"$dir/samples")
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** The gt-array sample order = the stored header's #CHROM column
    * line — header metadata, not data.
    */
  def headerSamples(spark: SparkSession, dir: String): Seq[String] =
    new Metadata(spark, dir).sampleOrder

  /** GEMINI's family tools over a LOADED database (blobs unpacked,
    * trios derived from the samples table): de_novo / auto_rec /
    * mendel_error classification and compound-het pairs.
    */
  def inheritanceClassify(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame = {
    val db = new Metadata(spark, dir)
    Inheritance.minKindreds(
      Inheritance.classify(spark, db.genotypes(codec), db.trios), minKindreds)
  }

  /** `minKindreds` follows GEMINI: for comp_hets the kindred count is
    * per GENE (a gene hit by candidate pairs in ≥ N families), not per
    * variant pair.
    */
  def compHets(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame = {
    val db = new Metadata(spark, dir)
    Inheritance.minKindreds(
      Inheritance.compHets(spark, db.genotypes(codec), impacts(spark, dir), db.trios),
      minKindreds, keyCols = Seq("gene"))
  }

  /** GEMINI `--gt-filter` wildcard over a loaded database: variants
    * whose unpacked genotype arrays satisfy the DSL predicate, e.g.
    * `(gt_types).(phenotype==2).(==HET).(all)` — see
    * [[graft.operators.GtFilter]]. One codegen row predicate, no
    * explode; the variants scan is the whole cost.
    */
  def gtFilter(spark: SparkSession, dir: String, spec: String,
      codec: String = "auto"): DataFrame = {
    val db = new Metadata(spark, dir)
    db.genotypes(codec).filter(GtFilter.compile(spec, db.samples, db.sampleOrder))
  }

  /** GEMINI `query --sample-filter WHERE --in any|all|none|only`:
    * variants related to the sample subset the WHERE picks from the
    * samples table — see [[graft.operators.GtFilter.sampleFilter]].
    */
  def sampleFilter(spark: SparkSession, dir: String, where: String,
      in: String = "any", codec: String = "auto"): DataFrame = {
    val db = new Metadata(spark, dir)
    db.genotypes(codec).filter(
      GtFilter.sampleFilter(where, in, db.samples, db.sampleOrder))
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

  /** GEMINI X-linked tools over a loaded database — the trio dim's
    * sex comes from the samples table.
    */
  def xlinked(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame = {
    val db = new Metadata(spark, dir)
    Inheritance.minKindreds(
      Inheritance.xlinked(spark, db.genotypes(codec), db.trios), minKindreds)
  }

  /** GEMINI x_linked_dominant over a loaded database — the trio dim's
    * sex and three phenotypes come from the samples table.
    */
  def xlinkedDom(spark: SparkSession, dir: String,
      codec: String = "auto", minKindreds: Int = 1): DataFrame = {
    val db = new Metadata(spark, dir)
    Inheritance.minKindreds(
      Inheritance.xlinkedDom(spark, db.genotypes(codec), db.trios), minKindreds)
  }

  /** Cohort QC over a loaded database: ts/tv ratio per chromosome,
    * per-(gene, severity) burden, per-sample genotype stats, and runs
    * of homozygosity.
    */
  def tstv(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Etl.tstv(spark, variants(spark, dir))

  def geneBurden(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Etl.geneBurden(spark, impacts(spark, dir))

  def sampleQc(spark: SparkSession, dir: String,
      codec: String = "auto"): DataFrame = {
    val db = new Metadata(spark, dir)
    graft.operators.Etl.sampleQc(spark, db.genotypes(codec), db.sampleOrder)
  }

  def roh(spark: SparkSession, dir: String, minSites: Int = 2,
      codec: String = "auto"): DataFrame = {
    val db = new Metadata(spark, dir)
    graft.operators.Etl.roh(spark, db.genotypes(codec), db.sampleOrder, minSites)
  }

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

  /** The stored VCF header lines, in order, less graft's blob-codec
    * marker: the header a VCF written from this database carries.
    */
  private[graft] def storedHeader(spark: SparkSession, dir: String): Vector[String] =
    new Metadata(spark, dir).vcfLines

  /** VCF EXPORT over a loaded database — the reverse of the load path,
    * closing the round trip a vcf2db user needs to hand a cohort subset
    * back to bcftools/IGV. The variants, genotype blobs unpacked, go
    * through `format("vcf")`'s writer under the [[storedHeader]]: INFO
    * fields the header declares in header order (the annotation key —
    * CSQ/ANN — lives in variant_impacts and is not reassembled), and
    * genotypes re-derived per sample from gt_types in header sample
    * order (0/0, 0/1, 1/1, ./. — decomposed diploid semantics, the
    * vt-decompose convention; phasing and other-alt references do not
    * survive decompose).
    *
    * Output is a DIRECTORY of up to `shards` plain-text shards (fewer
    * when the cohort has fewer distinct positions), each carrying
    * the full header — exactly the sharded-cohort layout `format("vcf")`
    * reads back — range-partitioned on (chrom, pos) and sorted within
    * shards, so the export is itself a `sorted=true` prunable cohort.
    * Scale shape: per-row line assembly + one range shuffle; no
    * collect, no driver bottleneck at any cohort size.
    */
  def exportVcf(spark: SparkSession, dir: String, outDir: String,
      shards: Int = 1, codec: String = "auto"): Unit = {
    val db = new Metadata(spark, dir)
    VcfLineAssembler.write(db.genotypes(codec), db.vcfLines, outDir, shards)
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
    val tables = Seq("variants", "variant_impacts", "samples", "vcf_header")
      .filter(t => exists(spark, s"$dir/$t"))
    tables.flatMap { t =>
      readTable(spark, s"$dir/$t").schema.fields.map(f =>
        (t, f.name, f.dataType.simpleString))
    }.toDF("table_name", "column_name", "column_type")
  }

  /** GEMINI `dump --tfam`: the samples table in PLINK .tfam column
    * order (family, sample, paternal, maternal, sex, phenotype).
    */
  def dumpTfam(spark: SparkSession, dir: String): DataFrame =
    samples(spark, dir).select("family_id", "sample_id", "paternal_id",
      "maternal_id", "sex", "phenotype")

  /** Registers the loaded tables as temp views (genotype blobs already
    * expanded) so the reference's SQL surface runs verbatim:
    * `spark.sql("SELECT ... FROM variants JOIN variant_impacts ...")`.
    * Tables absent from the database (impacts for an annotation-less
    * VCF) are skipped.
    */
  def createViews(spark: SparkSession, dir: String,
      codec: String = "auto"): Unit = {
    expandGenotypes(spark, dir, codec).createOrReplaceTempView("variants")
    if (exists(spark, s"$dir/variant_impacts"))
      impacts(spark, dir).createOrReplaceTempView("variant_impacts")
    if (exists(spark, s"$dir/samples"))
      samples(spark, dir).createOrReplaceTempView("samples")
    vcfHeader(spark, dir).createOrReplaceTempView("vcf_header")
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
}
