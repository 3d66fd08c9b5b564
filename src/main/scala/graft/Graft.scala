package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The gemini-style command-line surface over a loaded [[GraftDb]]
  * (the database [[Vcf2Db]] writes): `query`, `export`, `stats`, and
  * `amend` subcommands route to the EXISTING operators — this object
  * is pure dispatch plus output formatting, no new query logic
  * (reference UX: `gemini query/stats/amend`, quinlan-lab/vcf2db's
  * downstream consumer).
  *
  * Every subcommand builds one DataFrame plan: filters (region,
  * gt-filter DSL, sample-filter) compose as Column predicates over a
  * single variants scan, so the CLI inherits each operator's
  * documented scale shape unchanged — `--out` writes distributed
  * (parquet for query, text for export lines), stdout printing is
  * explicitly row-capped.
  */
object Graft {

  private val usage =
    """usage: Graft <command> <db> [--name=value ...]
      |  query  <db> [--region=chr[:lo[-hi]]] [--gt-filter=SPEC]
      |              [--sample-filter=WHERE] [--in=any|all|none|only]
      |              [--columns=a,b,c] [--limit=N] [--out=dir]
      |  export <db> --format=vcf|json|tped [--region=...] [--out=dir]
      |  stats  <db> --tool=tstv|gene-burden|sample-qc|roh|mendel-summary|db-info
      |  amend  <db> --ped=path""".stripMargin

  /** `query`: variants (genotypes expanded only when a gt-dependent
    * filter asks for them — the blob unpack is the expensive scan
    * column) through region + gt-filter + sample-filter predicates.
    */
  def query(spark: SparkSession, db: String,
      region: Option[String] = None, gtFilter: Option[String] = None,
      sampleFilter: Option[String] = None, in: String = "any",
      columns: Seq[String] = Nil, limit: Option[Int] = None): DataFrame = {
    val meta =
      if (gtFilter.isDefined || sampleFilter.isDefined) Some(new GraftDb.Metadata(spark, db))
      else None
    var df = meta.fold(GraftDb.variants(spark, db))(_.genotypes("auto"))
    region.foreach(r => df = GraftDb.region(df, r))
    for (m <- meta; f <- gtFilter)
      df = df.filter(operators.GtFilter.compile(f, m.samples, m.sampleOrder))
    for (m <- meta; w <- sampleFilter)
      df = df.filter(operators.GtFilter.sampleFilter(w, in, m.samples, m.sampleOrder))
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    limit.foreach(n => df = df.limit(n))
    df
  }

  /** `export`: one line per variant in the requested format — VCF
    * through the `format("vcf")` line rules under the stored header
    * (sites only: no genotype columns), e54's JSON line builder over
    * every INFO field the stored header declares, in header order, and
    * e49's TPED line builder over the loaded database (TPED expands
    * genotype blobs; the text formats read the flat columns only).
    */
  def export(spark: SparkSession, db: String, format: String,
      region: Option[String] = None): DataFrame = {
    def regioned(v: DataFrame) = region.fold(v)(GraftDb.region(v, _))
    format match {
      case "vcf" =>
        sources.VcfLineAssembler.lines(regioned(GraftDb.variants(spark, db)).drop("gt_types"),
          GraftDb.storedHeader(spark, db))
          .orderBy(col("chrom"), col("pos"), col("alt")).select(col("line"))
      case "json" =>
        val info = sources.VcfReader.infoColumns(
          sources.VcfParser.parseHeader(GraftDb.storedHeader(spark, db)))
        operators.Stats.jsonExportLines(regioned(GraftDb.variants(spark, db)), info)
          .orderBy(col("chrom"), col("pos"), col("alt"))
          .select(col("json_line").as("line"))
      case "tped" =>
        operators.Stats.tpedExportLines(regioned(GraftDb.expandGenotypes(spark, db)))
          .orderBy(col("chrom"), col("pos"), col("genotypes"))
          .select(concat_ws("\t", col("chrom"), col("snp_id"),
            col("cm").cast("string"), col("pos").cast("string"),
            col("genotypes")).as("line"))
      case other => throw new IllegalArgumentException(
        s"unknown export format '$other'\n$usage")
    }
  }

  /** `stats`: the QC tool family over the loaded database. */
  def stats(spark: SparkSession, db: String, tool: String): DataFrame =
    tool match {
      case "tstv" => GraftDb.tstv(spark, db)
      case "gene-burden" => GraftDb.geneBurden(spark, db)
      case "sample-qc" => GraftDb.sampleQc(spark, db)
      case "roh" => GraftDb.roh(spark, db)
      case "mendel-summary" => GraftDb.mendelSummary(spark, db)
      case "db-info" => GraftDb.dbInfo(spark, db)
      case other => throw new IllegalArgumentException(
        s"unknown stats tool '$other'\n$usage")
    }

  /** Stdout TSV with an explicit cap — the CLI never collects an
    * unbounded corpus to the driver; `--out` is the scale path.
    */
  private def printTsv(df: DataFrame, cap: Int): Unit = {
    val cols = df.columns
    println(cols.mkString("\t"))
    df.limit(cap).collect().foreach { r =>
      println(cols.indices.map(i =>
        Option(r.get(i)).map(_.toString).getOrElse("")).mkString("\t"))
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build()
    try run(spark, args)
    finally spark.stop()
  }

  /** The whole CLI minus session lifecycle — what `main` wraps and
    * specs drive against the shared test session.
    */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (command, db) = (args(0), args(1))
    val (flag, extraPos) = Cli.parse(args.drop(2),
      Set("region", "gt-filter", "sample-filter", "in", "columns",
        "limit", "out", "format", "tool", "ped"), usage)
    require(extraPos.isEmpty, s"unexpected arguments: ${extraPos.mkString(" ")}\n$usage")
    command match {
        case "query" =>
          val df = query(spark, db,
            region = flag("region"), gtFilter = flag("gt-filter"),
            sampleFilter = flag("sample-filter"),
            in = flag("in").getOrElse("any"),
            columns = flag("columns")
              .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
            limit = flag("limit").map(_.toInt))
          flag("out") match {
            case Some(out) => df.write.mode("overwrite").parquet(out)
            case None => printTsv(df, flag("limit").map(_.toInt).getOrElse(100))
          }
        case "export" =>
          val fmt = flag("format").getOrElse(
            throw new IllegalArgumentException(s"export needs --format\n$usage"))
          val lines = export(spark, db, fmt, region = flag("region"))
          flag("out") match {
            case Some(out) => lines.write.mode("overwrite").text(out)
            case None => printTsv(lines, flag("limit").map(_.toInt).getOrElse(100))
          }
        case "stats" =>
          val tool = flag("tool").getOrElse(
            throw new IllegalArgumentException(s"stats needs --tool\n$usage"))
          printTsv(stats(spark, db, tool), flag("limit").map(_.toInt).getOrElse(10000))
        case "amend" =>
          val ped = flag("ped").getOrElse(
            throw new IllegalArgumentException(s"amend needs --ped\n$usage"))
          GraftDb.amendSamples(spark, db, ped)
          println(s"[graft] samples table replaced from $ped")
        case other =>
          throw new IllegalArgumentException(s"unknown command '$other'\n$usage")
    }
  }
}
