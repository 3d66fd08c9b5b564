package graft.sources

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, GraftFrames, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import VcfParser._

/** VCF → DataFrames, the reference's ETL surface on Spark.
  *
  * The header (KB-sized) is parsed driver-side and DRIVES the variant
  * schema — every INFO field becomes a typed column exactly as the
  * reference infers SQL types from `##INFO` Type/Number. Body lines are
  * parsed per split by the `format("vcf")` partition reader (a pure
  * line → rows function, embarrassingly parallel — at 100 TB each bgzip
  * shard/file split parses independently; nothing is collected to the
  * driver).
  *
  * Multi-allelic records are decomposed to one row per ALT (the
  * reference REQUIRES a vt-decomposed input; we do the decompose
  * ourselves): Number=A INFO fields pick the alt's value, genotype
  * classes are recomputed per alt.
  */
object VcfReader {

  /** Column layout shared by the fixed (non-INFO) part of `variants`. */
  private val fixedFields: Seq[StructField] = Seq(
    StructField("chrom", StringType),
    StructField("pos", LongType, nullable = false),
    StructField("vid", StringType),
    StructField("ref", StringType),
    StructField("alt", StringType),
    StructField("qual", DoubleType),
    StructField("filter", StringType))

  private val statFields: Seq[StructField] = Seq(
    StructField("call_rate", DoubleType, nullable = false),
    StructField("aaf", DoubleType, nullable = false),
    StructField("num_hom_ref", IntegerType, nullable = false),
    StructField("num_het", IntegerType, nullable = false),
    StructField("num_hom_alt", IntegerType, nullable = false),
    StructField("num_unknown", IntegerType, nullable = false),
    // The reference's six per-sample genotype arrays (packed as blobs on
    // its variants table; here typed arrays — Vcf2Db packs them at write
    // time). Missing numeric sub-fields (absent FORMAT key or '.') → -1,
    // the sentinel the reference's unknown depths/quals use.
    StructField("gt_types", ArrayType(IntegerType, containsNull = false)),
    StructField("gts", ArrayType(StringType, containsNull = false)),
    StructField("gt_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_ref_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_alt_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_quals", ArrayType(IntegerType, containsNull = false)),
    // FORMAT PL (phred-scaled genotype likelihoods, Number=G) split into
    // the three per-alt diploid columns the reference ships for GEMINI
    // compatibility (gt_phred_ll_homref/het/homalt); -1 = missing.
    StructField("gt_phred_ll_homref", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_phred_ll_het", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_phred_ll_homalt", ArrayType(IntegerType, containsNull = false)),
    // 1 = the GT call is phased ("0|1"), 0 = unphased — the reference's
    // gt_phases bool array as a packable int array.
    StructField("gt_phases", ArrayType(IntegerType, containsNull = false)))

  private def infoType(spec: FieldSpec): DataType = spec.number match {
    case "0" => BooleanType
    case "1" | "A" => spec.vcfType match {
      case "Integer" => IntegerType
      case "Float" => DoubleType
      case "Flag" => BooleanType
      case _ => StringType
    }
    // R (per-allele incl. ref), G (per-genotype), '.' and fixed >1:
    // numeric fields become typed ARRAYS (post-decompose R keeps
    // [ref, this-alt], G the diploid [0/0, 0/a, a/a] triple) — an
    // upgrade over the reference, which degrades these to TEXT.
    case _ => spec.vcfType match {
      case "Integer" => ArrayType(IntegerType)
      case "Float" => ArrayType(DoubleType)
      case _ => StringType // multi-valued strings stay raw text
    }
  }

  /** INFO specs that become `variants` columns (annotation key excluded —
    * it feeds the `variant_impacts` table instead).
    */
  def infoSpecs(h: Header): Seq[FieldSpec] =
    h.infos.values.filterNot(s => h.annKey.contains(s.id)).toSeq

  /** The `variants` column names of [[infoSpecs]], in header order. */
  private[graft] def infoColumns(h: Header): Seq[String] = infoSpecs(h).map(s => sanitize(s.id))

  def variantSchema(h: Header): StructType =
    StructType(fixedFields ++
      infoSpecs(h).map(s => StructField(sanitize(s.id), infoType(s))) ++
      statFields)

  /** The worst impact of a variant row's own annotation entries — the
    * reference's step 4 (gene, impact, impact_severity, and the rank
    * that picked them). Null when no entry names the row's alt.
    */
  private val worstImpactFields: Seq[StructField] = Seq(
    StructField("gene", StringType),
    StructField("impact", StringType),
    StructField("impact_severity", StringType),
    StructField("severity_rank", IntegerType))

  /** `variantSchema` plus the worst-impact columns: Vcf2Db's variants. */
  def loadSchema(h: Header): StructType =
    StructType(variantSchema(h).fields ++ worstImpactFields)

  /** The load shape's impacts column: an array of `impactSchema` rows.
    * Its `#` keeps it apart from every column `sanitize` can name.
    */
  val impactsColumn = "impacts#"

  /** What each body line of a scan yields. */
  private[graft] sealed trait LineRows extends Serializable
  private[graft] object LineRows {
    /** One decomposed variant per (record, alt): `variantSchema`. */
    case object Variants extends LineRows
    /** Vcf2Db's one scan. With an annotation key in the header, the
      * `loadSchema` variants plus [[impactsColumn]]: the record's first
      * alt row carries all of the record's impacts rows there, in CSQ
      * order, and its other alt rows carry null. Without one, the
      * `variantSchema` variants.
      */
    case object Load extends LineRows
  }

  def schemaOf(h: Header, rows: LineRows): StructType = rows match {
    case LineRows.Load if h.annKey.isDefined =>
      StructType(loadSchema(h).fields :+ StructField(impactsColumn,
        ArrayType(impactSchema(h), containsNull = false)))
    case _ => variantSchema(h)
  }

  /** Per-alt Catalyst value of an INFO field (post-decompose semantics). */
  private def infoValue(spec: FieldSpec, dt: DataType, raw: Option[String],
      altIx: Int): Any =
    (spec.number, raw) match {
      case ("0", r) => r.isDefined
      case (_, None) => if (dt == BooleanType) false else null
      case ("A", Some(v)) =>
        val parts = v.split(',')
        val x = if (altIx - 1 < parts.length) parts(altIx - 1) else "."
        lenientScalar(spec, x)
      case ("1", Some(v)) => lenientScalar(spec, v)
      case (_, Some(v)) =>
        dt match {
          case _: ArrayType =>
            val parts = v.split(',')
            def at(i: Int): Any =
              if (i >= parts.length) null else lenientScalar(spec, parts(i))
            new GenericArrayData(spec.number match {
              case "R" => Array[Any](at(0), at(altIx)) // ref + this alt
              case "G" =>
                // diploid genotype index (j,k): k(k+1)/2 + j → this
                // alt's [0/0, 0/alt, alt/alt] triple after decompose
                val half = altIx * (altIx + 1) / 2
                Array[Any](at(0), at(half), at(half + altIx))
              case _ => Array.tabulate[Any](parts.length)(at)
            })
          case _ => UTF8String.fromString(v)
        }
    }

  /** scalarValue, but a malformed token degrades the cell to null (like
    * a malformed FORMAT field's -1) instead of failing a cohort-scale
    * load — the TEXT passthrough these typed columns replaced tolerated
    * any garbage.
    */
  private def lenientScalar(spec: FieldSpec, v: String): Any =
    try scalarValue(spec, v)
    catch { case _: NumberFormatException => null }

  private def scalarValue(spec: FieldSpec, v: String): Any =
    if (v == ".") null
    else spec.vcfType match {
      case "Integer" => v.toInt
      case "Float" => v.toDouble
      case _ => UTF8String.fromString(v)
    }

  private def intArray(a: Array[Int]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** One annotation entry of a record: its fields (padded or cut to the
    * header's list, so a malformed entry cannot break the row arity)
    * and the severity of its first consequence term.
    */
  private final class AnnEntry(val vals: Array[String], val rank: Int,
      val severity: String)

  /** A body line → Catalyst rows of one [[LineRows]] shape, computing
    * only the `columns` asked for, in that order. A pruned scan of a
    * 100-INFO, 1000-sample VCF parses 2 columns, not the whole record,
    * and splits no sample column when it needs no FORMAT key. In the
    * load shape the annotation value is split
    * once per record, for the worst-impact pick and the impacts rows
    * alike. Values go straight into InternalRows (UTF8String, unsafe
    * primitive arrays): no external Row and no per-row converter. With
    * `passOnly` a record whose FILTER failed (anything but PASS or
    * missing) yields no rows, so neither its variants nor its impacts —
    * vcf2db's --passonly.
    *
    * Every scan of graft's batch reads parses through this class: the
    * `format("vcf")` partition reader, `fromPath`, Vcf2Db's load and
    * `fromLines`.
    */
  private[graft] final class LineParser(h: Header, rows: LineRows,
      columns: Seq[String], passOnly: Boolean = false) {
    private val full = schemaOf(h, rows)
    private val keep: Array[Int] = columns.map(full.fieldIndex).toArray
    private val whole = keep.sameElements(full.indices)
    private val needed: Set[String] = columns.toSet
    private val specs: Array[FieldSpec] = infoSpecs(h).toArray
    private val specTypes: Array[DataType] = specs.map(infoType)
    private val specNeeded: Array[Boolean] = specs.map(s => needed(sanitize(s.id)))
    private val needStats = Seq("call_rate", "aaf", "num_hom_ref", "num_het",
      "num_hom_alt", "num_unknown").exists(needed)
    private val needGtTypes = needStats || needed("gt_types")
    private val needGts = needed("gts") || needed("gt_phases")
    private val needPl = Seq("gt_phred_ll_homref", "gt_phred_ll_het",
      "gt_phred_ll_homalt").exists(needed)
    // the FORMAT keys the needed columns are built from: the sample
    // columns are not read at all when this is empty
    private val sampleKeys: Set[String] = Map(
      "GT" -> (needGtTypes || needGts), "DP" -> needed("gt_depths"),
      "GQ" -> needed("gt_quals"),
      "AD" -> (needed("gt_ref_depths") || needed("gt_alt_depths")),
      "PL" -> needPl).collect { case (k, true) => k }.toSet
    private val annotated = rows == LineRows.Load && h.annKey.isDefined
    private val needWorst = annotated &&
      Seq("gene", "impact", "impact_severity", "severity_rank").exists(needed)
    private val needImpacts = annotated && needed(impactsColumn)

    private val annFields = h.annFields
    private val alleleIx = annFields.indexWhere(f => f == "Allele" || f == "ALLELE")
    private val consIx = annFields.indexWhere(f => f.equalsIgnoreCase("Consequence") ||
      f.equalsIgnoreCase("Annotation"))
    // the worst impact's gene and impact come from the same impacts
    // columns Etl.geneCol / Etl.consequenceCol resolve (VEP SYMBOL /
    // Consequence, SnpEff Gene_Name / Annotation); -1 → null
    private val annCols = annFields.map(sanitize)
    private def firstCol(names: String*): Int =
      names.map(annCols.indexOf).find(_ >= 0).getOrElse(-1)
    private val geneIx = firstCol("symbol", "gene_name", "gene")
    private val impactIx = firstCol("consequence", "annotation")

    def apply(line: String): Array[InternalRow] = {
      val (rec, samplesFrom) = parseRecordAt(line)
      variantRows(rec, line, samplesFrom)
    }

    /** `apply`, but a line that fails to parse yields no rows. */
    def apply(line: String, permissive: Boolean): Array[InternalRow] =
      if (!permissive) apply(line)
      else try apply(line) catch { case NonFatal(_) => Array.empty }

    private def passes(rec: Record): Boolean =
      !passOnly || rec.filter.forall(_ == "PASS")

    private def row(fullValues: Array[Any]): InternalRow =
      new GenericInternalRow(
        if (whole) fullValues else keep.map(i => fullValues(i)))

    private def entries(rec: Record): Array[AnnEntry] =
      h.annKey.flatMap(rec.info.get) match {
        case None => Array.empty
        case Some(v) => v.split(',').map { entry =>
          val vals = entry.split('|').padTo(annFields.length, "").take(annFields.length)
          val cons = if (consIx >= 0) vals(consIx).split('&').head else ""
          new AnnEntry(vals, severityRank.getOrElse(cons, 99), severityBucket(cons))
        }
      }

    /** The entry attaches to the alt its Allele field names — raw ALT or
      * VEP's minimised form (indel entries carry the latter; raw
      * matching alone silently drops every indel annotation). All alts
      * if the annotation has no Allele column.
      */
    private def names(e: AnnEntry, ref: String, alt: String): Boolean =
      alleleIx < 0 || e.vals(alleleIx) == alt || e.vals(alleleIx) == vepAllele(ref, alt)

    /** CSQ/ANN/BCSQ expansion: the values of one `impactSchema` row per
      * (entry, alt it names), in entry order — the reference's
      * `variant_impacts` table.
      */
    private def impactValues(rec: Record, es: Array[AnnEntry]): Array[Array[Any]] = {
      val chrom = utf8(rec.chrom)
      val ref = utf8(rec.ref)
      es.flatMap { e =>
        rec.alts.filter(names(e, rec.ref, _)).map { alt =>
          Array[Any](chrom, rec.pos, ref, utf8(alt)) ++
            e.vals.map(utf8) ++ Array[Any](e.rank, utf8(e.severity))
        }
      }
    }

    /** The alt's worst entry: least (severity rank, impact), ties to the
      * earlier entry — the order `Vcf2Db.denormalizeWorstImpact` sorts
      * by, with the tie its row_number leaves open made definite.
      */
    private def worst(es: Array[AnnEntry], ref: String, alt: String): Array[Any] = {
      var best: AnnEntry = null
      var bestImpact: UTF8String = null
      es.foreach { e =>
        if (names(e, ref, alt)) {
          val impact = if (impactIx >= 0) utf8(e.vals(impactIx)) else null
          val better = best == null || e.rank < best.rank ||
            (e.rank == best.rank && bestImpact != null && impact.compareTo(bestImpact) < 0)
          if (better) { best = e; bestImpact = impact }
        }
      }
      if (best == null) Array[Any](null, null, null, null)
      else Array[Any](if (geneIx >= 0) utf8(best.vals(geneIx)) else null,
        bestImpact, utf8(best.severity), best.rank)
    }

    /** One decomposed variant row per (record, alt). Number=A INFO
      * fields pick the alt's value; genotype classes are recomputed per
      * alt. Unneeded columns are never computed. The sample columns
      * (from `samplesFrom` in `line`) are read once per record.
      */
    private def variantRows(rec: Record, line: String, samplesFrom: Int): Array[InternalRow] = {
      if (!passes(rec)) return Array.empty
      val nAlts = rec.alts.length
      // Per-sample, alt-independent values read once per record. A
      // FORMAT without GT and truncated sample columns alike leave the
      // arrays cohort-width with "" → UNKNOWN, never shorter than the
      // sample list (index-aligned consumers would silently
      // mis-attribute on a short array).
      val fields =
        if (sampleKeys.isEmpty) null
        else SampleFields.read(line, samplesFrom, rec.formatKeys, nAlts, sampleKeys)
      val n = if (fields == null) 0 else fields.count
      def perSample(name: String)(f: Int => Int): ArrayData =
        if (needed(name)) intArray(Array.tabulate(n)(f)) else null
      val alleles: Array[Vector[Option[Int]]] =
        if (needGtTypes) fields.gt.map(gtAlleles) else null
      val gts: ArrayData =
        if (needed("gts")) new GenericArrayData(fields.gt.map(g => utf8(g): Any))
        else null
      val phases = perSample("gt_phases")(s => if (fields.gt(s).contains('|')) 1 else 0)
      val depths = if (needed("gt_depths")) intArray(fields.dp) else null
      val quals = if (needed("gt_quals")) intArray(fields.gq) else null
      val refDepths = perSample("gt_ref_depths")(fields.adAt(_, 0))
      val plHomRef = perSample("gt_phred_ll_homref")(fields.plAt(_, 0))
      val annEntries = if (needWorst || needImpacts) entries(rec) else null
      val chrom = utf8(rec.chrom)
      val vid = rec.id.map(utf8).orNull
      val ref = utf8(rec.ref)
      val qual = rec.qual.map(Double.box).orNull
      val filter = rec.filter.map(utf8).orNull
      rec.alts.iterator.zipWithIndex.map { case (alt, i0) =>
        val altIx = i0 + 1
        val gtTypes: Array[Int] =
          if (needGtTypes) alleles.map(gtTypeOf(_, altIx)) else null
        val altDepths = perSample("gt_alt_depths")(fields.adAt(_, altIx))
        // PL's flat diploid index for (j, k): k(k+1)/2 + j — this alt's
        // [0/0, 0/alt, alt/alt] triple after decompose
        val half = altIx * (altIx + 1) / 2
        val plHet = perSample("gt_phred_ll_het")(fields.plAt(_, half))
        val plHomAlt = perSample("gt_phred_ll_homalt")(fields.plAt(_, half + altIx))
        val st = if (needStats) gtStats(ArraySeq.unsafeWrapArray(gtTypes)) else null
        val infoVals = specs.indices.map(j =>
          if (specNeeded(j)) infoValue(specs(j), specTypes(j), rec.info.get(specs(j).id), altIx)
          else null)
        row(Array[Any](chrom, rec.pos, vid, ref, utf8(alt), qual, filter) ++
          infoVals ++
          (if (st == null) Array[Any](null, null, null, null, null, null)
           else Array[Any](st.callRate, st.aaf, st.numHomRef, st.numHet,
             st.numHomAlt, st.numUnknown)) ++
          Array[Any](if (needed("gt_types")) intArray(gtTypes) else null,
            gts, depths, refDepths, altDepths, quals, plHomRef, plHet, plHomAlt,
            phases) ++
          (if (!annotated) Array.empty[Any]
           else (if (needWorst) worst(annEntries, rec.ref, alt)
             else Array[Any](null, null, null, null)) :+
             (if (needImpacts && i0 == 0) new GenericArrayData(
               impactValues(rec, annEntries).map(v => new GenericInternalRow(v): Any))
              else null)))
      }.toArray
    }
  }

  /** Decomposed variant rows of one body line as external Rows of the
    * full variants schema, through the scan's own [[LineParser]]; the
    * pruned form computes only the columns `needed` accepts and leaves
    * the other slots null.
    */
  def decomposedRows(h: Header, line: String): Seq[Row] =
    decomposedRows(h, line, _ => true)

  def decomposedRows(h: Header, line: String, needed: String => Boolean): Seq[Row] = {
    val schema = variantSchema(h)
    val names = schema.fieldNames.toSeq.filter(needed)
    val toRow = CatalystTypeConverters.createToScalaConverter(
      StructType(names.map(schema(_))))
    new LineParser(h, LineRows.Variants, names)(line).toSeq.map { ir =>
      val r = toRow(ir).asInstanceOf[Row]
      Row.fromSeq(schema.fieldNames.toSeq.map(n =>
        if (needed(n)) r.get(names.indexOf(n)) else null))
    }
  }

  /** Variants of a Dataset of lines — the streaming read's parse (a
    * streaming Dataset has no batch scan to plug a reader into), the
    * same [[LineParser]] with its rows converted to external Rows.
    */
  def variants(h: Header, body: Dataset[String], permissive: Boolean = false): DataFrame = {
    val schema = variantSchema(h)
    implicit val enc = RowEncoder.encoderFor(schema)
    body.filter(isBodyLine _).mapPartitions { lines =>
      val parse = new LineParser(h, LineRows.Variants, schema.fieldNames.toSeq)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      lines.flatMap(l => parse(l, permissive)).map(r => toRow(r).asInstanceOf[Row])
    }
  }

  // ------------------------------------------------------------- impacts

  def impactSchema(h: Header): StructType =
    StructType(
      Seq(StructField("chrom", StringType),
        StructField("pos", LongType, nullable = false),
        StructField("ref", StringType),
        StructField("alt", StringType)) ++
        h.annFields.map(f => StructField(sanitize(f), StringType)) ++
        Seq(StructField("severity_rank", IntegerType, nullable = false),
          StructField("impact_severity", StringType)))

  // ------------------------------------------------------------ entry API

  def headerOf(lines: Seq[String]): Header = parseHeader(lines)

  /** An EMPTY impacts table (fixed columns only) — an unannotated VCF is
    * a legal input, not an error.
    */
  private def noImpacts(spark: SparkSession, h: Header): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], impactSchema(h))

  /** Reads a VCF from literal lines (tests / fixtures): the lines are
    * already on the driver, so they parse there into local relations.
    * The impacts are the load shape's [[impactsColumn]], flattened: the
    * rows Vcf2Db writes, so every fixture-driven query reads them.
    */
  def fromLines(spark: SparkSession, lines: Seq[String]): (Header, DataFrame, DataFrame) = {
    val h = parseHeader(lines)
    val body = lines.filter(isBodyLine)
    val variants = variantSchema(h)
    val parse = new LineParser(h, LineRows.Variants, variants.fieldNames.toSeq)
    (h, GraftFrames.ofLocalRows(spark, variants, body.flatMap(parse(_))),
      if (h.annKey.isEmpty) noImpacts(spark, h)
      else {
        val impacts = impactSchema(h)
        val nested = new LineParser(h, LineRows.Load, Seq(impactsColumn))
        GraftFrames.ofLocalRows(spark, impacts, body.flatMap(nested(_)).flatMap(r =>
          if (r.isNullAt(0)) Nil else r.getArray(0).toSeq[InternalRow](impacts)))
      })
  }

  /** Reads a VCF path (a file, a directory of shards or a glob) through
    * the `format("vcf")` scan: header read once driver-side (gunzipped
    * when compressed), body split by byte range across executors.
    * Returns the header, the variants (the `format("vcf")` schema) and
    * the impacts table — the load shape's, [[impactsOf]] — empty when
    * the header declares no annotation key. Each table is its own scan
    * of the text.
    */
  def fromPath(spark: SparkSession, path: String): (Header, DataFrame, DataFrame) = {
    val (h, frame) = scan(spark, path, passOnly = false)
    (h, frame(LineRows.Variants), impactsOf(h, frame(LineRows.Load)))
  }

  /** Vcf2Db's read: one scan of the load shape ([[LineRows.Load]]). Its
    * variants carry their record's worst impact and, in
    * [[impactsColumn]], the record's impacts rows, when the header
    * declares an annotation key. With `passOnly` a record whose FILTER
    * failed yields no rows at all.
    */
  def forLoad(spark: SparkSession, path: String, passOnly: Boolean): (Header, DataFrame) = {
    val (h, frame) = scan(spark, path, passOnly)
    (h, frame(LineRows.Load))
  }

  /** The impacts table of a load-shape frame: its [[impactsColumn]]
    * exploded, so a scan reads that column alone. Empty when the header
    * declares no annotation key.
    */
  def impactsOf(h: Header, load: DataFrame): DataFrame =
    if (h.annKey.isEmpty) noImpacts(load.sparkSession, h)
    else load.select(org.apache.spark.sql.functions.inline(
      org.apache.spark.sql.functions.col(s"`$impactsColumn`")))

  private def scan(spark: SparkSession, path: String,
      passOnly: Boolean): (Header, LineRows => DataFrame) = {
    val (files, headerLines) =
      VcfDataSource.resolve(path, spark.sessionState.newHadoopConf())
    require(headerLines.exists(_.startsWith("#CHROM")),
      s"$path: no #CHROM header line — not a VCF (or header not at file start)")
    val h = parseHeader(headerLines)
    (h, rows => GraftFrames.ofTable(spark,
      new VcfTable(files, headerLines, schemaOf(h, rows), Some(path), rows, passOnly)))
  }

  // ------------------------------------------------------ cohort merge

  /** The ten per-sample genotype array columns of `variants`. */
  private val gtArrayCols = Seq("gt_types", "gts", "gt_depths",
    "gt_ref_depths", "gt_alt_depths", "gt_quals", "gt_phred_ll_homref",
    "gt_phred_ll_het", "gt_phred_ll_homalt", "gt_phases")

  /** bcftools-merge semantics over N per-sample/sharded single-cohort
    * VCFs with DISJOINT sample sets — the ETL step that PRODUCES the
    * one pre-merged cohort VCF the reference assumes as input (at
    * biobank scale producing that input is the hard step):
    *
    *  - merged sample order = shard order, then within-shard order
    *    (bcftools' file-order rule); duplicate sample ids fail loudly
    *    (bcftools errors without --force-samples);
    *  - sites union at the DECOMPOSED (chrom, pos, ref, alt) grain —
    *    graft decomposes every input, so allele unification is exact
    *    key equality (`bcftools merge -m none` on decomposed shards);
    *  - a shard absent at a site contributes missing genotypes: GT
    *    "./.", class UNKNOWN=2, numeric sentinel -1, phase 0;
    *  - site fields: vid and filter from the LOWEST shard carrying the
    *    site, qual = max across carriers (bcftools' QUAL rule);
    *  - the six genotype stats (call_rate, aaf, num_*) are RECOMPUTED
    *    over the merged cohort; INFO columns are dropped (bcftools
    *    recomputes INFO at merge — for graft the genotype-derived
    *    stats ARE that recomputation; header-driven INFO re-annotation
    *    composes behind via e53's allele-keyed annotate).
    *
    * Scale shape: ONE partial-agg shuffle keyed on the constant-width
    * variant key. Per-shard arrays travel as (shard → array) map
    * entries (collect_list bounded by the shard count), and the merged
    * arrays assemble in a post-agg projection that concatenates the k
    * per-shard slots with literal missing fills — expression width is
    * O(k·arrays), fine for the tens-to-hundreds of shards real cohorts
    * ship (per-center / per-chromosome); the FACT never self-joins and
    * no task ever holds more than one site's k arrays.
    *
    * Ref: bcftools merge (samtools.github.io/bcftools) — union sites,
    * file-order samples, missing → "./."; vcf2db assumes this step
    * already ran (SURVEY §1: "requires a decomposed VCF").
    */
  def mergeVariants(shards: Seq[(Header, DataFrame)]): (Vector[String], DataFrame) = {
    import org.apache.spark.sql.functions._
    require(shards.nonEmpty, "mergeVariants: no shards")
    val sampleLists = shards.map(_._1.samples).toVector
    val merged = sampleLists.flatten
    require(merged.distinct.size == merged.size,
      s"duplicate sample ids across shards: ${
        merged.groupBy(identity).collect { case (s, v) if v.size > 1 => s }.mkString(",")}")
    val k = shards.size
    val keyCols = Seq("chrom", "pos", "ref", "alt")
    val tagged = shards.zipWithIndex.map { case ((_, df), i) =>
      df.select((keyCols ++ Seq("vid", "qual", "filter")).map(col) ++
        Seq(lit(i).as("shard")) ++ gtArrayCols.map(col): _*)
    }.reduce(_.unionByName(_))
    // lowest-carrying-shard pick: min_by over the shard index, with a
    // null value demoted past every real shard so "first non-null by
    // shard order" and "null only when all null" both hold
    def firstByShard(c: String) =
      min_by(col(c), when(col(c).isNull, lit(Int.MaxValue))
        .otherwise(col("shard"))).as(c)
    val aggCols = Seq(firstByShard("vid"), max("qual").as("qual"),
      firstByShard("filter")) ++
      gtArrayCols.map(c =>
        map_from_entries(collect_list(struct(col("shard"), col(c)))).as(c + "_m"))
    val grouped = tagged.groupBy(keyCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    // per-shard missing fills (typed literals, one per array column)
    def fills(c: String): Seq[org.apache.spark.sql.Column] = sampleLists.map { ss =>
      c match {
        case "gts" => typedLit(Vector.fill(ss.size)("./."))
        case "gt_types" => typedLit(Vector.fill(ss.size)(VcfParser.Unknown))
        case "gt_phases" => typedLit(Vector.fill(ss.size)(0))
        case _ => typedLit(Vector.fill(ss.size)(-1))
      }
    }
    val assembled = grouped.select(
      (keyCols ++ Seq("vid", "qual", "filter")).map(col) ++
        gtArrayCols.map { c =>
          val f = fills(c)
          concat((0 until k).map(i =>
            coalesce(element_at(col(c + "_m"), lit(i)), f(i))): _*).as(c)
        }: _*)
    val n = merged.size
    val called = lit(n) - col("num_unknown")
    val altCopies = col("num_het") + lit(2) * col("num_hom_alt")
    val out = assembled
      .withColumn("num_hom_ref",
        size(filter(col("gt_types"), t => t === lit(VcfParser.HomRef))))
      .withColumn("num_het",
        size(filter(col("gt_types"), t => t === lit(VcfParser.Het))))
      .withColumn("num_hom_alt",
        size(filter(col("gt_types"), t => t === lit(VcfParser.HomAlt))))
      .withColumn("num_unknown",
        size(filter(col("gt_types"), t => t === lit(VcfParser.Unknown))))
      .withColumn("call_rate", called.cast("double") / lit(n.toDouble))
      .withColumn("aaf", when(called === 0, lit(0.0))
        .otherwise(altCopies.cast("double") / (called * 2).cast("double")))
      .select((fixedFields.map(_.name) ++ statFields.map(_.name)).map(col): _*)
    (merged, out)
  }

  /** Streaming ingestion — incremental cohort loading: new VCF shards
    * dropped into `dir` parse into a STREAMING variants DataFrame
    * (`writeStream` to the warehouse sink of choice). The schema comes
    * from a static header template, and the guard the batch DSv2
    * source enforces holds here too: a shard whose #CHROM line (sample
    * columns!) differs from the template fails the micro-batch instead
    * of silently mis-assigning genotypes positionally. The per-line
    * parse is stateless (the `variants` map works unchanged on a
    * streaming Dataset), so no state store is involved and append mode
    * works with any sink.
    */
  def streamVariants(spark: SparkSession, headerLines: Seq[String],
      dir: String): DataFrame = {
    import spark.implicits._
    val chromLine = headerLines.find(_.startsWith("#CHROM")).getOrElse(
      throw new IllegalArgumentException("header template has no #CHROM line"))
    // the same guard the batch DSv2 source enforces: a shard whose
    // sample columns OR INFO/FORMAT declarations differ from the
    // template fails the micro-batch loudly — a mismatched Number/Type
    // would otherwise silently null-out every cell of that field
    val declared = headerLines.filter(l =>
      l.startsWith("##INFO=") || l.startsWith("##FORMAT=")).toSet
    val checked = spark.readStream.textFile(dir).map { l =>
      if (l.startsWith("#CHROM") && l != chromLine)
        throw new IllegalStateException(
          s"VCF shard header mismatch: expected '$chromLine' got '$l'")
      if ((l.startsWith("##INFO=") || l.startsWith("##FORMAT=")) &&
        !declared.contains(l))
        throw new IllegalStateException(
          s"VCF shard declares a field the header template does not: '$l'")
      l
    }
    variants(parseHeader(headerLines), checked)
  }
}
