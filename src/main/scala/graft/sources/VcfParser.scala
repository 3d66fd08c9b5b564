package graft.sources

import scala.collection.immutable.ListMap

/** Pure-Scala VCF parser — no Spark dependency, unit-testable alone.
  *
  * Re-derives (from public knowledge of quinlan-lab/vcf2db's vcf2db.py —
  * the reference checkout is empty) the reference's header-driven schema
  * inference: `##INFO=<ID,Number,Type,Description>` lines drive column
  * names/types, VEP `CSQ`-style annotation field lists are recovered from
  * the Description's `Format: a|b|c` suffix, and per-sample genotypes are
  * classified into the GEMINI encoding (0=HOM_REF, 1=HET, 2=UNKNOWN,
  * 3=HOM_ALT) that the reference's gt_types blobs use.
  *
  * Scale note: header parsing is driver-side (headers are KB-sized);
  * record parsing is a pure line → record function, so Spark can apply it
  * per-partition over a text scan with no coordination.
  */
object VcfParser {

  /** One `##INFO`/`##FORMAT` header field spec. */
  final case class FieldSpec(
      id: String,
      number: String, // "0","1","A","R","G","." or an int >1
      vcfType: String, // Integer | Float | Flag | String | Character
      description: String)

  /** Parsed VCF header: field specs (in declaration order), annotation
    * (CSQ/ANN/BCSQ) sub-field names, sample ids, and the raw header text
    * (the reference stores it verbatim in a `vcf_header` table).
    */
  final case class Header(
      infos: ListMap[String, FieldSpec],
      formats: ListMap[String, FieldSpec],
      samples: Vector[String],
      rawLines: Vector[String]) {

    /** VEP-style annotation key present in this header, if any. */
    val annKey: Option[String] =
      Seq("CSQ", "ANN", "BCSQ").find(infos.contains)

    /** Annotation sub-field names parsed from the Description — VEP's
      * `... Format: Allele|Consequence|...` suffix, or SnpEff's
      * `Functional annotations: 'Allele | Annotation | ...'` quoted
      * pipe list (no Format: marker).
      */
    val annFields: Vector[String] = annKey match {
      case Some(k) =>
        val d = infos(k).description
        val i = d.lastIndexOf("Format:")
        val payload =
          if (i >= 0) d.substring(i + "Format:".length)
          else {
            val j = d.indexOf(':')
            if (j >= 0 && d.substring(j + 1).contains('|')) d.substring(j + 1)
            else ""
          }
        if (payload.isEmpty) Vector.empty
        else payload.trim
          .stripPrefix("'").stripSuffix("\"").stripSuffix("'")
          .split('|').map(_.trim).toVector
      case None => Vector.empty
    }
  }

  /** The fixed columns (1–9) of one body line, still multi-allelic. The
    * sample columns are not part of it: [[SampleFields]] reads them in
    * place from the line.
    */
  final case class Record(
      chrom: String,
      pos: Long,
      id: Option[String],
      ref: String,
      alts: Vector[String],
      qual: Option[Double],
      filter: Option[String],
      info: ListMap[String, String], // raw values; Flag → ""
      formatKeys: Vector[String])

  /** GEMINI genotype classes (gt_types encoding). */
  val HomRef = 0; val Het = 1; val Unknown = 2; val HomAlt = 3

  // ---------------------------------------------------------------- header

  private val structured = """##(INFO|FORMAT)=<(.*)>\s*""".r

  /** Parses the `key=value` list inside `##INFO=<...>`, honoring quoted
    * values (Description routinely contains commas and `=`).
    */
  def parseKvList(s: String): ListMap[String, String] = {
    val out = ListMap.newBuilder[String, String]
    var i = 0
    while (i < s.length) {
      val eq = s.indexOf('=', i)
      if (eq < 0) { i = s.length }
      else {
        val key = s.substring(i, eq).trim
        if (eq + 1 < s.length && s.charAt(eq + 1) == '"') {
          // closing quote scan skips backslash-escaped quotes (\" is
          // legal inside Description per the VCF spec)
          var j = eq + 2
          while (j < s.length &&
            !(s.charAt(j) == '"' && s.charAt(j - 1) != '\\')) j += 1
          out += key -> s.substring(eq + 2, j).replace("\\\"", "\"")
          i = j + 2 // skip closing quote + comma
        } else {
          val comma = s.indexOf(',', eq)
          val stop = if (comma < 0) s.length else comma
          out += key -> s.substring(eq + 1, stop)
          i = stop + 1
        }
      }
    }
    out.result()
  }

  def parseHeader(lines: Iterable[String]): Header = {
    var infos = ListMap.empty[String, FieldSpec]
    var formats = ListMap.empty[String, FieldSpec]
    var samples = Vector.empty[String]
    val raw = Vector.newBuilder[String]
    lines.iterator.takeWhile(_.startsWith("#")).foreach { line =>
      raw += line
      line match {
        case structured(kind, body) =>
          val kv = parseKvList(body)
          val spec = FieldSpec(
            kv.getOrElse("ID", ""), kv.getOrElse("Number", "."),
            kv.getOrElse("Type", "String"), kv.getOrElse("Description", ""))
          if (kind == "INFO") infos += spec.id -> spec
          else formats += spec.id -> spec
        case l if l.startsWith("#CHROM") =>
          val cols = l.split('\t')
          if (cols.length > 9) samples = cols.drop(9).toVector
        case _ => ()
      }
    }
    Header(infos, formats, samples, raw.result())
  }

  // ---------------------------------------------------------------- records

  private def opt(s: String): Option[String] = if (s == "." || s.isEmpty) None else Some(s)

  /** The first `n` tab-separated columns of a line (fewer when the line
    * has fewer), and the offset just past them: where column `n + 1`
    * starts, or `line.length + 1` when there is no such column.
    */
  private def leadingColumns(line: String, n: Int): (Array[String], Int) = {
    val f = new Array[String](n)
    var k = 0
    var start = 0
    while (k < n && start <= line.length) {
      val tab = line.indexOf('\t', start)
      val end = if (tab < 0) line.length else tab
      f(k) = line.substring(start, end)
      k += 1
      start = end + 1
    }
    (if (k == n) f else f.take(k), start)
  }

  /** Columns 1–9 of a body line: the site and its FORMAT keys. */
  def parseRecord(line: String): Record = parseRecordAt(line)._1

  /** `parseRecord`, and the offset in the line where its sample columns
    * start (past the line's end when it has none) — what
    * [[SampleFields.read]] takes.
    */
  def parseRecordAt(line: String): (Record, Int) = {
    val (f, samplesFrom) = leadingColumns(line, 9)
    (recordOf(f), samplesFrom)
  }

  private def recordOf(f: Array[String]): Record = {
    val info: ListMap[String, String] =
      if (f.length <= 7 || f(7) == ".") ListMap.empty
      else ListMap.from(f(7).split(';').iterator.map { kv =>
        val eq = kv.indexOf('=')
        if (eq < 0) kv -> "" else kv.substring(0, eq) -> kv.substring(eq + 1)
      })
    val formatKeys =
      if (f.length > 8) f(8).split(':').toVector else Vector.empty
    Record(
      chrom = f(0), pos = f(1).toLong, id = opt(f(2)), ref = f(3),
      alts = f(4).split(',').toVector.filter(_ != "."),
      qual = opt(f(5)).map(_.toDouble), filter = opt(f(6)),
      info = info, formatKeys = formatKeys)
  }

  def isBodyLine(line: String): Boolean =
    line.nonEmpty && !line.startsWith("#")

  // --------------------------------------------------------------- samples

  /** Missing-value sentinel for numeric FORMAT sub-fields (the
    * reference's unknown-depth/qual encoding).
    */
  val Missing = -1

  /** The FORMAT sub-fields a variants row is built from — GT, DP, GQ, AD
    * and PL — for every sample column of one record, read by field index
    * straight from the line: no per-sample split and no per-sample
    * field arrays. AD and PL are parsed to ints once per record, into
    * flat rows of `alleles` = alts + 1 values per sample (AD) and of
    * `genotypes` = alleles(alleles + 1)/2 values (PL, diploid order);
    * components past those are never read.
    *
    * The values are those of splitting the sample on ':' and the list on
    * ',' and parsing each piece with `toInt`: a field or component the
    * sample does not reach, `.`, empty or not an int (overflow, stray
    * characters) is [[Missing]], and a missing GT is "". A key that is
    * not read leaves its array at those defaults.
    *
    * Scale note: one tab scan counts the samples, then one pass over
    * each sample's chars up to the last field read; the only
    * allocations are the arrays here and one GT string per sample.
    */
  final class SampleFields private (val count: Int, val alleles: Int) {
    val genotypes: Int = alleles * (alleles + 1) / 2
    val gt: Array[String] = Array.fill(count)("")
    val dp: Array[Int] = Array.fill(count)(Missing)
    val gq: Array[Int] = Array.fill(count)(Missing)
    val ad: Array[Int] = Array.fill(count * alleles)(Missing)
    val pl: Array[Int] = Array.fill(count * genotypes)(Missing)

    /** Sample `s`'s AD component at allele index `allele` (0 = ref). */
    def adAt(s: Int, allele: Int): Int = ad(s * alleles + allele)

    /** Sample `s`'s PL at flat diploid genotype index `g` — (j, k) at
      * k(k+1)/2 + j, the same indexing as Number=G INFO fields.
      */
    def plAt(s: Int, g: Int): Int = pl(s * genotypes + g)
  }

  object SampleFields {
    /** FORMAT keys [[read]] can take. */
    val Keys: Set[String] = Set("GT", "DP", "GQ", "AD", "PL")

    /** Reads the sample columns of `line` from offset `from` (what
      * `parseRecordAt` returns; no samples when it is past the line's
      * end) for a record of `alts` alts whose FORMAT is `formatKeys`.
      * Only the keys in `keys` are read.
      */
    def read(line: String, from: Int, formatKeys: Vector[String], alts: Int,
        keys: Set[String] = Keys): SampleFields = {
      def ix(k: String) = if (keys(k)) formatKeys.indexOf(k) else -1
      val gtIx = ix("GT"); val dpIx = ix("DP"); val gqIx = ix("GQ")
      val adIx = ix("AD"); val plIx = ix("PL")
      val last = gtIx max dpIx max gqIx max adIx max plIx
      var count = 0
      if (from <= line.length) {
        count = 1
        var t = line.indexOf('\t', from)
        while (t >= 0) { count += 1; t = line.indexOf('\t', t + 1) }
      }
      val out = new SampleFields(count, alts + 1)
      var p = from
      var s = 0
      while (s < count) {
        // fields [b, i) of sample s, up to the last one read
        var k = 0
        var b = p
        var i = p
        var end = -1
        while (end < 0 && k <= last) {
          val c = if (i < line.length) line.charAt(i) else '\t'
          if (c == ':' || c == '\t') {
            if (k == gtIx) out.gt(s) = line.substring(b, i)
            else if (k == dpIx) out.dp(s) = intAt(line, b, i)
            else if (k == gqIx) out.gq(s) = intAt(line, b, i)
            else if (k == adIx) ints(line, b, i, out.ad, s * out.alleles, out.alleles)
            else if (k == plIx) ints(line, b, i, out.pl, s * out.genotypes, out.genotypes)
            if (c == '\t') end = i
            k += 1
            b = i + 1
          }
          i += 1
        }
        if (end < 0) {
          val t = line.indexOf('\t', i)
          end = if (t < 0) line.length else t
        }
        p = end + 1
        s += 1
      }
      out
    }

    /** The first `n` components of the comma list at [b, e) into
      * `out(at)`…`out(at + n - 1)`; components it lacks stay Missing.
      */
    private def ints(line: String, b: Int, e: Int, out: Array[Int], at: Int, n: Int): Unit = {
      var j = 0
      var cb = b
      var i = b
      while (j < n && i <= e) {
        if (i == e || line.charAt(i) == ',') {
          out(at + j) = intAt(line, cb, i)
          j += 1
          cb = i + 1
        }
        i += 1
      }
    }

    /** `line.substring(b, e).toInt`, Missing where that throws or the
      * piece is `.`.
      */
    private def intAt(line: String, b: Int, e: Int): Int =
      if (e == b || (e == b + 1 && line.charAt(b) == '.')) Missing
      else try Integer.parseInt(line, b, e, 10)
      catch { case _: NumberFormatException => Missing }
  }

  // ------------------------------------------------------------- genotypes

  /** VEP's minimised-allele form of an ALT (the CSQ `Allele` field):
    * SNVs keep the alt; indels sharing their leading base with REF drop
    * it ("-" when nothing remains). Needed to attach CSQ entries to
    * indel alts — matching the raw ALT string alone silently drops
    * every indel annotation.
    */
  def vepAllele(ref: String, alt: String): String =
    if (ref.length == 1 && alt.length == 1) alt
    else if (ref.nonEmpty && alt.nonEmpty && ref(0) == alt(0)) {
      val t = alt.drop(1)
      if (t.isEmpty) "-" else t
    } else alt

  /** Allele indices of a GT string ("0/1", "1|1", "./."); None = missing.
    * A char scan with `String.split("[/|]")`'s exact results — a token
    * per separator, trailing empty tokens dropped, "" → one missing
    * allele — without compiling a regex per sample per alt.
    */
  def gtAlleles(gt: String): Vector[Option[Int]] = {
    val out = Vector.newBuilder[Option[Int]]
    var sawSep = false
    var pendingEmpty = 0 // empty tokens kept only if a non-empty one follows
    var start = 0
    var i = 0
    while (i <= gt.length) {
      if (i == gt.length || gt.charAt(i) == '/' || gt.charAt(i) == '|') {
        if (i < gt.length) sawSep = true
        if (i == start) pendingEmpty += 1
        else {
          while (pendingEmpty > 0) { out += None; pendingEmpty -= 1 }
          out += allele(gt, start, i)
        }
        start = i + 1
      }
      i += 1
    }
    if (sawSep) out.result() else Vector(allele(gt, 0, gt.length))
  }

  private def allele(gt: String, start: Int, end: Int): Option[Int] =
    if (end == start) None
    else if (end == start + 1) {
      val c = gt.charAt(start)
      if (c == '.') None
      else if (c >= '0' && c <= '9') Some(c - '0')
      else Some(gt.substring(start, end).toInt) // throws like split + toInt
    } else Some(gt.substring(start, end).toInt)

  /** GEMINI gt_type of one sample's GT w.r.t. alt allele index `altIx`
    * (1-based in the GT encoding). Any missing allele → UNKNOWN; alleles
    * of OTHER alts count as ref after decompose (vt-decompose keeps the
    * record bi-allelic by demoting other alts).
    */
  def gtType(gt: String, altIx: Int = 1): Int = gtTypeOf(gtAlleles(gt), altIx)

  /** gtType over alleles parsed once per sample (a record's alts share
    * them).
    */
  def gtTypeOf(alleles: Vector[Option[Int]], altIx: Int): Int = {
    if (alleles.isEmpty || alleles.exists(_.isEmpty)) Unknown
    else {
      val n = alleles.count(_.contains(altIx))
      if (n == 0) HomRef
      else if (n == alleles.length) HomAlt
      else Het
    }
  }

  /** Per-variant genotype summary — the reference's call_rate / aaf /
    * num_hom_ref / num_het / num_hom_alt / num_unknown columns.
    */
  final case class GtStats(
      callRate: Double, aaf: Double,
      numHomRef: Int, numHet: Int, numHomAlt: Int, numUnknown: Int)

  def gtStats(gtTypes: Seq[Int]): GtStats = {
    val n = gtTypes.size
    val unknown = gtTypes.count(_ == Unknown)
    val called = n - unknown
    val het = gtTypes.count(_ == Het)
    val homAlt = gtTypes.count(_ == HomAlt)
    val homRef = gtTypes.count(_ == HomRef)
    GtStats(
      callRate = if (n == 0) 0.0 else called.toDouble / n,
      aaf = if (called == 0) 0.0 else (het + 2 * homAlt).toDouble / (2 * called),
      numHomRef = homRef, numHet = het, numHomAlt = homAlt, numUnknown = unknown)
  }

  // ------------------------------------------------------- schema plumbing

  /** SQL-unsafe / reserved column names get a `_` suffix, everything is
    * lowercased and non-alphanumerics become `_` — the reference's column
    * sanitization so INFO ids survive as SQL columns.
    */
  private val reserved = Set(
    "all", "alter", "and", "as", "between", "case", "check", "default",
    "distinct", "end", "filter", "group", "id", "in", "index", "is",
    "like", "not", "null", "or", "order", "select", "table", "where")

  def sanitize(name: String): String = {
    val base = name.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')
    val led = if (base.nonEmpty && base.head.isDigit) "_" + base else base
    if (reserved(led)) led + "_" else led
  }

  /** Worst-impact severity ranking over SO consequence terms — the
    * reference's HIGH/MED/LOW bucketing used to pick the single impact
    * row that gets denormalized onto `variants`. Lower rank = worse.
    */
  val severityRank: Map[String, Int] = Map(
    // HIGH
    "transcript_ablation" -> 0, "splice_acceptor_variant" -> 1,
    "splice_donor_variant" -> 2, "stop_gained" -> 3, "frameshift_variant" -> 4,
    "stop_lost" -> 5, "start_lost" -> 6,
    // MEDIUM
    "inframe_insertion" -> 10, "inframe_deletion" -> 11,
    "missense_variant" -> 12, "protein_altering_variant" -> 13,
    "splice_region_variant" -> 14,
    // LOW
    "synonymous_variant" -> 20, "stop_retained_variant" -> 21,
    "5_prime_UTR_variant" -> 22, "3_prime_UTR_variant" -> 23,
    "intron_variant" -> 24, "upstream_gene_variant" -> 25,
    "downstream_gene_variant" -> 26, "intergenic_variant" -> 27)

  def severityBucket(consequence: String): String = {
    val r = severityRank.getOrElse(consequence, 99)
    if (r < 10) "HIGH" else if (r < 20) "MED" else "LOW"
  }
}
