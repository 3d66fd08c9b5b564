package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** What the generator knows about the cohort it wrote: the output
  * checks compare the loaded database and the query results with it.
  * Row-level tallies are over DECOMPOSED rows (one per ALT).
  */
final case class CohortTally(
    records: Long, rows: Long, multiAllelicRecords: Long, csqEntries: Long,
    homRef: Long, het: Long, homAlt: Long, unknown: Long,
    depthSum: Long, altDepthSum: Long,
    allAffectedHet: Long, affectedOnlyCarrier: Long, regionRows: Long,
    transitions: Long, transversions: Long)

/** Seeded cohort VCF + PED. Shape follows a VEP-annotated exome-style
  * cohort: 6 trios and 2 singletons, `GT:AD:DP:GQ:PL` with missing
  * calls, a share of multi-allelic records (the decompose path), and
  * 1–3 CSQ transcripts per record. Children inherit one allele from
  * each parent, with rare de novo calls, so the inheritance tools see
  * realistic trios; a small share of sites is planted HET in every
  * affected sample.
  */
object Cohort {
  val Region = "1:1-20000000"
  private val chroms = Seq("1", "2", "3", "4", "5")
  private val chromLen = 50000000L
  private val bases = "ACGT"
  private val multiShare = 0.10
  private val missingShare = 0.03
  private val plantedShare = 0.02
  private val transitions = Set("AG", "GA", "CT", "TC")

  final case class Sample(family: String, id: String, father: String,
      mother: String, sex: Int, affected: Boolean)

  val samples: Vector[Sample] = {
    val trios = (1 to 6).flatMap { f =>
      val fam = s"FAM$f"
      Seq(Sample(fam, s"$fam-dad", "0", "0", 1, affected = false),
        Sample(fam, s"$fam-mom", "0", "0", 2, affected = false),
        Sample(fam, s"$fam-kid", s"$fam-dad", s"$fam-mom", 1 + f % 2,
          affected = f <= 4))
    }
    (trios ++ Seq(Sample("SGL1", "SGL1", "0", "0", 2, affected = true),
      Sample("SGL2", "SGL2", "0", "0", 1, affected = false))).toVector
  }

  private val consequences = Vector(
    "missense_variant", "synonymous_variant", "intron_variant",
    "3_prime_UTR_variant", "5_prime_UTR_variant", "upstream_gene_variant",
    "downstream_gene_variant", "splice_region_variant", "stop_gained",
    "splice_donor_variant", "start_lost", "intergenic_variant")

  private val header = Seq(
    "##fileformat=VCFv4.2",
    "##FILTER=<ID=PASS,Description=\"All filters passed\">",
    "##FILTER=<ID=LowQual,Description=\"Low quality\">",
    "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">",
    "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">",
    "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">",
    "##INFO=<ID=CSQ,Number=.,Type=String,Description=\"Consequence annotations " +
      "from Ensembl VEP. Format: Allele|Consequence|IMPACT|SYMBOL|Gene|" +
      "Feature_type|Feature|BIOTYPE\">",
    "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">",
    "##FORMAT=<ID=AD,Number=R,Type=Integer,Description=\"Allelic depths\">",
    "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">",
    "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">",
    "##FORMAT=<ID=PL,Number=G,Type=Integer,Description=\"Phred likelihoods\">") ++
    chroms.map(c => s"##contig=<ID=$c,length=$chromLen>")

  private def fmt(pattern: String, v: Double): String =
    String.format(java.util.Locale.ROOT, pattern, Double.box(v))

  def writePed(file: File): Unit = {
    val w = new BufferedWriter(new FileWriter(file))
    try {
      w.write("#family_id\tsample_id\tpaternal_id\tmaternal_id\tsex\tphenotype\n")
      samples.foreach { s =>
        w.write(Seq(s.family, s.id, s.father, s.mother, s.sex,
          if (s.affected) 2 else 1).mkString("", "\t", "\n"))
      }
    } finally w.close()
  }

  /** Writes `records` VCF records for `seed` and returns their tally. */
  def writeVcf(file: File, records: Int, seed: Long): CohortTally = {
    val rnd = new SplittableRandom(seed)
    val ix = samples.map(_.id).zipWithIndex.toMap
    val affected = samples.indices.filter(i => samples(i).affected)
    val perChrom = records / chroms.length
    var rows, multi, csq, homRef, het, homAlt, unknown = 0L
    var depthSum, altDepthSum, allAffHet, affOnly, regionRows, ts, tv = 0L
    val w = new BufferedWriter(new FileWriter(file), 1 << 16)
    try {
      w.write(header.mkString("", "\n", "\n"))
      w.write((Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
        "INFO", "FORMAT") ++ samples.map(_.id)).mkString("", "\t", "\n"))
      for ((chrom, ci) <- chroms.zipWithIndex) {
        val n = if (ci == chroms.length - 1) records - perChrom * ci else perChrom
        val gap = (chromLen - 20000) / n
        var pos = 10000L
        for (_ <- 0 until n) {
          pos += 1 + rnd.nextLong(2 * gap - 1)
          val ref = bases(rnd.nextInt(4))
          val nAlt = if (rnd.nextDouble() < multiShare) 2 else 1
          val alts = bases.filterNot(_ == ref).toVector
            .sortBy(_ => rnd.nextInt()).take(nAlt)
          val freqs = alts.map(_ => 0.02 + 0.4 * rnd.nextDouble() * rnd.nextDouble())
          def draw(): Int = {
            val u = rnd.nextDouble()
            if (u < freqs(0)) 1
            else if (nAlt > 1 && u < freqs(0) + freqs(1)) 2
            else 0
          }
          val planted = rnd.nextDouble() < plantedShare
          // diploid allele pairs; null = missing call
          val calls = new Array[(Int, Int)](samples.length)
          samples.zipWithIndex.foreach { case (s, i) =>
            calls(i) =
              if (s.father != "0") {
                val (f, m) = (calls(ix(s.father)), calls(ix(s.mother)))
                val a = if (rnd.nextBoolean()) f._1 else f._2
                val b = if (rnd.nextBoolean()) m._1 else m._2
                if (rnd.nextDouble() < 0.002) (a, 1 - math.min(b, 1)) else (a, b)
              } else (draw(), draw())
          }
          if (planted) affected.foreach(i => calls(i) = (0, 1))
          val missing = samples.indices.map(_ =>
            rnd.nextDouble() < missingShare && !planted).toArray
          val depths = samples.indices.map(_ => 8 + rnd.nextInt(60)).toArray
          val ad = samples.indices.map { i =>
            val (a, b) = calls(i)
            val split = Array.fill(nAlt + 1)(0)
            (0 until depths(i)).foreach { _ =>
              val allele = if (rnd.nextDouble() < 0.02) rnd.nextInt(nAlt + 1)
                else if (rnd.nextBoolean()) a else b
              split(allele) += 1
            }
            split
          }.toArray
          val sampleCols = samples.indices.map { i =>
            if (missing(i)) "./.:.:.:.:."
            else {
              val (a, b) = calls(i)
              val (lo, hi) = (math.min(a, b), math.max(a, b))
              val pl = for (k <- 0 to nAlt; j <- 0 to k) yield
                if (j == lo && k == hi) 0 else 10 + rnd.nextInt(200)
              s"$lo/$hi:${ad(i).mkString(",")}:${depths(i)}:" +
                s"${1 + rnd.nextInt(99)}:${pl.mkString(",")}"
            }
          }
          val entries = 1 + rnd.nextInt(3)
          val gene = s"GENE${chrom}_${pos / 250000}"
          val csqs = (0 until entries).map { t =>
            val cons = consequences(rnd.nextInt(consequences.length))
            val impact = graft.sources.VcfParser.severityBucket(cons) match {
              case "MED" => "MODERATE"
              case other => other
            }
            s"${alts(rnd.nextInt(nAlt))}|$cons|$impact|$gene|ENSG${ci}${pos / 250000}|" +
              s"Transcript|ENST$ci${pos}_$t|protein_coding"
          }
          val called = samples.indices.filterNot(i => missing(i))
          val acs = (1 to nAlt).map(k => called.map { i =>
            (if (calls(i)._1 == k) 1 else 0) + (if (calls(i)._2 == k) 1 else 0)
          }.sum)
          val an = 2 * called.length
          val info = s"AC=${acs.mkString(",")};" +
            s"AF=${acs.map(c => if (an == 0) "0" else fmt("%.4f", c.toDouble / an)).mkString(",")};" +
            s"DP=${depths.sum};CSQ=${csqs.mkString(",")}"
          val qual = fmt("%.1f", 20 + rnd.nextDouble() * 980)
          val filter = if (rnd.nextDouble() < 0.05) "LowQual" else "PASS"
          w.write(Seq(chrom, pos.toString, s"rs$ci$pos", ref.toString,
            alts.mkString(","), qual, filter, info, "GT:AD:DP:GQ:PL").mkString("\t"))
          w.write(sampleCols.mkString("\t", "\t", "\n"))

          if (nAlt > 1) multi += 1
          csq += entries
          for (k <- 1 to nAlt) {
            rows += 1
            if (chrom == "1" && pos <= 20000000L) regionRows += 1
            val alt = alts(k - 1)
            if (transitions(s"$ref$alt")) ts += 1 else tv += 1
            val types = samples.indices.map { i =>
              if (missing(i)) 2
              else {
                val n = Seq(calls(i)._1, calls(i)._2).count(_ == k)
                if (n == 0) 0 else if (n == 2) 3 else 1
              }
            }
            homRef += types.count(_ == 0); het += types.count(_ == 1)
            homAlt += types.count(_ == 3); unknown += types.count(_ == 2)
            depthSum += samples.indices.map(i => if (missing(i)) -1 else depths(i)).sum
            altDepthSum += samples.indices.map(i => if (missing(i)) -1 else ad(i)(k)).sum
            if (affected.forall(i => types(i) == 1)) allAffHet += 1
            val carrier = types.map(t => t == 1 || t == 3)
            if (affected.exists(carrier) &&
                samples.indices.filterNot(affected.contains).forall(i => !carrier(i)))
              affOnly += 1
          }
        }
      }
    } finally w.close()
    CohortTally(records, rows, multi, csq, homRef, het, homAlt, unknown,
      depthSum, altDepthSum, allAffHet, affOnly, regionRows, ts, tv)
  }
}
