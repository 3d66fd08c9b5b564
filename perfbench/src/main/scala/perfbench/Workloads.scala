package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CurateCorpus, CurateDelta, Graft, GraftDb, Vcf2Db}
import graft.sinks.DbSink
import graft.sources.VcfReader

/** What one pass cost, as the harness recorded it. */
final case class PassRecord(wallS: Double, cpuS: Double, processCpuS: Double,
    calls: Map[String, Double], counters: Map[String, Double], residentRdds: Int,
    failedCalls: Long, stealShare: Double)

/** One benchmark workload. `nominalPassS` is a constant that turns
  * `--seconds` into a fixed pass count, so the count depends on the
  * arguments only, never on how fast the machine runs.
  */
trait Workload {
  def warmups: Int
  def nominalPassS: Double
  def inputs: Seq[(String, Long)]
  def setup(h: Harness): Unit
  def pass(h: Harness): Unit
  /** Checks the outputs of the pass that just ran. */
  def verify(h: Harness): Unit
  /** Checks what every pass returned, after the last pass. */
  def verifyRun(h: Harness): Unit = ()
  def outBytesPerInByte(h: Harness): Double
  /** Per-layer metrics: the layer probes run here, after the traced pass. */
  def layers(h: Harness, timed: Seq[PassRecord], traced: PassRecord,
      spans: Seq[Span]): Map[String, Double]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "load" => new Load
    case "curate" => new Curate
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (want load or curate)")
  }

  /** The counters of the last span named `name`. */
  private[perfbench] def spanCounters(spans: Seq[Span], name: String): Map[String, Double] =
    spans.filter(_.name == name).lastOption.map(_.counters).getOrElse(
      throw new IllegalStateException(s"no span '$name' was traced"))

  /** Median wall and executor CPU of `reps` runs of one layer call; the
    * counters are those of the last run.
    */
  private[perfbench] def probe(h: Harness, name: String, reps: Int)(f: => Unit)
      : (Double, Double, Map[String, Double]) = {
    val runs = (1 to reps).map { _ =>
      val before = h.recorder.snapshot()
      val t0 = System.nanoTime()
      h.tracer.fold(f)(_.span(name)(f))
      val wall = (System.nanoTime() - t0) / 1e9
      val d = Recorder.delta(h.recorder.snapshot(), before)
      (wall, d("executor_cpu_s"), d)
    }
    (Stats.median(runs.map(_._1)), Stats.median(runs.map(_._2)), runs.last._3)
  }
}

import Workload._

/** vcf2db itself: a generated cohort VCF + PED loaded to a parquet
  * database by `Vcf2Db.run` with default flags. 20,000 records are
  * ~15 MB of text, which Spark reads as one split per core on a 4-core
  * machine; a smaller file falls under the 4 MB open cost and is read
  * as one or two uneven splits, so a pass would time one task's core.
  */
final class Load(records: Int = 20000) extends Workload {
  val warmups = 3
  val nominalPassS = 4.0
  private var vcf, ped: File = _
  private[perfbench] var tally: CohortTally = _

  def inputs = Seq("vcf_bytes" -> vcf.length(), "ped_bytes" -> ped.length(),
    "vcf_records" -> records.toLong, "vcf_rows_decomposed" -> tally.rows)

  def setup(h: Harness): Unit = {
    vcf = new File(h.work, "cohort.vcf")
    ped = new File(h.work, "cohort.ped")
    tally = Cohort.writeVcf(vcf, records, h.seed)
    Cohort.writePed(ped)
  }

  private def db(h: Harness) = h.path("out/db")

  def pass(h: Harness): Unit =
    h.call("vcf2db.run")(Vcf2Db.run(h.spark, vcf.getPath, Some(ped.getPath), db(h)))

  def verify(h: Harness): Unit = verifyAgainst(h, tally)

  /** Compares the database the last pass wrote with `t`. */
  private[perfbench] def verifyAgainst(h: Harness, t: CohortTally): Unit = {
    val s = h.spark
    val dir = db(h)
    h.expectEq("load.variants_rows", GraftDb.variants(s, dir).count(), t.rows)
    h.expectEq("load.impacts_rows", GraftDb.impacts(s, dir).count(), t.csqEntries)
    h.expectEq("load.samples_rows", GraftDb.samples(s, dir).count(),
      Cohort.samples.length.toLong)
    val stats = GraftDb.variants(s, dir).agg(sum("num_hom_ref"), sum("num_het"),
      sum("num_hom_alt"), sum("num_unknown")).head()
    h.expectEq("load.genotype_class_sums", (0 to 3).map(stats.getLong),
      Seq(t.homRef, t.het, t.homAlt, t.unknown))
    // the blob round trip: packed arrays unpack to the generated values
    def countOf(k: Int) = expr(s"aggregate(gt_types, 0L, (a, x) -> a + IF(x = $k, 1L, 0L))")
    val blobs = GraftDb.expandGenotypes(s, dir).agg(
      sum(countOf(0)), sum(countOf(1)), sum(countOf(3)), sum(countOf(2)),
      sum(expr("aggregate(gt_depths, 0L, (a, x) -> a + x)")),
      sum(expr("aggregate(gt_alt_depths, 0L, (a, x) -> a + x)"))).head()
    h.expectEq("load.blob_round_trip", (0 to 5).map(blobs.getLong),
      Seq(t.homRef, t.het, t.homAlt, t.unknown, t.depthSum,
        t.altDepthSum))
  }

  def outBytesPerInByte(h: Harness): Double =
    Harness.dataBytes(new File(db(h))).toDouble / vcf.length()

  def layers(h: Harness, timed: Seq[PassRecord], traced: PassRecord,
      spans: Seq[Span]): Map[String, Double] = {
    val s = h.spark
    val run = spanCounters(spans, "vcf2db.run")
    val (_, v, i) = VcfReader.fromPath(s, vcf.getPath)
    val (vS, vCpu, _) = probe(h, "sources.variants", 2)(h.noop(v))
    val (iS, iCpu, _) = probe(h, "sources.impacts", 2)(h.noop(i))
    val vc = v.persist(); vc.count()
    val ic = i.persist(); ic.count()
    val (wS, _, wC) = probe(h, "vcf2db.worst_impact", 2)(
      h.noop(Vcf2Db.denormalizeWorstImpact(vc, ic)))
    val denorm = Vcf2Db.denormalizeWorstImpact(vc, ic).persist(); denorm.count()
    val (pS, pCpu, _) = probe(h, "functions.pack", 2)(h.noop(Vcf2Db.packGenotypeBlobs(denorm)))
    val packed = Vcf2Db.packGenotypeBlobs(denorm).persist(); packed.count()
    val (sS, _, sC) = probe(h, "sinks.write", 2)(
      DbSink.writeParquet(packed, h.path("out/probe_variants"), 8))
    Seq(packed, denorm, ic, vc).foreach(_.unpersist(blocking = true))
    Map(
      "sources.input_bytes_per_vcf_byte" -> run("input_bytes") / vcf.length(),
      "sources.variants_s" -> vS, "sources.variants_cpu_s" -> vCpu,
      "sources.impacts_s" -> iS, "sources.impacts_cpu_s" -> iCpu,
      "vcf2db.worst_impact_s" -> wS,
      "vcf2db.worst_impact_shuffle_mb" -> wC("shuffle_write_bytes") / 1e6,
      "functions.pack_s" -> pS, "functions.pack_cpu_s" -> pCpu,
      "sinks.write_s" -> sS, "sinks.bytes_written" -> sC("output_bytes"),
      "vcf2db.run_jobs" -> run("jobs"),
      "vcf2db.run_shuffle_mb" -> run("shuffle_write_bytes") / 1e6,
      "vcf2db.run_gc_s" -> run("gc_s")) ++
      QueryCalls.layers(h, db(h), tally)
  }
}

/** The GEMINI read side over a loaded database: nine public calls, run
  * as layer probes on the database the traced load pass wrote.
  */
object QueryCalls {
  private val gtFilterSpec = "(gt_types).(phenotype==2).(==HET).(all)"
  /** timed probe passes after the two checked ones */
  private val reps = 2

  val calls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> ((s, db) => Graft.query(s, db, region = Some(Cohort.Region))),
    "gt_filter" -> ((s, db) => Graft.query(s, db, gtFilter = Some(gtFilterSpec))),
    "sample_filter" -> ((s, db) =>
      Graft.query(s, db, sampleFilter = Some("phenotype==2"), in = "only")),
    "tstv" -> ((s, db) => Graft.stats(s, db, "tstv")),
    "gene_burden" -> ((s, db) => Graft.stats(s, db, "gene-burden")),
    "sample_qc" -> ((s, db) => Graft.stats(s, db, "sample-qc")),
    "mendel_summary" -> ((s, db) => Graft.stats(s, db, "mendel-summary")),
    "comp_hets" -> ((s, db) => GraftDb.compHets(s, db)),
    "export_vcf" -> ((s, db) => Graft.export(s, db, "vcf")))

  /** Runs every call with its result digested, checks the results the
    * generator knows, and returns the digests.
    */
  private def checkedPass(h: Harness, db: String, tally: CohortTally)
      : Map[String, (Long, Long)] = {
    val digests = calls.flatMap { case (n, f) =>
      h.call(s"query.$n")(h.digest(f(h.spark, db))).map(n -> _)
    }.toMap
    def rows(n: String) = digests.get(n).map(_._1)
    h.expectEq("query.region_rows", rows("region"), Some(tally.regionRows))
    h.expectEq("query.gt_filter_rows", rows("gt_filter"), Some(tally.allAffectedHet))
    h.expectEq("query.sample_filter_rows", rows("sample_filter"),
      Some(tally.affectedOnlyCarrier))
    h.expectEq("query.export_vcf_rows", rows("export_vcf"), Some(tally.rows))
    val tstv = Graft.stats(h.spark, db, "tstv").agg(sum("n_ts"), sum("n_tv")).head()
    h.expectEq("query.tstv_counts", (tstv.getLong(0), tstv.getLong(1)),
      (tally.transitions, tally.transversions))
    digests
  }

  def layers(h: Harness, db: String, tally: CohortTally): Map[String, Double] = {
    val first = checkedPass(h, db, tally)
    val second = checkedPass(h, db, tally)
    calls.foreach { case (n, _) =>
      h.expectEq(s"query.${n}_same_result", second.get(n), first.get(n)) }
    val passes = (1 to reps).map { _ =>
      val before = h.recorder.snapshot()
      h.beginPass()
      calls.foreach { case (n, f) =>
        h.call(n)(h.noop(h.build(n)(f(h.spark, db))))
      }
      (h.callTimes.toMap, h.buildTimes.toMap, Recorder.delta(h.recorder.snapshot(), before))
    }
    val perCall = calls.map(_._1).flatMap { n =>
      val walls = passes.map(_._1(n))
      Seq(s"query.${n}_s" -> Stats.median(walls),
        s"query.${n}_build_s" -> Stats.median(passes.map(_._2(n))),
        s"query.${n}_jobs" -> spanCounters(h.tracer.get.spans, n)("jobs"),
        s"query.${n}_p90_s" -> Stats.percentile(walls, 90))
    }
    val (uS, uCpu, _) = probe(h, "functions.unpack", 2)(
      h.noop(GraftDb.expandGenotypes(h.spark, db)))
    perCall.toMap ++ Map(
      "query.p90_samples" -> reps.toDouble,
      "query.jobs_per_pass" -> Stats.median(passes.map(_._3("jobs"))),
      "query.build_share" -> Stats.median(passes.map(p => p._2.values.sum / p._1.values.sum)),
      "query.input_mb" -> Stats.median(passes.map(_._3("input_bytes"))) / 1e6,
      "functions.unpack_s" -> uS, "functions.unpack_cpu_s" -> uCpu)
  }
}

/** LLM-corpus curation: `CurateCorpus.run` with its default flags over a
  * generated 1,600-document table. (The bench configuration's extra stages
  * double the pass and its JIT warm-up, which the run budget cannot hold.)
  */
final class Curate extends Workload {
  val warmups = 4
  val nominalPassS = 5.0
  private val docs = 1600
  private var distinct = 0
  private var input: DataFrame = _
  private var docsDir: File = _
  private val reports = mutable.ArrayBuffer.empty[Option[CurateCorpus.Report]]

  def inputs = Seq("docs" -> docs.toLong, "docs_bytes" -> Harness.dataBytes(docsDir))

  def setup(h: Harness): Unit = {
    val (generated, nDistinct) = Corpus.generate(docs, h.seed)
    distinct = nDistinct
    docsDir = new File(h.work, "docs.parquet")
    Corpus.frame(h.spark, generated).write.parquet(docsDir.getPath)
    input = h.spark.read.parquet(docsDir.getPath)
  }

  def pass(h: Harness): Unit =
    reports += h.call("corpus")(CurateCorpus.run(input, h.path("out/corpus")))

  def verify(h: Harness): Unit = reports.last match {
    case Some(r) =>
      h.expectEq("curate.input_docs", r.nInput, docs.toLong)
      h.expectEq("curate.after_exact_dedup", r.nAfterExactDedup, distinct.toLong)
      h.expectEq("curate.survivors_written",
        h.spark.read.parquet(h.path("out/corpus")).count(), r.nAfterDecontam)
    case None => h.check("curate.corpus_report", ok = false, "the corpus job failed")
  }

  override def verifyRun(h: Harness): Unit =
    h.check("curate.same_report_every_pass", reports.distinct.size == 1,
      reports.distinct.mkString(" | "))

  def outBytesPerInByte(h: Harness): Double =
    Harness.dataBytes(new File(h.path("out/corpus"))).toDouble / Harness.dataBytes(docsDir)

  /** The delta jobs run here as probes: a seed-chosen half of the
    * documents is indexed, the other half curated against the index.
    */
  def layers(h: Harness, timed: Seq[PassRecord], traced: PassRecord,
      spans: Seq[Span]): Map[String, Double] = {
    val corpus = spanCounters(spans, "corpus")
    val half = pmod(hash(col("doc_id"), lit(h.seed)), lit(2))
    val (base, delta) = (input.filter(half === 0), input.filter(half === 1))
    val deltaReports = mutable.ArrayBuffer.empty[CurateDelta.Report]
    val runs = (1 to 2).map { _ =>
      h.deleteOutputs()
      val idx = probe(h, "index", 1)(
        CurateDelta.buildIndex(base, h.path("out/idx"), withGrams = true))
      val d = probe(h, "delta", 1)(deltaReports += CurateDelta.run(delta, h.path("out/idx"),
        h.path("out/delta"), containment = Some(0.6)))
      (idx, d)
    }
    h.check("curate.same_delta_report", deltaReports.distinct.size == 1,
      deltaReports.distinct.mkString(" | "))
    val ((iS, iCpu, iC), (dS, dCpu, dC)) = runs.last
    val tokens = input.select(split(lower(col("text")), "\\s+").as("w")).persist()
    tokens.count()
    val (shS, _, _) = probe(h, "functions.shingles", 5)(
      h.noop(tokens.select(expr("shingles(w, 4)"))))
    val grams = tokens.select(expr("shingles(w, 4)").as("g")).persist()
    grams.count()
    val (mhS, _, _) = probe(h, "functions.minhash_sig", 5)(
      h.noop(grams.select(expr("minhash_sig(g)"))))
    Seq(grams, tokens).foreach(_.unpersist(blocking = true))
    Map(
      "curate.corpus_s" -> Stats.median(timed.flatMap(_.calls.get("corpus"))),
      "curate.corpus_cpu_s" -> corpus("executor_cpu_s"),
      "curate.corpus_jobs" -> corpus("jobs"),
      "curate.index_s" -> iS, "curate.index_cpu_s" -> iCpu, "curate.index_jobs" -> iC("jobs"),
      "curate.delta_s" -> dS, "curate.delta_cpu_s" -> dCpu, "curate.delta_jobs" -> dC("jobs"),
      "functions.shingles_s" -> shS, "functions.minhash_sig_s" -> mhS)
  }
}
