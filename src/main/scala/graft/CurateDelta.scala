package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Text}

/** The DAILY-INGEST twin of [[CurateCorpus]]: curate an arriving delta
  * against a PERSISTED base index without ever touching base text —
  * the production shape at 100 TB, where the standing corpus is never
  * rescanned. One run: exact delta-dedup (d15Probe against the key
  * store), near-dup delta-dedup (d20Probe against the MinHash index),
  * quality/repetition cut (t02/t09 signals), PII redaction (t08),
  * survivors to parquet — plus a VERSIONED index update (the input
  * index is immutable; the appended index lands beside the output, so
  * yesterday's index can always replay yesterday's verdicts).
  *
  * Index layout (written by [[buildIndex]], consumed by [[run]]):
  * `<indexDir>/keys.parquet` (d15's distinct content hashes) and
  * `<indexDir>/{sigs,buckets,counts}.parquet` (d20's [[Dedup.MinhashIndex]]).
  *
  * Scale notes: the probes are d15/d20's documented shapes — the only
  * per-delta work is delta-sized (bucket equi-join under the combined
  * ≤50 cap, candidate-bounded confirm, one partial agg); the index
  * update is a union + per-bucket count merge, never a base recompute
  * (IncrementalIndexSpec pins merge ≡ rebuild).
  */
object CurateDelta {

  case class Report(nDelta: Long, nAfterExact: Long, nAfterNear: Long,
      nAfterQuality: Long, nOut: Long,
      nAfterContainment: Option[Long] = None)

  /** One-time (or re-sharded) base index build. `withGrams` adds
    * d23's [[Dedup.GramIndex]] so delta runs can screen asymmetric
    * containment too (off by default — gram sets are the index's
    * largest component).
    */
  def buildIndex(base: DataFrame, indexDir: String,
      withGrams: Boolean = false): Unit = {
    val s = base.sparkSession
    import s.implicits._
    base.select(md5($"text").as("h")).distinct()
      .write.mode("overwrite").parquet(s"$indexDir/keys.parquet")
    // cutSigs/cutGrams: the kernel runs once for all three component
    // writes; the cut frames are dead once the index is on disk
    val mIdx = Dedup.d20IndexOf(base, cutSigs = true)
    mIdx.write(indexDir)
    Lineage.release(mIdx.sigs)
    if (withGrams) {
      val gIdx = Dedup.d23IndexOf(base, cutGrams = true)
      gIdx.write(indexDir)
      Lineage.release(gIdx.grams)
    }
  }

  private def loadKeys(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/keys.parquet")

  /** Whether the index at `indexDir` carries d23's gram component
    * (built with `withGrams = true`) — the containment screen's
    * precondition, and the signal that an index UPDATE must carry the
    * gram component forward too.
    */
  private def hasGrams(s: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/grams.parquet")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** @param delta     arriving (doc_id, text, …) frame — doc_ids must
    *                  not collide with ids already in the index
    * @param indexDir  immutable base index ([[buildIndex]] layout)
    * @param outDir    survivors land here; the UPDATED index (base ∪
    *                  kept delta) lands at `<outDir>-index`
    * @param updateIndex set false to skip writing the appended index
    *                  (audit-only runs)
    */
  def run(delta: DataFrame, indexDir: String, outDir: String,
      minScore: Double = 0.25, maxDup3: Double = 0.6,
      updateIndex: Boolean = true,
      containment: Option[Double] = None): Report = {
    val spark = delta.sparkSession
    import spark.implicits._

    val input = delta.select(delta.columns.map(col).toIndexedSeq: _*).persist()
    val nDelta = Lineage.count(input)

    // 1. EXACT delta dedup (d15Probe): base_dup (already in the index)
    //    and delta_dup (a later copy within today's delta) both drop —
    //    the probe never reads base text, only the key store.
    val keys = loadKeys(spark, indexDir)
    val exactKept = Dedup
      .d15Probe(keys, input.select($"doc_id", $"text"))
      .filter($"verdict" === "kept").select($"doc_id")
    // stage boundaries are lineage cuts from here on (CurateCorpus's
    // round-14 fix): each stage references its input ~2× (the probe
    // verdict join), so bare persist() grows the analyzed plan 2^k-fold
    // by the tail of the pipeline
    val exact = input.join(exactKept, Seq("doc_id"), "left_semi")
      .transform(Lineage.cut)
    val nExact = Lineage.count(exact)
    input.unpersist()

    // 2. NEAR-DUP delta dedup (d20Probe): the re-crawled page with a
    //    new timestamp that md5 missed; base_near_dup AND
    //    delta_near_dup drop (first-wins within the delta). Docs under
    //    3 tokens carry no signature and pass through unverdicted —
    //    exactly d20's roster rule.
    val index = Dedup.MinhashIndex.load(spark, indexDir)
    val verdicts = Dedup.d20Probe(index, exact.select($"doc_id", $"text"))
    val nearDropped = verdicts.filter($"verdict" =!= "kept").select($"doc_id")
    val near = exact.join(nearDropped, Seq("doc_id"), "left_anti")
      .transform(Lineage.cut)
    val nNear = Lineage.count(near)
    Lineage.release(exact) // near's cut materialized; exact is dead

    // 2.5 (optional) CONTAINMENT delta screen (d23Probe on the gram
    //     index): arriving docs sitting ≥ τ inside a base doc drop —
    //     the padded re-syndication near-dup signatures miss. Docs the
    //     probe flags `contains_base` (aggregators that swallowed a
    //     base doc but may carry novel content) are KEPT, matching
    //     d23's routing contract; only `contained_in_base` drops.
    //     Requires an index built with `buildIndex(withGrams = true)`.
    val (contained, nContain) = containment match {
      case Some(tau) =>
        require(hasGrams(spark, indexDir),
          s"--containment requires an index built with grams " +
            s"(buildIndex(withGrams = true) / --with-grams=true): " +
            s"$indexDir has no grams.parquet")
        val gIdx = Dedup.GramIndex.load(spark, indexDir)
        val dropIds = Dedup
          .d23Probe(gIdx, near.select($"doc_id", $"text"), tau)
          .filter($"verdict" === "contained_in_base").select($"doc_id")
        val kept = near.join(dropIds, Seq("doc_id"), "left_anti")
          .transform(Lineage.cut)
        val n = Lineage.count(kept)
        Lineage.release(near) // kept's cut materialized; near is dead
        (kept, Some(n))
      case None => (near, None)
    }

    // 3. quality + repetition cut (t02/t09 signals), per-row codegen
    val quality = Text.qualitySignals(contained)
      .filter($"q_score" >= minScore &&
        coalesce($"q_dup3", lit(0.0)) <= maxDup3)
      .drop("q_score", "q_dup3")
      .persist() // leaf-rooted plan after the cuts above — persist suffices
    val nQuality = Lineage.count(quality)
    // quality is cached — the containment-stage frame (= near when the
    // containment screen is off) is dead
    Lineage.release(contained)

    // 4. PII redaction last, then write: a per-row projection, so as
    //    many survivors ship as passed the quality cut
    quality.withColumn("text", Text.redact($"text"))
      .write.mode("overwrite").parquet(outDir)

    // 5. VERSIONED index update: append the SHIPPED survivors to a
    //    fresh index dir — union + count merge, no base text touched.
    //    Exact keys cover BOTH text forms: the shipped (redacted) text
    //    a future delta re-crawls from the published corpus, and the
    //    pre-redaction raw text a future delta re-sends from the
    //    original source (redaction changed the hash, so indexing only
    //    one form lets the other slip the exact screen). The near-dup
    //    and gram indexes are built from the shipped form alone —
    //    redaction touches few tokens, so a raw re-send still confirms
    //    at the banded/containment thresholds.
    if (updateIndex) {
      val shipped = spark.read.parquet(outDir).select($"doc_id", $"text")
      keys.unionByName(shipped.select(md5($"text").as("h")))
        .unionByName(quality.select(md5($"text").as("h"))).distinct()
        .write.mode("overwrite").parquet(s"$outDir-index/keys.parquet")
      // no cutSigs/cutGrams here: unlike buildIndex's corpus-scale
      // base, `shipped` is a day-delta — re-running its kernels per
      // component write is delta-bounded, and the cut's materialize
      // round trip measured +1.0 s on job_curate_delta at sf0.1
      index.merge(Dedup.d20IndexOf(shipped)).write(s"$outDir-index")
      // carry the gram component forward whenever the input index has
      // one — a day-2 --containment run against the updated index must
      // both load AND screen against day-1's survivors
      if (hasGrams(spark, indexDir))
        Dedup.GramIndex.load(spark, indexDir)
          .merge(Dedup.d23IndexOf(shipped)).write(s"$outDir-index")
    }
    quality.unpersist()
    Report(nDelta, nExact, nNear, nQuality, nOut = nQuality, nContain)
  }

  private val usage =
    "usage: CurateDelta (--build-index=true [--with-grams=true] " +
      "<baseParquet> <indexDir> | <deltaParquet> <indexDir> <outDir> " +
      "[--min-score=0.25] [--max-dup3=0.6] [--update-index=true] " +
      "[--containment=tau])"

  def main(args: Array[String]): Unit = {
    val (flag, positional) = Cli.parse(args,
      Set("build-index", "with-grams", "min-score", "max-dup3",
        "update-index", "containment"), usage)
    val spark = GraftSession.build()
    try {
      if (flag("build-index").exists(_.toBoolean)) {
        require(positional.length == 2, usage)
        buildIndex(spark.read.parquet(positional(0)), positional(1),
          withGrams = flag("with-grams").exists(_.toBoolean))
        println(s"[curate-delta] index built at ${positional(1)}")
      } else {
        require(positional.length == 3, usage)
        val r = run(spark.read.parquet(positional(0)), positional(1),
          positional(2),
          minScore = flag("min-score").map(_.toDouble).getOrElse(0.25),
          maxDup3 = flag("max-dup3").map(_.toDouble).getOrElse(0.6),
          updateIndex = flag("update-index").forall(_.toBoolean),
          containment = flag("containment").map(_.toDouble))
        println(s"[curate-delta] delta=${r.nDelta} exact=${r.nAfterExact} " +
          s"near=${r.nAfterNear} " +
          r.nAfterContainment.map(n => s"contain=$n ").getOrElse("") +
          s"quality=${r.nAfterQuality} out=${r.nOut}")
      }
    } finally spark.stop()
  }
}
