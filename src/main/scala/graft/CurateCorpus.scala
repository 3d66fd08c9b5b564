package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Text}

/** The LLM-training-data counterpart of [[Vcf2Db]]: one job that takes
  * a raw (doc_id, text, …) corpus through the standard curation
  * pipeline — exact dedup, line-level (sub-document) dedup, near-dup
  * CLUSTER dedup with best-quality survivor selection,
  * quality/repetition filtering, PII redaction, benchmark
  * decontamination — and writes the survivors plus a per-stage
  * attrition report. Every stage is one of the library's verified
  * kernels (d01/t13/d02+d07+d09/t02/t09/t08/d08 semantics — near-dup
  * pairs default to d02's MinHash+LSH scale path, d04's exact-Jaccard
  * self-join stays available via `nearDup = "exact"`); this
  * object only sequences them.
  *
  * Scale notes: each stage is the operator's own documented shape (no
  * new shuffles are introduced by the sequencing); stage boundaries
  * are LINEAGE CUTS ([[Lineage.cut]] — cached like a persist, but the
  * downstream plan roots at the materialized RDD), so the per-stage
  * counts neither recompute nor re-PLAN the whole lineage. Each count is
  * [[Lineage.count]], the one job that materializes its cut or persist,
  * not a count aggregate planned on top of it. The
  * near-dup/containment stages reference their input frame up to 5×
  * each, and under bare persist() the analyzed tree grew
  * multiplicatively per stage (~95 s of driver planning vs 40 s of
  * Spark jobs, measured round 14). Peak cached footprint stays ~2
  * stages — the ContextCleaner drops cut blocks as stage frames go
  * out of scope.
  *
  * Near-dup clustering is [[Dedup.connectedComponents]]: a corpus's
  * pair graph normally fits the broadcast threshold, so it is one
  * collect of the cut pair frame and a driver union-find, and the
  * labels join the scored docs as a local (broadcast) frame — no
  * star-contraction round. No frame is counted twice: without a
  * benchmark the decontaminated count is the quality count.
  */
object CurateCorpus {

  /** Text-derived length metadata kept consistent with a rewritten
    * `text` column (no-op when the corpus has no n_chars column).
    */
  private def refreshNChars(df: DataFrame): DataFrame =
    if (df.columns.contains("n_chars"))
      df.withColumn("n_chars",
        length(col("text")).cast(df.schema("n_chars").dataType))
    else df

  /** Per-stage attrition: how many docs survived each cut. `nCodeRouted`
    * counts docs the modality router diverted to the code lane (0 when
    * routing is off).
    */
  case class Report(nInput: Long, nAfterExactDedup: Long,
      nAfterLineDedup: Long, nAfterNearDedup: Long, nAfterQuality: Long,
      nAfterDecontam: Long, nCodeRouted: Long = 0L,
      nAfterBoilerTrim: Option[Long] = None,
      nAfterContainment: Option[Long] = None,
      nAfterLearnedQuality: Option[Long] = None,
      nLeakPairs: Option[Long] = None)

  /** @param docs       corpus with at least (doc_id: long, text: string)
    * @param outDir     survivors land here as parquet (redacted text)
    * @param minScore   t02 composite-quality floor
    * @param maxDup3    t09 duplicate-3-gram-fraction ceiling
    * @param minJaccard near-dup pair threshold (exact Jaccard in
    *                   `exact` mode, signature-estimate in `minhash`)
    * @param benchmark  optional eval set (doc_id, text) — survivors
    *                   sharing an `ngram`-gram with it are dropped
    * @param nearDup    pair generator for stage 3: "minhash" (default
    *                   — d02's LSH engine, the SURVEY §5.4 scale path:
    *                   candidate cost grows with corpus size, not
    *                   shingle frequency) or "exact" (d04's
    *                   shared-shingle self-join with exact Jaccard —
    *                   opt-in for small corpora where exact pair
    *                   recall at the threshold matters more than the
    *                   self-join's df-driven fan-out)
    * @param containment optional d22 threshold — when set, each
    *                   containment pair's contained (smaller-gram-set)
    *                   side drops after near-dup clustering: the
    *                   wholesale-quote asymmetry Jaccard clustering is
    *                   blind to
    * @param refCorpus  optional reference corpus (doc_id, text) — when
    *                   set, t34's Naive-Bayes gate trains on
    *                   (survivors=0 ∪ reference=1) and keeps only docs
    *                   scored closer to the reference, the data-driven
    *                   leg beside the t02 heuristic cut
    * @param auditLeakage when true, d21's split-leakage audit runs on
    *                   the written survivors and lands at
    *                   `<outDir>-leakage` as a report artifact
    */
  def run(docs: DataFrame, outDir: String,
      minScore: Double = 0.25, maxDup3: Double = 0.6,
      minJaccard: Double = 0.5, benchmark: Option[DataFrame] = None,
      ngram: Int = 4, routeCode: Boolean = false,
      trimBoilerplate: Boolean = false,
      nearDup: String = "minhash",
      containment: Option[Double] = None,
      refCorpus: Option[DataFrame] = None,
      auditLeakage: Boolean = false): Report = {
    require(nearDup == "minhash" || nearDup == "exact",
      s"nearDup must be 'minhash' or 'exact', got '$nearDup'")
    val spark = docs.sparkSession
    import spark.implicits._

    // persist a frame THIS job owns (a projection of the argument):
    // Spark persistence is not ref-counted, so persisting/unpersisting
    // the caller's own DataFrame would evict their cache
    val input = docs.select(docs.columns.map(col).toIndexedSeq: _*).persist()
    val nInput = Lineage.count(input)

    // Stage boundaries are LINEAGE CUTS (lazy localCheckpoint — or a
    // reliable checkpoint when spark.graft.checkpointDir is set), not
    // bare persist(): persist caches the DATA but every downstream
    // action still re-ANALYZES the full logical plan, and the stages
    // below reference their inputs 2-5× each (near-dup candidates,
    // containment grams), so the analyzed tree grows MULTIPLICATIVELY
    // per stage. Measured round 14 (sf0.1, local[32]): 102 Spark jobs
    // totalled 39.8 s while the job walled 136.7 s — the other ~95 s
    // was the driver re-planning ever-larger trees (17 s of optimizer
    // gap before single counts). Cutting at each boundary keeps every
    // stage's plan rooted at the previous stage's materialized RDD.
    // Cut frames are cached like the persists they replace, and each
    // stage's blocks are EXPLICITLY released (Lineage.release) once its
    // successor's cut materializes — stage frames are method-local vals
    // strongly reachable until run() returns, so relying on the
    // ContextCleaner would leave every stage's near-corpus-size blocks
    // resident at once at 100 TB (guide §5). Peak cached footprint is
    // ~2 stage frames, like the pre-cut explicit unpersists.

    // 1. exact dedup (d01 rule): min doc_id survives each md5(text)
    //    group. One exchange keyed on the text hash; the full row moves
    //    through it once — same bytes moved as the groupBy+rejoin
    //    formulation (whose survivor-id side is corpus-sized, not
    //    broadcastable), chosen for the single-pass simplicity
    val exact = input
      .withColumn("_keep",
        min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"_keep").drop("_keep")
      .transform(Lineage.cut)
    val nExact = Lineage.count(exact)
    input.unpersist() // dead once the exact stage materialized

    // 1.5 (optional) per-source BOILERPLATE trim (t22 rewrite rule):
    //     template chrome repeated across one source's docs is removed
    //     from every doc of that source BEFORE line dedup (which would
    //     otherwise keep each template's arbitrary first occurrence)
    //     and before clustering (which template lines would glue).
    //     Requires a `source` column.
    val (trimmed, nTrim) = if (trimBoilerplate) {
      require(exact.columns.contains("source"),
        "--trim-boilerplate needs a source column")
      val t = refreshNChars(Text.trimBoilerplate(exact)).transform(Lineage.cut)
      val n = Lineage.count(t)
      Lineage.release(exact) // trimmed's cut materialized; exact is dead
      (t, Some(n))
    } else (exact, None)

    // 2. LINE-level dedup (t13 rewrite rule): corpus-duplicated lines
    //    keep only their global first occurrence; docs losing every
    //    line drop. Runs BEFORE near-dup clustering so boilerplate
    //    lines can't glue unrelated documents into one cluster.
    //    Token-derived metadata refreshes with the rewritten text.
    val lineD = refreshNChars(Text.dedupLines(trimmed)).transform(Lineage.cut)
    val nLine = Lineage.count(lineD)
    // trimmed (= exact when boilerplate trim is off) is dead now
    Lineage.release(trimmed)

    // quality signals computed ONCE on the line-deduped text — the
    // survivor rule below and the quality cut both read them
    val scored = Text.qualitySignals(lineD).persist()

    // 3. near-dup cluster dedup: d04 pairs → connected components
    //    (d07; a small pair graph is labelled on the driver) → the
    //    BEST-QUALITY member of each cluster survives
    //    (d09 rule: q_score desc, doc_id tie-break), not the arbitrary
    //    min-id. Unclustered docs pass through untouched (kept out of
    //    the window so NULL cluster ids never pile into one partition).
    val pairTexts = lineD.select($"doc_id", $"text")
    val pairs = (if (nearDup == "minhash")
        Dedup.minhashPairs(pairTexts, minJaccard)
      else Dedup.jaccardPairs(pairTexts, minJaccard))
      .select($"doc_a".as("u"), $"doc_b".as("v"))
    val labels = Dedup.connectedComponents(spark, pairs)
    val labeled = scored.join(labels, Seq("doc_id"), "left")
    val survivorPick = Window.partitionBy($"cluster_id")
      .orderBy($"q_score".desc, $"doc_id".asc)
    val near = labeled.filter($"cluster_id".isNull)
      .unionByName(labeled.filter($"cluster_id".isNotNull)
        .withColumn("_rk", row_number().over(survivorPick))
        .filter($"_rk" === 1).drop("_rk"))
      .drop("cluster_id")
      .transform(Lineage.cut)
    val nNear = Lineage.count(near)
    // the near frame carries everything downstream; its inputs are dead
    scored.unpersist()
    Lineage.release(lineD)

    // 3.6 (optional) CONTAINMENT dedup (d22 rule): the short doc quoted
    //     wholesale inside a long one has containment ≈ 1 but Jaccard
    //     far below stage 3's τ (the union is dominated by the long
    //     side), so clustering never merged the pair; here the
    //     contained (smaller-gram-set) side drops. Runs on the CLUSTER
    //     SURVIVORS, so the candidate join never re-sees the near-dup
    //     mass stage 3 already removed.
    val (contained, nContain) = containment match {
      case Some(tau) =>
        val drop = Dedup.containmentPairs(
            near.select($"doc_id", $"text"), tau)
          .select($"contained_doc".as("doc_id")).distinct()
        val kept = near.join(drop, Seq("doc_id"), "left_anti")
          .transform(Lineage.cut)
        val n = Lineage.count(kept)
        Lineage.release(near) // kept's cut materialized; near is dead
        (kept, Some(n))
      case None => (near, None)
    }

    // 3.5 (optional) modality routing: t20's oracle-verified code rule
    //     diverts code docs to their own lane BEFORE the prose-tuned
    //     quality cut (t02/t15 signals punish code for being code);
    //     the code lane still gets decontamination + redaction below
    //     and lands in <outDir>-code. Per-row codegen, shuffle-free.
    val (prose, codeLane) = if (routeCode) {
      val flagged = Text.codeSignals(contained)
        .drop("n_words", "n_sym", "sym_frac", "n_kw", "camel_frac")
      (flagged.filter(!$"is_code").drop("is_code"),
        Some(flagged.filter($"is_code").drop("is_code").persist()))
    } else (contained, None)
    val nCode = codeLane.map(Lineage.count).getOrElse(0L)

    // 4. quality + repetition cut (t02/t09 signals) — per-row codegen,
    //    shuffle-free
    val heuristic = prose
      .filter($"q_score" >= minScore &&
        (coalesce($"q_dup3", lit(0.0)) <= maxDup3))
      .drop("q_score", "q_dup3")
      .persist()
    val nQuality = Lineage.count(heuristic)
    // heuristic is cached and the code lane (if any) was counted into
    // its own cache above — the containment-stage frame is dead
    Lineage.release(contained)

    // 4.5 (optional) LEARNED quality gate (t34 rule): a Naive-Bayes
    //     model trained on (survivors=0 ∪ reference=1) keeps docs whose
    //     mean token log-odds says "reference-like" — the data-driven
    //     gate beside (never instead of) the heuristic cut, exactly the
    //     CCNet/GPT-3 stack. Scale shape is t34's: one token shuffle,
    //     top-V TakeOrdered, broadcast vocab scoring join.
    val (quality, nLearned) = refCorpus match {
      case Some(ref) =>
        val train = heuristic.select($"doc_id", lit(0).as("is_ref"), $"text")
          .unionByName(ref.select($"doc_id", lit(1).as("is_ref"), $"text"))
        val keepIds = Text.nbQualityScores(train)
          .filter($"is_ref" === 0 && $"pred" === 1)
          .select($"doc_id")
        val kept = heuristic.join(keepIds, Seq("doc_id"), "left_semi")
          .persist()
        val n = Lineage.count(kept)
        heuristic.unpersist()
        (kept, Some(n))
      case None => (heuristic, None)
    }

    // 5. decontamination (d08) on the RAW text — it must run before
    //    redaction, or contamination hidden behind a redacted span
    //    (an email inside a copied benchmark answer) slips through
    //    (without a benchmark `clean` IS `quality`, already counted)
    val (clean, nClean) = benchmark match {
      case Some(b) =>
        val contaminated = Dedup.decontaminate(
          quality.select($"doc_id", split($"text", " ").as("toks")),
          b.select(split($"text", " ").as("toks")), ngram)
          .select($"doc_id")
        val kept = quality.join(contaminated, Seq("doc_id"), "left_anti").persist()
        (kept, Lineage.count(kept))
      case None => (quality, nLearned.getOrElse(nQuality))
    }

    // 6. PII redaction (t08) last, keeping derived length metadata
    //    consistent with the rewritten text
    val redacted = refreshNChars(clean.withColumn("text", Text.redact($"text")))
    redacted.write.mode("overwrite").parquet(outDir)

    // the code lane runs the same tail (decontaminate, redact) — only
    // the prose-tuned quality cut was skipped
    codeLane.foreach { c =>
      val codeClean = benchmark match {
        case Some(b) =>
          val contaminated = Dedup.decontaminate(
            c.select($"doc_id", split($"text", " ").as("toks")),
            b.select(split($"text", " ").as("toks")), ngram)
            .select($"doc_id")
          c.join(contaminated, Seq("doc_id"), "left_anti")
        case None => c
      }
      refreshNChars(codeClean.withColumn("text", Text.redact($"text")))
        .write.mode("overwrite").parquet(s"$outDir-code")
      c.unpersist()
    }
    // 7. (optional) split-leakage report artifact (d21 rule) over the
    //    WRITTEN survivors (read back — the audit must see exactly what
    //    shipped, and reading parquet beats recomputing the lineage):
    //    near-dup pairs straddling the t16 hash-split boundary, the
    //    eval-inflation audit every training run wants on file.
    val nLeaks = if (auditLeakage) {
      val audit = Dedup.splitLeakageOf(
        spark.read.parquet(outDir).select($"doc_id", $"text"),
        Dedup.DeltaNearTau)
      audit.write.mode("overwrite").parquet(s"$outDir-leakage")
      Some(spark.read.parquet(s"$outDir-leakage")
        .filter($"leaks" === 1).count())
    } else None

    quality.unpersist()
    if (benchmark.isDefined) clean.unpersist()
    Report(nInput, nExact, nLine, nNear, nQuality, nClean, nCode, nTrim,
      nContain, nLearned, nLeaks)
  }

  private val usage =
    "usage: CurateCorpus <inParquet> <outDir> [--benchmark=path] " +
      "[--min-score=0.25] [--max-dup3=0.6] [--min-jaccard=0.5] " +
      "[--route-code=false] [--trim-boilerplate=false] " +
      "[--near-dup=minhash|exact] [--containment=tau] " +
      "[--ref-corpus=path] [--audit-leakage=false]"

  /** CLI twin of [[Vcf2Db.main]]: curate a parquet corpus in one run. */
  def main(args: Array[String]): Unit = {
    val (flag, positional) = Cli.parse(args,
      Set("benchmark", "min-score", "max-dup3", "min-jaccard",
        "route-code", "trim-boilerplate", "near-dup", "containment",
        "ref-corpus", "audit-leakage"), usage)
    require(positional.length == 2, usage)
    val spark = GraftSession.build()
    try {
      val docs = spark.read.parquet(positional(0))
      val bench = flag("benchmark").map(spark.read.parquet(_))
      val r = run(docs, positional(1),
        minScore = flag("min-score").map(_.toDouble).getOrElse(0.25),
        maxDup3 = flag("max-dup3").map(_.toDouble).getOrElse(0.6),
        minJaccard = flag("min-jaccard").map(_.toDouble).getOrElse(0.5),
        benchmark = bench,
        routeCode = flag("route-code").exists(_.toBoolean),
        trimBoilerplate = flag("trim-boilerplate").exists(_.toBoolean),
        nearDup = flag("near-dup").getOrElse("minhash"),
        containment = flag("containment").map(_.toDouble),
        refCorpus = flag("ref-corpus").map(spark.read.parquet(_)),
        auditLeakage = flag("audit-leakage").exists(_.toBoolean))
      println(s"[curate] input=${r.nInput} exact=${r.nAfterExactDedup} " +
        r.nAfterBoilerTrim.map(n => s"boiler=$n ").getOrElse("") +
        s"line=${r.nAfterLineDedup} near=${r.nAfterNearDedup} " +
        r.nAfterContainment.map(n => s"contain=$n ").getOrElse("") +
        s"quality=${r.nAfterQuality} " +
        r.nAfterLearnedQuality.map(n => s"learned=$n ").getOrElse("") +
        s"decontam=${r.nAfterDecontam} code=${r.nCodeRouted}" +
        r.nLeakPairs.map(n => s" leak_pairs=$n").getOrElse(""))
    } finally spark.stop()
  }
}
