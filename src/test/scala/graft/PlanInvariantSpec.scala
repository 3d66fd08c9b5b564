package graft

/** Locks in the SURVEY §5 physical-plan invariants for EVERY declared
  * query (the automated form of the graft.Explain audit): no cartesian
  * products, no sort-merge joins (every join must resolve to a
  * broadcast at these dim sizes), and q03's top-k must be a
  * TakeOrderedAndProject, not a global sort.
  */
class PlanInvariantSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The only queries allowed a BroadcastNestedLoopJoin: a TINY
    * broadcast side against one scan — s01/s03 broadcast the query set
    * (exact-search shape), d03 broadcasts a SINGLE-ROW corpus count
    * into its bucket-cap filter. Never corpus × corpus.
    */
  private val bnljAllowed = Map(
    "s01_ann_bruteforce_topk" -> 1, // broadcast query set × corpus scan
    // the exact-side s01 subtree (one designed BNLJ) is referenced by
    // both the per-query total and the hit count, so it prints twice
    "s09_ann_recall" -> 2,
    // s09's duplication (exact subtree in the hit semi-join AND the
    // n_exact total) + the single-row n_exact crossJoin broadcast
    "s16_probe_sweep" -> 3,
    "s05_range_search" -> 1, // broadcast query set × corpus scan (s01's shape)
    "s11_ann_scalar_quant" -> 1, // broadcast quantized query set × corpus scan
    "s03_ann_ivf" -> 1, // broadcast centroid set × query scan
    "s04_ann_pq" -> 1, // broadcast query set (+ ADC tables) × code scan
    // single-row count broadcast into the bucket-cap filter; appears
    // TWICE in the printed tree because the candidate self-join
    // duplicates its child subtree
    "d03_dedup_simhash" -> 2,
    // broadcast trio dim × one variants scan (per-row gt-array indexing
    // on non-equi predicates — no join key exists by construction)
    "e17_trio_denovo" -> 1,
    "e18_inheritance_classify" -> 1, // same broadcast-trio shape as e17
    "e27_mendel_summary" -> 1, // e18's classification scan + one partial agg
    "e22_xlinked" -> 1, // same broadcast-trio shape, sex-aware dim
    "e25_auto_dom" -> 1, // same broadcast-trio shape, phenotype-aware dim
    "e26_xlinked_dom" -> 1, // same broadcast-trio shape, sex+phenotype dim
    // the comp-het pair self-join duplicates its hets subtree, so the
    // trio-dim BNLJ inside it prints twice
    "e19_comp_het" -> 2,
    // single-row corpus-total broadcast into the vocab log-probs and
    // the OOV floor (d03's count shape, used twice)
    "t10_unigram_logprob" -> 2,
    // single-row class-totals broadcast into the vocab log-odds and
    // the OOV floor (t10's shape exactly)
    "t34_quality_classifier" -> 2,
    // three SINGLE-ROW stage counts combined into the one funnel row
    "q16_funnel" -> 2,
    // single-row doc-count broadcast into the idf term (t10's shape)
    "t14_tfidf" -> 1,
    // single-row bigram-total broadcast into the OOV floor (t10's shape)
    "t19_bigram_logprob" -> 1,
    // single-row (n_docs, sum_dl) corpus frame broadcast into every
    // posting row's BM25 length normalization (t10/t14's count shape)
    "t32_bm25" -> 1,
    // bounded types-dim broadcast into the dense window×type grid; the
    // grid subtree is referenced by both the lag and total branches,
    // so the single designed BNLJ prints twice
    "st07_drift_monitor" -> 2,
    // single-row weight-total broadcast into the per-source quota
    // (t10/t14's count shape)
    "t17_temperature_mix" -> 1,
    // single-row index-total broadcast into the needs_split flag
    // (d03's count shape)
    "s15_index_upsert" -> 1,
    // single-row global-revenue total broadcast into the HAVING gate
    "q25_value_concentration" -> 1,
    // single-row positive-balance (total, count) broadcast into the
    // above-average gate (q25's shape)
    "q32_dormant_capital" -> 1,
    // single-row doc-count broadcast into the chunk-bucket cap (d03's
    // count shape); the capped subtree sits on BOTH sides of the pair
    // self-join, so it prints twice (e19's duplication)
    "m10_phash_near_dup" -> 2,
    // source-pair skeleton: sources-dim self-join on a non-equi (<)
    // ordering predicate — both sides are the bounded source dim
    "t27_domain_divergence" -> 1,
    // broadcast tumor-normal pair dim × one variants scan: the depth/
    // frequency predicate is non-equi by construction (e17's trio shape)
    "e43_set_somatic" -> 1,
    "e44_actionable" -> 1,
    // broadcast LOH pair dim × one variants scan (e43's non-equi shape)
    "e57_loh" -> 1)

  /** Queries whose bucket-key SELF-join is designed as a shuffle join
    * (SURVEY §5.4: "band-bucket keys are the shuffle key") — neither
    * side is a broadcastable dim at corpus scale, so a SortMergeJoin /
    * shuffled-hash there is the intended physical shape, not a miss.
    * Everywhere else a SortMergeJoin means a dim failed to broadcast.
    */
  private val shuffleSelfJoinAllowed =
    Set("d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
      // eval-vs-corpus candidate join keyed on d02's capped (band,
      // bucket-hash) — the banded shuffle regime; the eval side is
      // suite-bounded in production, so AQE may broadcast it, but the
      // designed key is the bucket, not a dim
      "d14_fuzzy_decontaminate",
      // delta-vs-(base ∪ earlier-delta) candidate join on the same
      // capped (band, bucket-hash) key — d14's regime with the delta
      // in the probe role
      "d20_delta_minhash",
      // d02's banded pair self-join verbatim (the split columns are
      // per-row md5 prefixes, no extra join shape)
      "d21_split_leakage",
      // d04's rare-shingle candidate self-join verbatim, scored by
      // containment instead of Jaccard — same designed shuffle key
      "d22_containment",
      // d22's rare-gram candidate join with the delta in the probe
      // role (parity split before the join) — same designed gram key
      "d23_containment_delta",
      // phash-chunk bucket self-join — d03's banded regime on the
      // 56-bit dHash; neither side is a broadcastable dim at corpus
      // scale (AQE may convert at tiny SF)
      "m10_phash_near_dup",
      // corpus-vs-corpus k-NN graph keyed on the LSH bucket — neither
      // side is a broadcastable dim at corpus scale (d02's regime)
      "s06_knn_graph",
      // pair self-join keyed on (family, gene) — the candidate-bucket
      // key; neither side is a broadcastable dim at cohort scale
      "e19_comp_het",
      // tf × document-frequency join keyed on term — the vocabulary of
      // a corpus-scale input is itself corpus-scale, so the term join
      // is a shuffle join by design (AQE broadcasts it at tiny SF)
      "t14_tfidf",
      // the greedy-step joins run over lazily localCheckpoint'd pool
      // frames (bounded at queries × MmrPoolC rows at ANY corpus
      // size); checkpoint boundaries have no stats, so the static
      // planner can't prove them broadcastable — AQE converts at
      // runtime, and a shuffle of a 36-row frame is moot regardless.
      // The one corpus-scale stage (s01's scan + pool window) sits
      // BEHIND the checkpoint and keeps s01's plan shape.
      "s08_mmr_rerank",
      // the recall eval semi-joins two POST-TOP-K frames (each bounded
      // at queries × k rows at any corpus size) whose windowed-subtree
      // stats the static planner can't see; AQE broadcasts at runtime
      "s09_ann_recall",
      // s09's class: the sweep's hit count semi-joins the unioned
      // post-top-k frame (bounded at radii × queries × k) against
      // s01's exact top-k — both statless subtrees, AQE broadcasts
      "s16_probe_sweep",
      // the drift monitor's grid/total joins land AFTER st01's windowed
      // agg, on (timeline/5min × types) dim frames whose aggregated-
      // subtree stats the static planner can't see; AQE broadcasts at
      // runtime — the raw event stream shuffles exactly once
      "st07_drift_monitor")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name plan: no cartesian product, no sort-merge join") {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in $name")
      if (!shuffleSelfJoinAllowed(name))
        assert(!plan.contains("SortMergeJoin"),
          s"non-broadcast join in $name (dims must broadcast)")
      val bnljCount = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      bnljAllowed.get(name) match {
        case None => assert(bnljCount == 0,
          s"all-pairs nested loop in $name (O(n²) at scale — block first)")
        case Some(max) =>
          // allowlisted plans get exactly their designed tiny-side BNLJs;
          // growth beyond that is the corpus×corpus regression this guards
          assert(bnljCount <= max, s"$name grew an extra nested loop ($bnljCount > $max)")
      }
    }
  }

  /** d07/d09's label plans: the d07 plan must root at `roots` (any one
    * of them) and read no parquet; d09 keeps only its scoring scans.
    */
  private def labelStepReadsOnlyCuts(roots: Seq[String]): Unit = {
    // Round-14 fix pinned: connectedComponents' node roster and edge
    // loop share ONE cut frame, so the final label plan must root at
    // materialized data — a cut RDD on the loop path, the driver's
    // local frame on the driver finish — not re-run the candidate-pair
    // machinery (d07 had 16 parquet scans before the fix). d09 keeps
    // exactly its survivor-scoring scans of `documents` (3 in the
    // printed tree); growth beyond that means the duplicated DAG crept
    // back.
    val d07 = SparkEntry.queries("d07_dedup_clusters")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!d07.contains("Scan parquet"),
      "d07's label step re-reads parquet — the cut edge frame is not being reused")
    assert(roots.exists(d07.contains), s"d07 roots at none of $roots:\n$d07")
    val d09 = SparkEntry.queries("d09_dedup_survivor")(spark, dir)
      .queryExecution.executedPlan.toString
    val d09Scans = "Scan parquet".r.findAllIn(d09).size
    assert(d09Scans <= 3,
      s"d09 grew parquet scans beyond its scoring reads ($d09Scans > 3)")
  }

  test("d07/d09 label step reads only cut RDDs — no duplicated parquet DAG") {
    labelStepReadsOnlyCuts(Seq("Scan ExistingRDD", "LocalTableScan"))
  }

  test("d07/d09 label step on the star-round loop (threshold -1) reads only cut RDDs") {
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      labelStepReadsOnlyCuts(Seq("Scan ExistingRDD"))
    }
  }

  test("q03 top-k is a per-partition heap, not a global sort") {
    val plan = SparkEntry.queries("q03_topk_orders")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q06 pushes every selective predicate into the parquet scan") {
    // FormattedMode prints the full PushedFilters list (toString truncates)
    val plan = SparkEntry.queries("q06_selective_filter")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.05)"))
    assert(plan.contains("LessThan(l_quantity,24.0)"))
  }
}
