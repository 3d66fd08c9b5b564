package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.vecDot

/** Similarity search over the embeddings table (SURVEY.md §2.3).
  *
  * 100 TB notes: the query set is always the broadcast side — the
  * corpus is scanned once, in place, never shuffled; top-k per query is
  * a per-partition heap (window rank after a size-bounded candidate
  * set). The LSH variant buckets the corpus ONCE (reusable across query
  * batches) and probes Hamming-1 neighbor buckets, so the per-query
  * work is O(bucket), not O(corpus).
  */
object Similarity {

  private def T(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // Constants consumed by BOTH the Spark plans and the `oracle` SQL
  // strings live ABOVE the oracle map and are `final val` literals
  // (compile-time inlined): a plain `val` declared below the map would
  // still be 0 when the map's interpolations run (Scala object vals
  // initialize in declaration order — the exact bug that shipped s07's
  // oracle as `WHERE rn <= 0` in round 6).
  private final val K = 10

  /** s06 neighbor-list depth — small by design: a k-NN graph feeds
    * clustering/curation, not retrieval, and edge volume is k × corpus.
    */
  private final val KnnK = 5

  /** s07 per-cell keep quota. */
  private final val DivQuota = 3

  /** s08 MMR: candidate-pool width, keep count, and λ in TENTHS
    * (λ=0.7 → score = 7·rel − 3·maxSim in exact integer micro-cosine
    * units, so the greedy argmax can never flip on a float ulp).
    */
  private final val MmrPoolC = 12
  private final val MmrK = 5
  private final val MmrL10 = 7

  /** s11 shortlist depth: quantized-score candidates per query kept for
    * the exact re-rank (3× the final K).
    */
  private final val SqCand = 30

  /** Cosines over `vecDot`, the sequential-fold dot product — same
    * left-to-right double accumulation DuckDB's list_inner_product
    * does, so cosines are bit-comparable across engines. It is the
    * native codegen expression (graft.functions.VecDot); Spark's
    * `aggregate`/`zip_with` higher-order functions would run
    * INTERPRETED per element in the hottest loop of the similarity
    * family. `a·b / sqrt(an2 · bn2)` keeps the oracle replays'
    * multiplication order, so every cosine is bit-identical.
    */
  private[operators] def cosine(a: String, b: String, an2: String, bn2: String): Column =
    vecDot(col(a), col(b)) / sqrt(col(an2) * col(bn2))

  /** [[cosine]] with both squared norms computed in place. */
  private[operators] def cosine(a: String, b: String): Column =
    vecDot(col(a), col(b)) / sqrt(sqNorm(a) * sqNorm(b))

  /** Squared norm of a vector column (hoisted per row by the callers). */
  private[operators] def sqNorm(v: String): Column = vecDot(col(v), col(v))

  /** s01: exact cosine top-k — brute force over a broadcast query set. */
  def s01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // squared norms hoisted per side: the scan ran three vec_dots per
    // (corpus row × query) — n2/qn2 are per-row constants, so one dot
    // per scored row remains. sqrt(n2 * qn2) keeps the multiplication
    // order, every cosine bit-identical.
    val emb = T(s, dir, "embeddings")
      .withColumn("n2", sqNorm("embedding"))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"n2".as("qn2"))
    val scored = emb.crossJoin(broadcast(queries))
      .withColumn("cos", cosine("embedding", "q_emb", "n2", "qn2"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** Deterministic random hyperplanes (splitmix64 → [-1, 1]); generated
    * driver-side (bytes, not data) and folded into the plan as literals.
    * Shared with Dedup.d05's blocking (and its DuckDB oracle, which
    * re-derives the same buckets from these values as SQL literals).
    */
  private[operators] def plane(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map { d =>
      var x = (j * 64 + d + 1).toLong * 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x = x ^ (x >>> 31)
      (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** LSH geometry — AUTO-SIZED from the corpus count (round-13 verdict
    * ask #1: the log2 growth rule must be a parameter, not prose).
    *
    * The plane count follows NPlanes = ceil(log2(N / TargetOccupancy)),
    * floored at [[MinPlanes]] and capped at [[MaxPlanes]], computed by
    * EXACT integer comparison (smallest j with N <= occupancy << j) so
    * the Spark side and the DuckDB oracle replay — which derives the
    * same j from count(*) via the same integer rule, see
    * [[bucketCteSql]] — can never disagree on a log2 ulp. Per-cell
    * population then stays ~[[TargetOccupancy]] at ANY corpus size:
    * candidate volume of the banded joins is N × (NPlanes+1) ×
    * occupancy — LINEAR in N — instead of the quadratic
    * N²(NPlanes+1)/2^NPlanes a fixed geometry decays to (the measured
    * 790M-pair stream at the 200k-vector sf10 probe under the old
    * hard-coded 8 planes). The equi-join shape never changes; only the
    * bucket key widens, and the Hamming-1 probe fan-out stays
    * NPlanes+1.
    *
    * [[MaxPlanes]] = 24 covers ~1.7B vectors at occupancy 100; beyond
    * that the cap keeps the probe fan-out and the oracle's plane-
    * literal table bounded (occupancy grows past target only after
    * 2^24 cells are saturated — re-plane with a larger MaxPlanes
    * then). At every committed fixture (≤2000 vectors) the rule
    * yields [[MinPlanes]] = 8, so small-scale results are byte-
    * identical to the fixed geometry they replace.
    */
  private[operators] final val MinPlanes = 8
  private[operators] final val MaxPlanes = 24
  private[operators] final val TargetOccupancy = 100L

  /** Smallest j in [MinPlanes, MaxPlanes] with n <= TargetOccupancy·2^j. */
  private[graft] def nPlanesFor(n: Long): Int =
    (MinPlanes to MaxPlanes).find(j => n <= (TargetOccupancy << j))
      .getOrElse(MaxPlanes)

  /** Auto-sized plane count for a corpus dir — ONE count(*) over the
    * embeddings parquet (footer-cheap at any scale), memoized per dir
    * so a multi-stage operator (s16 sweeps 4 radii) and the bench's
    * repeated passes pay it once.
    */
  private val geomCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[graft] def nPlanesOf(s: SparkSession, dir: String): Int =
    geomCache.computeIfAbsent(dir,
      _ => Int.box(nPlanesFor(T(s, dir, "embeddings").count()))).intValue

  private[graft] val Dims = 64

  /** Constant row budget for quantizer training (s03/s04). 64k 64-dim
    * vectors ≈ 16 MB on the driver-adjacent MLlib path — enough for a
    * k=16 codebook (4k samples per centroid) at any corpus size.
    */
  private[graft] val FitBudget = 65536L

  /** Bounds a quantizer's training input to ~[[FitBudget]] rows: a
    * seeded Bernoulli sample at fraction budget/count. The count is one
    * parquet-metadata pass; the sample keeps MLlib's iterative fit off
    * the full corpus (the 100 TB scale killer: KMeans makes several
    * all-data passes per iteration). Below the budget the frame passes
    * through untouched, so small-scale results — and the oracle
    * comparisons built on them — are byte-identical to a full fit.
    * Assignment (model.transform) always stays full-corpus.
    */
  private[graft] def fitSample(df: DataFrame, budget: Long = FitBudget,
      seed: Long = 42L): DataFrame = {
    val n = df.count()
    if (n <= budget) df
    else df.sample(withReplacement = false, budget.toDouble / n, seed)
  }

  /** Random-hyperplane sign bucket of an embedding column. */
  private[operators] def bucketCol(emb: String, np: Int): Column = {
    val bits = (0 until np).map { j =>
      val p = typedLit(plane(j, Dims))
      val d = vecDot(col(emb), p) // same fold as zip_with/aggregate
      when(d > 0.0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** All XOR-probe masks of Hamming weight <= maxH over np bits —
    * generated by combination (not by filtering 2^np integers, which
    * would enumerate 16M masks at MaxPlanes). Fan-out is the binomial
    * sum [[probesAt]], a constant per query at any corpus size.
    */
  private[graft] def probeMasks(np: Int, maxH: Int): Seq[Int] =
    (0 to maxH).flatMap(w => (0 until np).combinations(w)
      .map(_.foldLeft(0)((m, b) => m | (1 << b))).toSeq)

  /** |probeMasks(np, h)| as an exact binomial sum (mirrored in the
    * s16 oracle SQL as integer arithmetic on the same np).
    */
  private[graft] def probesAt(h: Int, np: Int): Int =
    (0 to h).map { w =>
      (0 until w).foldLeft(1L)((acc, i) => acc * (np - i) / (i + 1))
    }.sum.toInt

  /** s02: LSH-bucketed approximate NN — corpus bucketed by 8
    * hyperplane sign bits; queries probe their own bucket plus all
    * Hamming-1 neighbors; exact cosine re-ranks within candidates.
    * Oracle-verified end to end: the DuckDB side re-derives the same
    * buckets from the plane literals (d05's technique).
    */
  def s02(s: SparkSession, dir: String): DataFrame = lshTopK(s, dir, maxHamming = 1)

  /** s10: MULTIPROBE LSH ANN — s02's index probed wider (all buckets
    * within Hamming distance 2 of the query's: 1+8+28 = 37 probe
    * buckets instead of 9). The standard recall-vs-cost knob of
    * hyperplane LSH: probe fan-out is a CONSTANT per query (the probe
    * masks are plan literals — still an EQUI-join on the bucket id,
    * never a widening of the join itself), so candidate volume grows
    * ~4× while recall@10 roughly doubles (measured on the eval frame:
    * 0.20 total at Hamming-1, 0.38 at Hamming-2, and the s14 composed
    * pipeline — these buckets + int8 shortlist + exact re-rank —
    * holds the full 0.38, all pinned in DedupQualitySpec). Deployments
    * pick the probe radius per their recall SLO — both radii ship
    * because both sides of that trade are real.
    */
  def s10(s: SparkSession, dir: String): DataFrame = lshTopK(s, dir, maxHamming = 2)

  /** s12: FILTERED ANN (hybrid search) — exact cosine top-k restricted
    * to corpus vectors sharing the query's label: the
    * metadata-predicate-plus-vector-search combination every
    * production vector store serves (pre-filtering, not
    * post-filtering — a post-filter of an unfiltered top-k returns
    * FEWER than k when the filter is selective; the spec pins the
    * difference).
    *
    * Scale shape: s01's regime with the label equality folded into the
    * scan predicate BEFORE any scoring — the filter reaches the
    * parquet scan when the label is a literal, and here (label =
    * query's label) rides the broadcast join condition, so Catalyst
    * evaluates it before the dot product. At full scale the same
    * predicate composes with s02's buckets (filter first, probe the
    * survivors' buckets).
    */
  def s12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // squared norms hoisted per side (s01's fix) — the label-gated scan
    // still scores corpus-scale row counts, cosines bit-identical
    val emb = T(s, dir, "embeddings")
      .withColumn("n2", sqNorm("embedding"))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        $"n2".as("qn2"), $"label".as("q_label"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    emb.join(broadcast(queries), $"label" === $"q_label")
      .withColumn("cos", cosine("embedding", "q_emb", "n2", "qn2"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"q_id", $"label", $"vec_id", expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** s11: SCALAR-QUANTIZED (int8) ANN — the memory-bandwidth scale
    * path between s01's full floats and s04's PQ codes: each vector is
    * symmetric-max-abs quantized to 8-bit integers (4× smaller than
    * float32 — at 100 TB the quantized corpus scan is the win, and the
    * codes ride in the same parquet layout), candidates are ranked by
    * QUANTIZED cosine, and the top-[[SqCand]] shortlist gets the exact
    * re-rank. Quantized cosine is scale-free (the per-vector scales
    * cancel), so no scale column travels with the scan.
    *
    * Exactness: the quantized values are small integers held in
    * doubles — every dot product is an EXACT sequential fold (no ulp
    * anywhere until the final normalization divide, identical operands
    * both engines) — so unlike s03/s04's MLlib-fit quantizers the
    * whole pipeline is DuckDB-replayable and hash-verified; the
    * recall floor vs s01 is additionally pinned in DedupQualitySpec.
    *
    * Scale shape: s01's regime — ONE quantized-corpus scan against the
    * broadcast query set, one rank window per stage on query-bounded
    * frames; composes behind s02's buckets at full scale exactly as
    * the exact path does.
    */
  def s11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quant = T(s, dir, "embeddings")
      .withColumn("e", $"embedding".cast("array<double>"))
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("qv", expr(
        """transform(e, x -> CASE WHEN scale = 0.0D THEN 0.0D
          | ELSE CAST(round(127.0D * x / scale) AS DOUBLE) END)""".stripMargin))
    val queries = quant.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"qv".as("qqv"), $"e".as("qe"))
    val wA = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"vec_id".asc)
    val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    quant.crossJoin(broadcast(queries))
      .withColumn("qcos", cosine("qv", "qqv"))
      .withColumn("arn", row_number().over(wA))
      .filter($"arn" <= SqCand)
      .withColumn("cos", cosine("e", "qe"))
      .withColumn("rn", row_number().over(wE))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", expr("round(qcos, 6)").as("qcos"),
        expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** s14: the COMPOSED production serving path — s10's multiprobe LSH
    * candidate generation (bucket equi-join at Hamming ≤ 2), s11's
    * int8-quantized cosine ranking down to a [[SqCand]]-row shortlist,
    * then the exact re-rank to top-[[K]]. s02/s10/s11 each grade one
    * stage in isolation; this is the pipeline a real vector store
    * actually serves (probe the index, score cheap codes, re-rank the
    * shortlist exact), registered so its recall carries a MEASURED,
    * oracle-verified number (DedupQualitySpec pins the floor vs s01
    * on the same eval frame).
    *
    * Scale shape: the union of its stages' shapes and nothing more —
    * the corpus is scanned once (bucket + quantized codes are per-row
    * codegen), candidates come from the constant-fan-out bucket
    * equi-join against the broadcast exploded query set, and both
    * rank windows run on query-bounded frames. The expensive exact
    * dot product touches only [[SqCand]] rows per query.
    *
    * Exactness: quantized codes are small integers in doubles (exact
    * folds), buckets are sign bits of the same literal hyperplanes the
    * DuckDB oracle re-derives — the whole chain is hash-verified like
    * its parts.
    */
  def s14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    val quant = T(s, dir, "embeddings")
      .withColumn("e", $"embedding".cast("array<double>"))
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("qv", expr(
        """transform(e, x -> CASE WHEN scale = 0.0D THEN 0.0D
          | ELSE CAST(round(127.0D * x / scale) AS DOUBLE) END)""".stripMargin))
      .withColumn("bucket", bucketCol("embedding", np))
      .select($"vec_id", $"e", $"qv", $"bucket")
    val probes = probeMasks(np, 2)
    val queries = quant.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"qv".as("qqv"), $"e".as("qe"),
        $"bucket".as("q_bucket"))
      .withColumn("probe", explode(typedLit(probes)))
      .withColumn("bucket", expr("q_bucket ^ probe"))
      .select($"q_id", $"qqv", $"qe", $"bucket")
    val wA = Window.partitionBy($"q_id").orderBy($"qcos".desc, $"vec_id".asc)
    val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    quant.join(broadcast(queries), "bucket")
      .withColumn("qcos", cosine("qv", "qqv"))
      .withColumn("arn", row_number().over(wA))
      .filter($"arn" <= SqCand)
      .withColumn("cos", cosine("e", "qe"))
      .withColumn("rn", row_number().over(wE))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", expr("round(qcos, 6)").as("qcos"),
        expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** Shared LSH top-k engine for s02/s10: corpus bucketed once, query
    * set exploded into all probe masks of Hamming weight ≤ maxHamming
    * (plan literals), candidates via bucket EQUI-join, exact re-rank.
    * Distinct masks hit distinct buckets, so each (query, candidate)
    * pair joins at most once.
    */
  private def lshTopK(s: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    lshCand(s, dir, maxHamming, nPlanesOf(s, dir))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", $"bucket", expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** The candidate stage under lshTopK (pre-top-k): bucketed corpus
    * equi-joined to the multiprobe-exploded broadcast query set, raw
    * cosine attached. s16 reads it directly to count candidate cost.
    */
  private def lshCand(s: SparkSession, dir: String, maxHamming: Int,
      np: Int): DataFrame = {
    import s.implicits._
    val emb = T(s, dir, "embeddings")
    val corpus = emb.select($"vec_id", $"embedding", bucketCol("embedding", np).as("bucket"))
    val probes = probeMasks(np, maxHamming)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
        bucketCol("embedding", np).as("q_bucket"))
      .withColumn("probe", explode(typedLit(probes)))
      .withColumn("bucket", expr("q_bucket ^ probe"))
      .select($"q_id", $"q_emb", $"bucket")
    corpus.join(broadcast(queries), "bucket")
      .withColumn("cos", cosine("embedding", "q_emb"))
  }

  /** s03 (rows-only): IVF approximate NN — MLlib KMeans (fixed seed,
    * trained on a [[fitSample]]-bounded sample) coarse-quantizes the
    * corpus ONCE into nlist=16 cells; each query probes its 2 nearest
    * cells and re-ranks candidates by exact cosine. At 100 TB the fit
    * touches ~64k rows regardless of corpus size, the assignment is a
    * one-pass map (centroids broadcast), and the index is just a
    * cluster column (partition/cluster by it and probes touch 2/16th
    * of the corpus).
    */
  def s03(s: SparkSession, dir: String): DataFrame =
    s03Scan(s, dir, s03Fit(s, dir))

  /** s03's coarse-quantizer FIT alone (bounded-sample KMeans — constant
    * cost at any corpus size); split from the scan so the bench prices
    * the two phases separately (round-8 verdict ask #6).
    */
  def s03Fit(s: SparkSession, dir: String): org.apache.spark.ml.clustering.KMeansModel = {
    import s.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = T(s, dir, "embeddings")
      .withColumn("fv", array_to_vector($"embedding".cast("array<double>")))
    new KMeans().setK(16).setSeed(42L)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(fitSample(emb))
  }

  /** s03's query path with a PREFIT quantizer — the part that scales:
    * broadcast-centroid assignment, 2-cell probe, exact re-rank.
    */
  def s03Scan(s: SparkSession, dir: String,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.functions.array_to_vector
    val nProbe = 2
    val emb = T(s, dir, "embeddings")
      .withColumn("fv", array_to_vector($"embedding".cast("array<double>")))
    // squared norms hoisted per side (s01's fix): the probe touches
    // nProbe/k of the corpus — still corpus-scale — so one dot per
    // candidate row instead of three; cosines bit-identical
    val corpus = model.transform(emb).select($"vec_id", $"embedding",
      sqNorm("embedding").as("n2"), $"cell")
    val centers = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("c_cell", "c_vec")
    // top-nProbe cells per query by exact euclidean distance to centroid
    val qCells = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .crossJoin(broadcast(centers))
      .withColumn("dist", expr(
        "aggregate(zip_with(q_emb, c_vec, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0.0e0, (acc, v) -> acc + v)"))
      .withColumn("cr", row_number().over(
        Window.partitionBy($"q_id").orderBy($"dist".asc, $"c_cell".asc)))
      .filter($"cr" <= nProbe)
      .select($"q_id", $"q_emb",
        sqNorm("q_emb").as("qn2"), $"c_cell".as("cell"))
    val cand = corpus.join(broadcast(qCells), "cell")
      .withColumn("cos", cosine("embedding", "q_emb", "n2", "qn2"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    cand
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", $"cell", expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** s04 (rows-only): PRODUCT-QUANTIZATION ANN (IVF-less ADC scan) —
    * the memory-bounded scale path: 64 float dims (256 B/vector)
    * compress to M=8 subspace codes (8 B/vector, 32×), so a 100 TB
    * embedding corpus's codes fit in cluster RAM and the scan is
    * memory-bandwidth-, not FLOP-, bound. Each subspace gets a k=16
    * codebook (MLlib KMeans, fixed seed, trained on ONE shared
    * [[fitSample]]-bounded sample — like s03's quantizer); corpus rows
    * are assigned codes in
    * one map pass (centroids broadcast by the model). Queries
    * precompute an M×16 distance table (Asymmetric Distance
    * Computation: exact query-subvector → centroid distances), the
    * corpus scan approximates distance as M table lookups per row —
    * codegen map-side work, no shuffle — and the top 3K ADC candidates
    * re-rank by exact cosine for the final top-K (the standard
    * PQ-then-rerank recipe; recall vs exact s01 asserted in
    * DedupQualitySpec).
    */
  def s04(s: SparkSession, dir: String): DataFrame =
    s04Scan(s, dir, s04Fit(s, dir))

  private val M = 8                // PQ subspaces
  private def subDim = Dims / M    // 8 dims each

  /** One vector column per PQ subspace (shared by fit and scan). */
  private def withSubVectors(emb: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    (0 until M).foldLeft(emb) { (df, m) =>
      df.withColumn(s"sv_$m", array_to_vector(
        expr(s"slice(CAST(embedding AS ARRAY<DOUBLE>), ${m * subDim + 1}, $subDim)")))
    }
  }

  /** s04's M codebook FITS alone (one shared bounded sample — constant
    * cost at any corpus size, and ~all of the composite's toy-SF wall
    * time); split from the scan so the bench prices the phases
    * separately (round-8 verdict ask #6).
    */
  def s04Fit(s: SparkSession, dir: String): Seq[org.apache.spark.ml.clustering.KMeansModel] = {
    import org.apache.spark.ml.clustering.KMeans
    // ONE bounded sample feeds all M codebook fits (cache it: M
    // sequential MLlib fits would otherwise re-read + re-slice the
    // corpus M times)
    val fitDf = fitSample(withSubVectors(T(s, dir, "embeddings"))).cache()
    try {
      // materialize the shared sample ONCE before fanning out, so the
      // concurrent fits don't race to build the same cache blocks
      fitDf.count()
      // The M fits are INDEPENDENT jobs over the same bounded sample;
      // each MLlib fit is a chain of tiny driver-synced stages, so run
      // sequentially the driver sync gaps dominate (measured 8.0 s for
      // 8 fits at sf0.1). A small thread pool overlaps them — each
      // fit's gaps back-fill with another fit's tasks (optimization
      // guide §2.6) — and determinism is untouched: same seed, same
      // cached sample, same per-fit task structure ⇒ the identical
      // models the sequential loop produced.
      // DAEMON threads + a bounded wait: a hung fit must not pin the
      // JVM alive (non-daemon pool) or block the caller forever
      // (Duration.Inf). On any fit failure the in-flight siblings are
      // cancelled through their job group — pool.shutdownNow() alone
      // would leave their Spark jobs running under a soon-unpersisted
      // cache.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(M,
        (r: Runnable) => { val t = new Thread(r, "s04-fit")
          t.setDaemon(true); t })
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val group = "graft-s04-fit"
      try {
        val fits = (0 until M).map { m =>
          scala.concurrent.Future {
            // job groups are thread-local: set inside each fit thread
            s.sparkContext.setJobGroup(group, "s04 codebook fit",
              interruptOnCancel = true)
            try new KMeans().setK(16).setSeed(42L + m)
              .setFeaturesCol(s"sv_$m").setPredictionCol(s"code_$m")
              .fit(fitDf)
            finally s.sparkContext.clearJobGroup()
          }
        }
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fits),
          scala.concurrent.duration.Duration(1, "hour"))
        catch { case e: Throwable =>
          s.sparkContext.cancelJobGroup(group)
          pool.shutdownNow()
          throw e
        }
      } finally {
        pool.shutdown()
        // don't unpersist fitDf under still-running fit jobs (they
        // would silently fall back to recomputing the sample): a fit
        // still running after the wait has its jobs cancelled first
        if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)) {
          s.sparkContext.cancelJobGroup(group)
          pool.shutdownNow()
        }
      }
    } finally fitDf.unpersist(blocking = false)
  }

  /** s04's code-assignment + ADC scan + exact re-rank with PREFIT
    * codebooks — the memory-bandwidth-bound part that scales with the
    * corpus.
    */
  def s04Scan(s: SparkSession, dir: String,
      models: Seq[org.apache.spark.ml.clustering.KMeansModel]): DataFrame = {
    import s.implicits._
    val nCand = 3 * K              // ADC candidates re-ranked exactly
    val emb = T(s, dir, "embeddings")
    val withSubs = withSubVectors(emb)
    val coded = models.zipWithIndex
      .foldLeft(withSubs) { case (df, (mdl, _)) => mdl.transform(df) }
      .select($"vec_id", $"embedding",
        array((0 until M).map(m => col(s"code_$m")): _*).as("codes"))
    // per-query ADC tables: exact squared distance from each query
    // subvector to the 16 centroids of that subspace (centroid arrays
    // are driver-side model state folded in as literals — bytes, not a
    // dataset collect)
    val tabCols = (0 until M).map { m =>
      val centers = models(m).clusterCenters.map(_.toArray.toSeq).toSeq
      val qSub = expr(s"slice(CAST(q_emb AS ARRAY<DOUBLE>), ${m * subDim + 1}, $subDim)")
      transform(typedLit(centers), c =>
        aggregate(zip_with(qSub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v))
        .as(s"tab_$m")
    }
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
      .select($"q_id" +: $"q_emb" +: tabCols: _*)
    // ADC scan: M table lookups per corpus row, top-nCand per query
    val adc = coded.crossJoin(broadcast(queries))
      .withColumn("approx_dist",
        (0 until M).map(m => element_at(col(s"tab_$m"),
          element_at($"codes", m + 1) + 1)).reduce(_ + _))
    val wA = Window.partitionBy($"q_id").orderBy($"approx_dist".asc, $"vec_id".asc)
    adc
      .withColumn("ar", row_number().over(wA))
      .filter($"ar" <= nCand)
      .withColumn("cos", cosine("embedding", "q_emb"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"rn" <= K)
      .select($"q_id", $"vec_id", expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"q_id", $"rn")
  }

  /** s05 similarity floor — sized to the synthetic embeddings'
    * near-orthogonal cosine distribution (max non-self cosine ≈ 0.40
    * at sf0.01): low enough for a non-trivial result set, high enough
    * that the output stays a small fraction of the scan.
    */
  private val RangeTau = 0.25

  /** s05: cosine RANGE search — every corpus vector within a
    * similarity floor of each query (the radius-query twin of s01's
    * top-k; retrieval/dedup pipelines want both shapes). Even lighter
    * than s01 at scale: broadcast query set, one corpus scan, and NO
    * shuffle at all — the threshold filter is map-side, there is no
    * window. The s02 buckets compose in front at full scale exactly as
    * they do for top-k.
    */
  def s05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // squared norms hoisted per side (s01's fix) — one dot per scored
    // row on the full corpus scan, cosines bit-identical
    val emb = T(s, dir, "embeddings")
      .withColumn("n2", sqNorm("embedding"))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"n2".as("qn2"))
    emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("cos", cosine("embedding", "q_emb", "n2", "qn2"))
      .filter($"cos" >= RangeTau)
      .select($"q_id", $"vec_id", expr("round(cos, 6)").as("cos"))
      .orderBy($"q_id", $"vec_id")
  }

  /** All [[MaxPlanes]] hyperplanes as DuckDB VALUES rows — the oracle
    * carries the FULL literal table at every scale; [[bucketCtesSql]]'s
    * np CTE prunes it to the auto-sized count.
    */
  private[operators] def planeRowsSql: String = (0 until MaxPlanes).map { j =>
    val arr = plane(j, Dims).mkString(", ")
    s"($j, [$arr]::DOUBLE[])"
  }.mkString(",\n ")

  /** The plane/np/pp/b CTE chain shared by every LSH oracle: `np`
    * re-derives the auto-sized plane count from count(*) by the SAME
    * exact integer rule as [[nPlanesFor]] (smallest j with
    * N <= occupancy·2^j — no floating log2 anywhere, so the engines
    * cannot disagree on an ulp); `pp` prunes the [[MaxPlanes]] literal
    * planes down to the first np; `b` derives each vector's sign
    * bucket. `src` is an earlier CTE holding (vec_id, `vcol`
    * DOUBLE[]). Emitted WITHOUT a leading WITH so callers splice it
    * into their own chain.
    */
  private[operators] def bucketCtesSql(src: String = "e", vcol: String = "v",
      countSql: String = "SELECT count(*) FROM embeddings"): String =
    s"""p(j, pv) AS (VALUES
       | $planeRowsSql),
       |np AS (SELECT coalesce(min(j), $MaxPlanes) AS n
       |  FROM range($MinPlanes, ${MaxPlanes + 1}) t(j)
       |  WHERE ($countSql) <= $TargetOccupancy * (CAST(1 AS BIGINT) << j)),
       |pp AS (SELECT p.j, p.pv FROM p, np WHERE p.j < np.n),
       |b AS (SELECT $src.vec_id,
       |  CAST(SUM(CASE WHEN list_inner_product($src.$vcol, pp.pv) > 0 THEN (1 << pp.j) ELSE 0 END) AS INTEGER) AS bucket
       |  FROM $src, pp GROUP BY $src.vec_id)""".stripMargin

  /** s01's oracle pipeline as a named val (above the map per the
    * init-order rule) so s09's recall eval can nest it verbatim.
    */
  private val S01Sql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
       |  FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |scored AS (SELECT q_id, vec_id,
       |  list_inner_product(e, qe) / sqrt(list_inner_product(e, e) * list_inner_product(qe, qe)) AS cos
       |  FROM c, q),
       |ranked AS (SELECT q_id, vec_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT q_id, vec_id, round(cos, 6) AS cos, rn
       |FROM ranked WHERE rn <= $K ORDER BY q_id, rn""".stripMargin

  /** s02's oracle pipeline (the engine's hyperplanes as SQL literals —
    * d05's technique: DuckDB re-derives the identical sign buckets, so
    * the bucketed candidate rule is hash-verified, not just the
    * re-rank), shared verbatim with s09's recall eval.
    */
  private def lshSql(maxHamming: Int): String = {
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${bucketCtesSql()},
       |q AS (SELECT vec_id AS q_id, bucket AS q_bucket FROM b WHERE vec_id < 5),
       |cand AS (SELECT q.q_id, c.vec_id, c.bucket,
       |  list_inner_product(ec.v, eq.v) /
       |    sqrt(list_inner_product(ec.v, ec.v) * list_inner_product(eq.v, eq.v)) AS cos
       |  FROM q JOIN b c ON bit_count(xor(q.q_bucket, c.bucket)) <= $maxHamming
       |  JOIN e ec ON ec.vec_id = c.vec_id
       |  JOIN e eq ON eq.vec_id = q.q_id),
       |ranked AS (SELECT q_id, vec_id, bucket, cos,
       |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT q_id, vec_id, bucket, round(cos, 6) AS cos, rn
       |FROM ranked WHERE rn <= $K ORDER BY q_id, rn""".stripMargin
  }

  private val S02Sql: String = lshSql(1)

  /** s16's oracle: the lshSql bucket derivation crossed with the swept
    * radii, candidate counts + top-k hits vs the nested s01 pipeline.
    */
  private def probeSweepSql: String = {
    val hRows = ProbeSweepH.map(h => s"($h)").mkString(", ")
    // n_probes per radius = the binomial sum |probeMasks| computed
    // from the SAME dynamic np (integer // division is exact: each
    // partial product is a binomial coefficient)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${bucketCtesSql()},
       |q AS (SELECT vec_id AS q_id, bucket AS q_bucket FROM b WHERE vec_id < 5),
       |ex AS ($S01Sql),
       |h(hmax) AS (VALUES $hRows),
       |hp AS (SELECT h.hmax, 1
       |  + (CASE WHEN h.hmax >= 1 THEN np.n ELSE 0 END)
       |  + (CASE WHEN h.hmax >= 2 THEN np.n * (np.n - 1) // 2 ELSE 0 END)
       |  + (CASE WHEN h.hmax >= 3 THEN np.n * (np.n - 1) * (np.n - 2) // 6 ELSE 0 END)
       |  AS nprobes FROM h, np),
       |cand AS (SELECT hp.hmax, hp.nprobes, q.q_id, c.vec_id,
       |  list_inner_product(ec.v, eq.v) /
       |    sqrt(list_inner_product(ec.v, ec.v) * list_inner_product(eq.v, eq.v)) AS cos
       |  FROM hp CROSS JOIN q
       |  JOIN b c ON bit_count(xor(q.q_bucket, c.bucket)) <= hp.hmax
       |  JOIN e ec ON ec.vec_id = c.vec_id
       |  JOIN e eq ON eq.vec_id = q.q_id),
       |nc AS (SELECT hmax, nprobes, count(*) AS n_candidates
       |  FROM cand GROUP BY hmax, nprobes),
       |rk AS (SELECT hmax, q_id, vec_id,
       |  ROW_NUMBER() OVER (PARTITION BY hmax, q_id ORDER BY cos DESC, vec_id) AS rn
       |  FROM cand),
       |ht AS (SELECT rk.hmax, count(*) AS n_hit FROM rk
       |  JOIN ex ON ex.q_id = rk.q_id AND ex.vec_id = rk.vec_id
       |  WHERE rk.rn <= $K GROUP BY rk.hmax),
       |nx AS (SELECT count(*) AS n_exact FROM ex)
       |SELECT CAST(hmax AS INTEGER) AS max_hamming,
       | CAST(nprobes AS INTEGER) AS n_probes, n_candidates,
       | CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit, n_exact,
       | CAST(coalesce(n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
       |FROM nc LEFT JOIN ht USING (hmax) CROSS JOIN nx
       |ORDER BY max_hamming""".stripMargin
  }

  /** s13: LSH INDEX HEALTH — the occupancy profile of s02/s10's bucket
    * index in one row: bucket count, fill rate of the 2^NPlanes
    * key space, min/max/p50/p90 occupancy, and skew (max/mean). This
    * is the operational pre-flight for every banded join in the
    * engine: a skewed index means one bucket's candidate join does all
    * the work (the d03/m10 cap exists precisely for that tail), and a
    * near-empty fill means the planes are misaligned with the data
    * (recall collapses — s09 would measure it AFTER the damage). Run
    * it before committing a multi-hour candidate join at scale.
    *
    * Scale shape: ONE scan computing the codegen'd sign bucket,
    * map-side combine into ≤2^NPlanes keys (a CONSTANT), then a
    * single-row rollup — the whole profile costs one pass regardless
    * of corpus size; exact percentiles are over the constant-sized
    * occupancy frame, never the corpus.
    */
  def s13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    val occ = T(s, dir, "embeddings")
      .select(bucketCol("embedding", np).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
    occ.agg(
        count(lit(1)).as("n_buckets"),
        sum($"n").as("n_vectors"),
        min($"n").as("min_occupancy"),
        max($"n").as("max_occupancy"),
        expr("percentile(n, array(0.5e0, 0.9e0))").as("ps"))
      .select($"n_buckets", $"n_vectors", $"min_occupancy",
        $"max_occupancy",
        expr("round(ps[0], 6)").as("p50_occupancy"),
        expr("round(ps[1], 6)").as("p90_occupancy"),
        expr(s"round(CAST(n_buckets AS DOUBLE) / CAST(${1L << np} AS DOUBLE), 6)")
          .as("fill_rate"),
        expr("round(CAST(max_occupancy AS DOUBLE) * CAST(n_buckets AS DOUBLE) / CAST(n_vectors AS DOUBLE), 6)")
          .as("skew"))
  }

  /** s15: INDEX UPSERT AUDIT — the maintenance view of s02's LSH
    * index: the standing corpus (even vec_ids) is the built index, the
    * arriving batch (odd vec_ids) is the upsert; per bucket, the
    * before/after occupancy, the delta fraction, and a `needs_split`
    * flag (post-upsert occupancy above 2× the uniform expectation —
    * the bucket an operator re-planes or sub-buckets before its next
    * candidate join goes quadratic). s13 profiles a STATIC index;
    * s15 answers the incremental question — does TODAY'S batch keep
    * the index balanced, and which buckets must be split before
    * tomorrow's — without touching the standing side's vectors.
    *
    * Scale shape: one scan computing the codegen sign bucket per side,
    * map-side combine into ≤2^NPlanes constant keys, and a
    * single-row total broadcast into the flag (d03's count shape) —
    * cost is one pass over the batch plus one over the index keys
    * regardless of corpus size; the flag threshold is an integer
    * cross-multiplication, never a float quotient.
    */
  def s15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    val b = T(s, dir, "embeddings")
      .select($"vec_id", bucketCol("embedding", np).as("bucket"))
    val sides = b.groupBy($"bucket")
      .agg(count(when($"vec_id" % 2 === 0, 1)).as("n_base"),
        count(when($"vec_id" % 2 === 1, 1)).as("n_delta"))
    val total = b.select(count(lit(1)).as("n_total"))
    sides.crossJoin(broadcast(total))
      .select($"bucket", $"n_base", $"n_delta",
        expr("round(CAST(n_delta AS DOUBLE) / CAST(n_base + n_delta AS DOUBLE), 6)")
          .as("delta_frac"),
        when(($"n_base" + $"n_delta") * lit(1L << np) >
          lit(2L) * $"n_total", 1).otherwise(0).as("needs_split"))
      .orderBy($"bucket")
  }

  /** Probe radii swept by s16 — the multiprobe Hamming knob 0..3. */
  final val ProbeSweepH: Seq[Int] = Seq(0, 1, 2, 3)

  /** s16: PROBE SWEEP — the multiprobe tuning curve: for each Hamming
    * radius 0..3, the probe count, the TOTAL candidate pairs scored
    * (the cost axis), and micro-averaged recall@k vs s01's exact
    * top-k (the quality axis). d17 answers "which τ" for dedup; s16
    * answers "how many probes buy recall X" for the serving path —
    * the knob s10/s14 hard-code is chosen FROM this curve, on a query
    * sample, before committing a corpus-scale index build.
    *
    * Scale shape: each radius is s02's one designed shape (bucketed
    * corpus scan × broadcast exploded query set, constant probe
    * fan-out); the sweep unions the four bounded aggregates, so cost
    * is 4 corpus scans on the SAMPLE the audit runs over — never a
    * corpus self-join; recall = raw IEEE quotient of two BIGINT
    * counts.
    */
  def s16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    val exact = s01(s, dir).select($"q_id", $"vec_id")
    val candAll = ProbeSweepH.map { h =>
      lshCand(s, dir, h, np)
        .select($"q_id", $"vec_id", $"cos")
        .withColumn("max_hamming", lit(h))
        .withColumn("n_probes", lit(probesAt(h, np)))
    }.reduce(_ unionByName _)
    val nCand = candAll.groupBy($"max_hamming", $"n_probes")
      .agg(count(lit(1)).as("n_candidates"))
    val w = Window.partitionBy($"max_hamming", $"q_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    val approx = candAll.withColumn("rn", row_number().over(w))
      .filter($"rn" <= K).select($"max_hamming", $"q_id", $"vec_id")
    val hits = approx.join(exact, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"max_hamming").agg(count(lit(1)).as("n_hit"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    nCand.join(hits, Seq("max_hamming"), "left")
      .crossJoin(nExact)
      .select($"max_hamming", $"n_probes", $"n_candidates",
        coalesce($"n_hit", lit(0L)).as("n_hit"), $"n_exact",
        (coalesce($"n_hit", lit(0L)).cast("double") /
          $"n_exact".cast("double")).as("recall"))
      .orderBy($"max_hamming")
  }

  /** s17: LSH GEOMETRY AUDIT — the auto-sizing rule as a first-class,
    * oracle-verified row: corpus count, the derived plane count
    * ([[nPlanesFor]] — ceil(log2(N / [[TargetOccupancy]])) floored at
    * [[MinPlanes]], capped at [[MaxPlanes]]), the resulting cell
    * count, and the OBSERVED occupancy profile under that geometry
    * (occupied buckets, max and mean occupancy). This is the
    * pre-flight a deployment reads before committing an index build:
    * n_planes is what every banded operator (d05/s02/s06/…) will use
    * on this corpus, and mean_occupancy vs target_occupancy shows how
    * far the data's sign-bucket distribution sits from the uniform
    * sizing assumption. The DuckDB oracle re-derives n_planes from
    * count(*) by the same exact integer rule, so the sizing logic
    * itself is hash-verified at every scale — not just asserted in a
    * unit test.
    *
    * Scale shape: s13's one-scan regime — per-row codegen bucket,
    * map-side combine into ≤2^n_planes keys, single-row rollup.
    */
  def s17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    val occ = T(s, dir, "embeddings")
      .select(bucketCol("embedding", np).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n"))
    occ.agg(
        sum($"n").as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max($"n").as("max_occupancy"))
      .select($"n_vectors",
        lit(np).as("n_planes"),
        lit(1L << np).as("n_cells"),
        lit(TargetOccupancy).as("target_occupancy"),
        $"n_buckets", $"max_occupancy",
        expr("round(CAST(n_vectors AS DOUBLE) / CAST(n_buckets AS DOUBLE), 6)")
          .as("mean_occupancy"))
  }

  /** The PERSISTED ANN index with PINNED geometry — the production
    * closure of this round's auto-sizing: [[nPlanesFor]] derives the
    * plane count from the corpus AT BUILD TIME, and from then on the
    * geometry is part of the index's on-disk contract (a
    * `geometry.parquet` row beside the bucket rows). A delta appended
    * with [[merge]] and every [[probe]] bucket under the INDEX's
    * nPlanes — never a fresh count — because a probe bucketed under a
    * different geometry matches nothing (the exact versioning hazard
    * auto-sizing introduces, and the same discipline
    * [[Dedup.MinhashIndex]] applies to its band layout).
    * [[needsReplane]] is the rebuild tripwire: once the corpus
    * outgrows 2× the geometry's design occupancy, candidate cost has
    * doubled and the owner should rebuild at the new auto size (the
    * vector-side analogue of s15's needs_split, corpus-wide).
    *
    * Scale shape: build is one scan (codegen buckets) + one
    * metadata-cheap count; write/load move bucket rows as parquet
    * (embedding travels WITH its bucket row, so a probe needs no join
    * back to the corpus); probe is s02's banded equi-join with the
    * query side exploded into its constant probe fan-out, top-k per
    * query via one window. VecIndexSpec pins load-probe parity,
    * geometry pinning across merge, and the replane tripwire.
    */
  final case class VecIndex(buckets: DataFrame, nPlanes: Int) {
    def write(path: String): Unit = {
      val s = buckets.sparkSession
      import s.implicits._
      buckets.write.mode("overwrite").parquet(s"$path/buckets.parquet")
      Seq((nPlanes, TargetOccupancy)).toDF("n_planes", "target_occupancy")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/geometry.parquet")
    }

    /** Production append: delta rows bucketed under the INDEX's
      * pinned geometry — never re-sized, so old and new rows share
      * one key space.
      */
    def merge(delta: DataFrame): VecIndex = {
      VecIndex(buckets.unionByName(delta.select(col("vec_id"),
        col("embedding"), bucketCol("embedding", nPlanes).as("bucket"))),
        nPlanes)
    }

    /** True once the corpus is past 2× the geometry's design load
      * (mean occupancy > 2×[[TargetOccupancy]]) — rebuild at the new
      * auto size before the next corpus-scale candidate join.
      */
    def needsReplane: Boolean =
      buckets.count() > 2L * TargetOccupancy * (1L << nPlanes)

    /** Top-k cosine neighbors from the index for each query row
      * ((vec_id, embedding) frame), probing all buckets within
      * `maxHamming` of the query's — the query side carries the
      * constant fan-out; the index never re-shuffles per probe call
      * beyond the one bucket-keyed join.
      */
    def probe(queries: DataFrame, maxHamming: Int = 1, k: Int = K): DataFrame = {
      val s = buckets.sparkSession
      import s.implicits._
      val probes = probeMasks(nPlanes, maxHamming)
      val q = queries
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          bucketCol("embedding", nPlanes).as("q_bucket"))
        .withColumn("probe", explode(typedLit(probes)))
        .withColumn("bucket", expr("q_bucket ^ probe"))
        .select($"q_id", $"q_emb", $"bucket")
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      buckets.join(q, "bucket")
        .withColumn("cos", cosine("embedding", "q_emb"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= k)
        .select($"q_id", $"vec_id", expr("round(cos, 6)").as("cos"), $"rn")
        .orderBy($"q_id", $"rn")
    }
  }

  object VecIndex {
    /** Builds at the auto-sized geometry for THIS corpus (one count). */
    def build(emb: DataFrame): VecIndex = {
      val np = nPlanesFor(emb.count())
      VecIndex(emb.select(col("vec_id"), col("embedding"),
        bucketCol("embedding", np).as("bucket")), np)
    }

    def load(s: SparkSession, path: String): VecIndex = {
      val g = s.read.parquet(s"$path/geometry.parquet").collect().head
      VecIndex(s.read.parquet(s"$path/buckets.parquet"),
        g.getAs[Int]("n_planes"))
    }
  }

  /** s18: VECTOR INDEX PROBE — the incremental-serving form of s02:
    * the standing corpus (even vec_ids) is a built [[VecIndex]], the
    * arriving batch (odd vec_ids) probes it for top-[[K]] neighbors.
    * This is d20's base-vs-delta contract on the vector side, and the
    * geometry the oracle re-derives is the INDEX side's count (even
    * rows only) — pinning, in the hash-verified gate itself, that
    * probes use the index's geometry rather than their own.
    *
    * Scale shape: one index scan + one batch scan, batch side carries
    * the constant (nPlanes+1) probe fan-out into a bucket equi-join
    * (both sides corpus-scale ⇒ one shuffle each on the bucket key —
    * d02's banded regime, never broadcast, never all-pairs), one
    * query-keyed rank window.
    */
  def s18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = T(s, dir, "embeddings")
    VecIndex.build(emb.filter($"vec_id" % 2 === 0))
      .probe(emb.filter($"vec_id" % 2 === 1).select($"vec_id", $"embedding"))
  }

  val oracle: Map[String, String] = Map(
    "s18_vec_index_probe" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql(countSql =
               "SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0")},
         |bv AS (SELECT b.vec_id, b.bucket, e.v,
         |  list_inner_product(e.v, e.v) AS nv2 FROM b JOIN e USING (vec_id)),
         |idx AS (SELECT * FROM bv WHERE vec_id % 2 = 0),
         |qr AS (SELECT vec_id, v, nv2, unnest(list_prepend(bucket,
         |    list_transform(range(0, np.n),
         |      k -> xor(bucket, CAST(1 << k AS INTEGER))))) AS probe
         |  FROM bv, np WHERE vec_id % 2 = 1),
         |cand AS (SELECT qr.vec_id AS q_id, i.vec_id,
         |  list_inner_product(i.v, qr.v) / sqrt(i.nv2 * qr.nv2) AS cos
         |  FROM qr JOIN idx i ON i.bucket = qr.probe),
         |ranked AS (SELECT q_id, vec_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM cand)
         |SELECT q_id, vec_id, round(cos, 6) AS cos, rn
         |FROM ranked WHERE rn <= $K ORDER BY q_id, rn""".stripMargin,
    "s17_lsh_geometry" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql()},
         |occ AS (SELECT bucket, count(*) AS occ_n FROM b GROUP BY 1)
         |SELECT CAST(sum(occ_n) AS BIGINT) AS n_vectors,
         | CAST(any_value(np.n) AS INTEGER) AS n_planes,
         | CAST((CAST(1 AS BIGINT) << any_value(np.n)) AS BIGINT) AS n_cells,
         | CAST($TargetOccupancy AS BIGINT) AS target_occupancy,
         | count(*) AS n_buckets,
         | max(occ_n) AS max_occupancy,
         | round(CAST(sum(occ_n) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_occupancy
         |FROM occ, np""".stripMargin,
    "s16_probe_sweep" -> probeSweepSql,
    "s15_index_upsert" -> {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql()},
         |sides AS (SELECT bucket,
         |    count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_base,
         |    count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_delta
         |  FROM b GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM b)
         |SELECT bucket, n_base, n_delta,
         |  round(CAST(n_delta AS DOUBLE) / CAST(n_base + n_delta AS DOUBLE), 6) AS delta_frac,
         |  CAST(CASE WHEN (n_base + n_delta) * (CAST(1 AS BIGINT) << np.n) > 2 * n_total THEN 1 ELSE 0 END AS INTEGER) AS needs_split
         |FROM sides, tot, np ORDER BY bucket""".stripMargin
    },
    "s13_lsh_bucket_stats" -> {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql()},
         |occ AS (SELECT bucket, count(*) AS occ_n FROM b GROUP BY 1)
         |SELECT count(*) AS n_buckets,
         | CAST(sum(occ_n) AS BIGINT) AS n_vectors,
         | min(occ_n) AS min_occupancy,
         | max(occ_n) AS max_occupancy,
         | round(quantile_cont(occ_n, 0.5e0), 6) AS p50_occupancy,
         | round(quantile_cont(occ_n, 0.9e0), 6) AS p90_occupancy,
         | round(CAST(count(*) AS DOUBLE) / CAST((CAST(1 AS BIGINT) << any_value(np.n)) AS DOUBLE), 6) AS fill_rate,
         | round(CAST(max(occ_n) AS DOUBLE) * CAST(count(*) AS DOUBLE) / CAST(sum(occ_n) AS DOUBLE), 6) AS skew
         |FROM occ, np""".stripMargin
    },
    "s08_mmr_rerank" -> {
      // the k greedy steps unrolled as chained CTEs (recursive CTEs
      // can't aggregate over the full accumulated pick set); all
      // scoring in the same exact integer micro-cosine units as the
      // engine, so every pick is hash-verified
      val steps = (2 to MmrK).map { n =>
        val prev = (1 until n).map(i => s"SELECT q_id, vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""pre$n AS ($prev),
           |ms$n AS (SELECT c.q_id, c.vec_id, c.rel6, MAX(p.sim6) AS msim6
           |  FROM cand c
           |  JOIN pair p ON p.q_id = c.q_id AND p.a = c.vec_id
           |  JOIN pre$n sp ON sp.q_id = p.q_id AND sp.vec_id = p.b
           |  WHERE NOT EXISTS (SELECT 1 FROM pre$n s2
           |    WHERE s2.q_id = c.q_id AND s2.vec_id = c.vec_id)
           |  GROUP BY c.q_id, c.vec_id, c.rel6),
           |s$n AS (SELECT q_id, $n AS step, vec_id, rel6,
           |    $MmrL10 * rel6 - ${10 - MmrL10} * msim6 AS mmr6
           |  FROM (SELECT q_id, vec_id, rel6, msim6,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY $MmrL10 * rel6 - ${10 - MmrL10} * msim6 DESC, vec_id) AS rn
           |  FROM ms$n) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val unionAll = (1 to MmrK).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
         |sc AS (SELECT q_id, vec_id,
         |  CAST(round(1000000 * list_inner_product(v, qv)
         |    / sqrt(list_inner_product(v, v) * list_inner_product(qv, qv))) AS BIGINT) AS rel6
         |  FROM e, q WHERE vec_id <> q_id),
         |cand AS (SELECT q_id, vec_id, rel6 FROM (SELECT q_id, vec_id, rel6,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel6 DESC, vec_id) AS rn
         |  FROM sc) WHERE rn <= $MmrPoolC),
         |pair AS (SELECT x.q_id, x.vec_id AS a, y.vec_id AS b,
         |  CAST(round(1000000 * list_inner_product(ex.v, ey.v)
         |    / sqrt(list_inner_product(ex.v, ex.v) * list_inner_product(ey.v, ey.v))) AS BIGINT) AS sim6
         |  FROM cand x JOIN cand y ON x.q_id = y.q_id AND x.vec_id <> y.vec_id
         |  JOIN e ex ON ex.vec_id = x.vec_id
         |  JOIN e ey ON ey.vec_id = y.vec_id),
         |s1 AS (SELECT q_id, 1 AS step, vec_id, rel6, $MmrL10 * rel6 AS mmr6
         |  FROM (SELECT q_id, vec_id, rel6,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel6 DESC, vec_id) AS rn
         |  FROM cand) WHERE rn = 1),
         |$steps
         |SELECT q_id, step, vec_id, rel6, mmr6 FROM ($unionAll)
         |ORDER BY q_id, step""".stripMargin
    },
    "s07_diversity_sample" -> {
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql()},
         |m AS (SELECT b.bucket, d.i AS pos,
         |  SUM(CAST(round(ev.v[d.i] * 1000000) AS BIGINT)) AS sx
         |  FROM b JOIN e ev USING (vec_id),
         |       (SELECT unnest(range(1, ${Dims + 1})) AS i) d
         |  GROUP BY b.bucket, d.i),
         |cs AS (SELECT bucket, list(CAST(sx AS DOUBLE) ORDER BY pos) AS cell_sum
         |  FROM m GROUP BY bucket),
         |scored AS (SELECT b.bucket, b.vec_id,
         |  round(list_inner_product(ev.v, cs.cell_sum)
         |    / sqrt(list_inner_product(ev.v, ev.v)
         |         * list_inner_product(cs.cell_sum, cs.cell_sum)), 6) AS cen
         |  FROM b JOIN e ev USING (vec_id) JOIN cs USING (bucket)),
         |ranked AS (SELECT bucket, vec_id, cen,
         |  ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY cen DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT bucket, vec_id, cen, rn
         |FROM ranked WHERE rn <= $DivQuota ORDER BY bucket, rn""".stripMargin
    },
    "s05_range_search" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |scored AS (SELECT q_id, vec_id,
         |  list_inner_product(e, qe) / sqrt(list_inner_product(e, e) * list_inner_product(qe, qe)) AS cos
         |  FROM c, q WHERE vec_id <> q_id)
         |SELECT q_id, vec_id, round(cos, 6) AS cos
         |FROM scored WHERE cos >= $RangeTau ORDER BY q_id, vec_id""".stripMargin,
    "s02_ann_lsh" -> S02Sql,
    "s10_ann_multiprobe" -> lshSql(2),
    "s01_ann_bruteforce_topk" -> S01Sql,
    "s12_filtered_ann" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label AS q_label
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
         |scored AS (SELECT q_id, q_label AS label, vec_id,
         |  list_inner_product(e, qe)
         |    / sqrt(list_inner_product(e, e) * list_inner_product(qe, qe)) AS cos
         |  FROM c JOIN q ON c.label = q.q_label),
         |ranked AS (SELECT q_id, label, vec_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id, label, vec_id, round(cos, 6) AS cos, rn
         |FROM ranked WHERE rn <= $K ORDER BY q_id, rn""".stripMargin,
    "s11_ann_scalar_quant" ->
      // the whole quantize → approx-rank → exact-re-rank chain replayed:
      // quantized codes are small integers in doubles, so every dot is
      // an exact fold and the shortlist boundary cannot drift
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e,
         |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
         |  FROM embeddings),
         |qn AS (SELECT vec_id, e,
         |  list_transform(e, x -> CASE WHEN scale = 0.0 THEN 0.0
         |    ELSE CAST(round(127.0 * x / scale) AS DOUBLE) END) AS qv
         |  FROM e),
         |q AS (SELECT vec_id AS q_id, e AS qe, qv AS qqv FROM qn WHERE vec_id < 5),
         |ap AS (SELECT q_id, qn.vec_id, qn.e, qe,
         |  list_inner_product(qv, qqv)
         |    / sqrt(list_inner_product(qv, qv) * list_inner_product(qqv, qqv)) AS qcos
         |  FROM qn, q),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY qcos DESC, vec_id) AS arn FROM ap),
         |ex AS (SELECT q_id, vec_id, qcos,
         |  list_inner_product(e, qe)
         |    / sqrt(list_inner_product(e, e) * list_inner_product(qe, qe)) AS cos
         |  FROM sl WHERE arn <= $SqCand),
         |r AS (SELECT q_id, vec_id, qcos, cos, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM ex)
         |SELECT q_id, vec_id, round(qcos, 6) AS qcos, round(cos, 6) AS cos, rn
         |FROM r WHERE rn <= $K ORDER BY q_id, rn""".stripMargin,
    "s14_ann_composed" -> {
      // lshSql's bucket replay + s11's quantization chain, composed in
      // the same order the Spark plan runs them
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e,
         |  list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
         |  FROM embeddings),
         |qn AS (SELECT vec_id, e,
         |  list_transform(e, x -> CASE WHEN scale = 0.0 THEN 0.0
         |    ELSE CAST(round(127.0 * x / scale) AS DOUBLE) END) AS qv
         |  FROM e),
         |${bucketCtesSql(src = "qn", vcol = "e")},
         |q AS (SELECT vec_id AS q_id, bucket AS q_bucket FROM b WHERE vec_id < 5),
         |cand AS (SELECT q.q_id, c.vec_id
         |  FROM q JOIN b c ON bit_count(xor(q.q_bucket, c.bucket)) <= 2),
         |ap AS (SELECT cand.q_id, cand.vec_id,
         |  list_inner_product(cq.qv, qq.qv)
         |    / sqrt(list_inner_product(cq.qv, cq.qv) * list_inner_product(qq.qv, qq.qv)) AS qcos,
         |  cq.e AS ce, qq.e AS qe
         |  FROM cand
         |  JOIN qn cq ON cq.vec_id = cand.vec_id
         |  JOIN qn qq ON qq.vec_id = cand.q_id),
         |sl AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY qcos DESC, vec_id) AS arn FROM ap),
         |ex AS (SELECT q_id, vec_id, qcos,
         |  list_inner_product(ce, qe)
         |    / sqrt(list_inner_product(ce, ce) * list_inner_product(qe, qe)) AS cos
         |  FROM sl WHERE arn <= $SqCand),
         |r AS (SELECT q_id, vec_id, qcos, cos, ROW_NUMBER() OVER (
         |  PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM ex)
         |SELECT q_id, vec_id, round(qcos, 6) AS qcos, round(cos, 6) AS cos, rn
         |FROM r WHERE rn <= $K ORDER BY q_id, rn""".stripMargin
    },
    "s09_ann_recall" ->
      // the two retrieval paths' FULL oracle pipelines nested as
      // subquery CTEs, so the recall numbers grade the exact same
      // result sets the s01/s02 gates verify
      s"""WITH ex AS ($S01Sql),
         |ap AS ($S02Sql),
         |pq AS (SELECT q_id, count(*) AS n_exact FROM ex GROUP BY q_id),
         |ht AS (SELECT ex.q_id, count(*) AS n_hit FROM ex
         |  WHERE EXISTS (SELECT 1 FROM ap
         |    WHERE ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id)
         |  GROUP BY ex.q_id)
         |SELECT pq.q_id, CAST(pq.n_exact AS BIGINT) AS n_exact,
         | CAST(coalesce(ht.n_hit, 0) AS BIGINT) AS n_hit,
         | CAST(coalesce(ht.n_hit, 0) AS DOUBLE) / CAST(pq.n_exact AS DOUBLE) AS recall
         |FROM pq LEFT JOIN ht USING (q_id) ORDER BY pq.q_id""".stripMargin,
    "s06_knn_graph" -> {
      // the engine's hyperplanes as SQL literals (s02's technique):
      // DuckDB re-derives the identical sign buckets, so every graph
      // edge — candidate rule included — is hash-verified. Candidates
      // come from the same probe-expansion EQUI-join the engine runs
      // (self bucket + NPlanes one-bit flips) — a bit_count join
      // predicate would be an all-pairs blockwise pass in DuckDB and
      // dies at the 200k-vector probe corpus (see d05's oracle note)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${bucketCtesSql()},
         |bv AS (SELECT b.vec_id, b.bucket, e.v,
         |  list_inner_product(e.v, e.v) AS nv2 FROM b JOIN e USING (vec_id)),
         |pr AS (SELECT vec_id, v, nv2, unnest(list_prepend(bucket,
         |    list_transform(range(0, np.n),
         |      k -> xor(bucket, CAST(1 << k AS INTEGER))))) AS probe FROM bv, np),
         |cand AS (SELECT pr.vec_id AS src_id, c.vec_id AS nbr_id,
         |  list_inner_product(c.v, pr.v) / sqrt(c.nv2 * pr.nv2) AS cos
         |  FROM pr JOIN bv c
         |    ON c.bucket = pr.probe AND pr.vec_id <> c.vec_id),
         |ranked AS (SELECT src_id, nbr_id, cos,
         |  ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, nbr_id) AS rn
         |  FROM cand)
         |SELECT src_id, nbr_id, round(cos, 6) AS cos, rn
         |FROM ranked WHERE rn <= 5 ORDER BY src_id, rn""".stripMargin
    }
  )

  /** s06: approximate k-NN GRAPH construction — every corpus vector's
    * top-k neighbors (the backbone of graph-based semantic clustering,
    * SemDeDup cell refinement, and diversity-aware sampling). s02's
    * bucket machinery turned corpus-vs-corpus: the BUILD side is the
    * corpus bucketed once; the PROBE side explodes each vector into its
    * own bucket + all Hamming-1 probes, so the candidate join is
    * EQUI-keyed on the bucket id — never an all-pairs pass. Unlike
    * s02's broadcast-query regime, neither side is broadcastable here,
    * so both shuffle ONCE on the bucket key (d02's banded-join regime);
    * per-vector fan-out is a constant NPlanes+1 probe rows, and each
    * candidate pair joins at most once (probe buckets are distinct).
    * Top-k per source = one window shuffle keyed on src_id. Oracle:
    * DuckDB re-derives the buckets from the plane literals, so the
    * graph EDGES are hash-verified end to end, not just spot-checked.
    */
  def s06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = nPlanesOf(s, dir)
    // spread the under-split scan so the bucket/cosine kernels run at
    // cluster parallelism (no-op at scale — see Scale.spread; round-15
    // sf1 probe: the whole corpus-vs-corpus kernel was ONE task)
    val emb = Scale.spread(T(s, dir, "embeddings"), $"vec_id")
    // squared norm hoisted per vector (s01's fix): one dot per
    // candidate pair in the bucket join instead of three — bit-identical
    val corpus = emb.select($"vec_id", $"embedding",
      sqNorm("embedding").as("n2"),
      bucketCol("embedding", np).as("bucket"))
    val probes = (0 to np).map(i => if (i == 0) 0 else 1 << (i - 1))
    val sources = corpus
      .select($"vec_id".as("src_id"), $"embedding".as("src_emb"),
        $"n2".as("src_n2"), $"bucket".as("src_bucket"))
      .withColumn("probe", explode(typedLit(probes)))
      .withColumn("bucket", expr("src_bucket ^ probe"))
      .select($"src_id", $"src_emb", $"src_n2", $"bucket")
    val cand = corpus.join(sources, "bucket")
      .filter($"vec_id" =!= $"src_id")
      .withColumn("cos", cosine("embedding", "src_emb", "n2", "src_n2"))
    val w = Window.partitionBy($"src_id").orderBy($"cos".desc, $"vec_id".asc)
    cand.withColumn("rn", row_number().over(w))
      .filter($"rn" <= KnnK)
      .select($"src_id", $"vec_id".as("nbr_id"),
        expr("round(cos, 6)").as("cos"), $"rn")
      .orderBy($"src_id", $"rn")
  }

  /** s07: DIVERSITY sampling over the embedding space — keep at most
    * [[DivQuota]] vectors per hyperplane sign cell, so the sample
    * covers every occupied region of the space instead of
    * oversampling dense modes (the coverage-first counterpart to
    * d11's SemDeDup pruning; the "semantic stratified sample" step of
    * embedding-aware data curation). Within a cell the keeps are the
    * most CENTRAL vectors: rank by cosine against the cell's mean
    * direction (sum of member vectors — no normalization needed, the
    * cosine is scale-invariant in the second argument), doc-id
    * tie-broken.
    *
    * Scale shape: cells come from the s02 bucket expression (per-row
    * codegen, no fit, no shuffle); the centroid sums run per DIMENSION
    * in exact integer units (round(x·10^6) as LONG — float addition is
    * order-sensitive, so a double sum could disagree with the oracle in
    * the last ulp and flip a rank; integer sums are order-free), with
    * map-side partial agg on the (cell, dim) key; the centroid frame is
    * cell-count-sized (≤ 2^NPlanes × Dims rows → ≤ 2^NPlanes arrays,
    * broadcast back); the corpus then sees ONE rank window keyed on the
    * cell — t07's stratified-sample shape with buckets as strata.
    * Oracle: DuckDB re-derives cells from the plane literals and the
    * centroid by the same integer-unit sums, so the kept set is
    * hash-verified end to end.
    */
  def s07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // squared norms hoisted (s01's fix): the vector's per-row, the
    // cell sum's per-bucket on the broadcast side — one dot per scored
    // row instead of three, centrality bit-identical
    val emb = T(s, dir, "embeddings")
      .select($"vec_id", $"embedding",
        sqNorm("embedding").as("n2"),
        bucketCol("embedding", nPlanesOf(s, dir)).as("bucket"))
    val sums = emb
      .select($"bucket", posexplode($"embedding".cast("array<double>")))
      .groupBy($"bucket", $"pos")
      .agg(sum(expr("CAST(round(col * 1000000) AS BIGINT)")).as("sx"))
      .groupBy($"bucket")
      .agg(transform(array_sort(collect_list(struct($"pos", $"sx"))),
        p => p.getField("sx").cast("double")).as("cell_sum"))
      .withColumn("cs_n2", sqNorm("cell_sum"))
    val w = Window.partitionBy($"bucket").orderBy($"cen".desc, $"vec_id".asc)
    emb.join(broadcast(sums), "bucket")
      .withColumn("cen", round(cosine("embedding", "cell_sum", "n2", "cs_n2"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= DivQuota)
      .select($"bucket", $"vec_id", $"cen", $"rn")
      .orderBy($"bucket", $"rn")
  }

  /** s08: MAXIMAL-MARGINAL-RELEVANCE re-rank (Carbonell & Goldstein,
    * SIGIR'98) — the standard retrieval re-rank that balances relevance
    * against redundancy: greedily keep the candidate maximizing
    * λ·sim(q,d) − (1−λ)·max over kept s of sim(d,s), so the final k are
    * relevant AND mutually diverse (s01 alone returns near-duplicates
    * of the top hit; s07 diversifies with no query — this is the
    * query-anchored middle ground every RAG/retrieval stack ships).
    *
    * Scale shape: the ONLY corpus-scale work is s01's scan — broadcast
    * query set, one window for the top-[[MmrPoolC]] pool. Everything
    * after operates on a (queries × pool)-bounded frame: the pairwise
    * candidate-candidate cosine join is EQUI-keyed on q_id with ≤C²
    * rows per query, and the k-step greedy loop is PLAN-side iteration
    * (a fixed k=[[MmrK]] chain of bounded joins — no collect, no
    * driver data movement; pool and pair frames are lazily cut via
    * [[graft.Lineage.cut]] so each step's double reference re-reads a
    * 36-row cache, not the corpus). Scoring is exact integer
    * micro-cosine arithmetic ([[MmrL10]]·rel6 − (10−λ)·msim6 on
    * round(10⁶·cos) longs), so the greedy argmax is bit-reproducible —
    * the DuckDB oracle replays all k steps as unrolled CTEs and every
    * pick is hash-verified.
    */
  def s08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round(10⁶·a·b / sqrt(an2·bn2)) as a long: the scale multiplies the
    // dot BEFORE the division, as the oracle's CTEs do
    def micro(a: String, b: String, an2: String, bn2: String): Column =
      round(lit(1000000) * vecDot(col(a), col(b)) / sqrt(col(an2) * col(bn2)))
        .cast("bigint")
    // squared norms hoisted per vector (s01's fix): one dot per scored
    // row / candidate pair instead of three — bit-identical micro-cosines
    val emb = T(s, dir, "embeddings")
      .withColumn("n2", sqNorm("embedding"))
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"n2".as("qn2"))
    val wRel = Window.partitionBy($"q_id").orderBy($"rel6".desc, $"vec_id".asc)
    val cand = emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("rel6", micro("embedding", "q_emb", "n2", "qn2"))
      .withColumn("rn", row_number().over(wRel))
      .filter($"rn" <= MmrPoolC)
      .select($"q_id", $"vec_id", $"rel6", $"embedding", $"n2")
      .transform(graft.Lineage.cut)
    val pair = cand.select($"q_id", $"vec_id".as("a"), $"embedding".as("ea"), $"n2".as("na2"))
      .join(cand.select($"q_id", $"vec_id".as("b"), $"embedding".as("eb"), $"n2".as("nb2")), Seq("q_id"))
      .filter($"a" =!= $"b")
      .withColumn("sim6", micro("ea", "eb", "na2", "nb2"))
      .select($"q_id", $"a", $"b", $"sim6")
      .transform(graft.Lineage.cut)
    val first = cand
      .withColumn("rn", row_number().over(wRel)).filter($"rn" === 1)
      .select($"q_id", lit(1).as("step"), $"vec_id", $"rel6",
        ($"rel6" * MmrL10).as("mmr6"))
      .transform(graft.Lineage.cut)
    // Cumulative greedy fold: step n scores every not-yet-picked pool
    // member against ALL picks so far and keeps the argmax.
    var kept = Seq(first)
    for (step <- 2 to MmrK) {
      val all = kept.reduce(_ union _)
      val simToSel = pair
        .join(all.select($"q_id", $"vec_id".as("b")), Seq("q_id", "b"))
        .groupBy($"q_id", $"a").agg(max($"sim6").as("msim6"))
        .withColumnRenamed("a", "vec_id")
      val wPick = Window.partitionBy($"q_id").orderBy($"mmr6".desc, $"vec_id".asc)
      val pick = cand.select($"q_id", $"vec_id", $"rel6")
        .join(all.select($"q_id", $"vec_id"), Seq("q_id", "vec_id"), "left_anti")
        .join(simToSel, Seq("q_id", "vec_id"))
        .withColumn("mmr6", $"rel6" * MmrL10 - $"msim6" * (10 - MmrL10))
        .withColumn("rn", row_number().over(wPick)).filter($"rn" === 1)
        .select($"q_id", lit(step).as("step"), $"vec_id", $"rel6", $"mmr6")
        .transform(graft.Lineage.cut)
      kept = kept :+ pick
    }
    kept.reduce(_ union _).orderBy($"q_id", $"step")
  }

  /** s09: ANN recall EVALUATION — per-query recall@k of the LSH path
    * (s02) against exact brute force (s01), the accuracy gauge every
    * ANN deployment runs before trusting its index parameters (here:
    * NPlanes/probe-width). Composes the two retrieval operators as
    * DataFrames — the eval IS the production paths, not a re-model —
    * and reduces their (queries × k)-bounded outputs with a semi-join
    * + one tiny aggregation; corpus-scale cost is exactly one run of
    * each path. At full scale the exact side runs over a fixed query
    * SAMPLE (recall needs no more), which this shape already is.
    */
  def s09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = s01(s, dir).select($"q_id", $"vec_id")
    val approx = s02(s, dir).select($"q_id", $"vec_id")
    val perQ = exact.groupBy($"q_id").agg(count(lit(1)).as("n_exact"))
    val hits = exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("n_hit"))
    perQ.join(hits, Seq("q_id"), "left")
      .select($"q_id", $"n_exact",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        (coalesce($"n_hit", lit(0L)).cast("double") /
          $"n_exact".cast("double")).as("recall"))
      .orderBy($"q_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_ann_bruteforce_topk" -> (s01 _),
    "s02_ann_lsh" -> (s02 _),
    "s03_ann_ivf" -> (s03 _),
    "s04_ann_pq" -> (s04 _),
    "s05_range_search" -> (s05 _),
    "s06_knn_graph" -> (s06 _),
    "s07_diversity_sample" -> (s07 _),
    "s08_mmr_rerank" -> (s08 _),
    "s09_ann_recall" -> (s09 _),
    "s10_ann_multiprobe" -> (s10 _),
    "s11_ann_scalar_quant" -> (s11 _),
    "s14_ann_composed" -> (s14 _),
    "s12_filtered_ann" -> (s12 _),
    "s13_lsh_bucket_stats" -> (s13 _),
    "s15_index_upsert" -> (s15 _),
    "s16_probe_sweep" -> (s16 _),
    "s17_lsh_geometry" -> (s17 _),
    "s18_vec_index_probe" -> (s18 _)
  )
}
