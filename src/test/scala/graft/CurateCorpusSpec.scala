package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Text}

/** End-to-end curation job: the [[CurateCorpus]] pipeline's stage
  * contracts verified on the real synthetic corpus, not fixtures.
  */
class CurateCorpusSpec extends SparkSpec {

  /** Jobs of a round-0 driver finish: the checksum aggregate (with its
    * AQE shuffle stage) and the one collect of the cut edge frame.
    */
  private val RoundZeroJobs = 4

  test("curate pipeline: monotone attrition, stage contracts hold on the output") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    // inject known exact duplicates (same text, fresh ids) so the
    // exact stage provably cuts
    val base = docs.filter(col("doc_id") % 50 =!= 0)
    val dupes = base.orderBy("doc_id").limit(5)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val corpus = base.unionByName(dupes)
    val out = Files.createTempDirectory("curate").resolve("out").toString

    val r = CurateCorpus.run(corpus, out, benchmark = Some(bench))
    assert(r.nInput == base.count() + 5)

    assert(r.nInput >= r.nAfterExactDedup)
    assert(r.nAfterExactDedup >= r.nAfterLineDedup)
    assert(r.nAfterLineDedup >= r.nAfterNearDedup)
    assert(r.nAfterNearDedup >= r.nAfterQuality)
    assert(r.nAfterQuality >= r.nAfterDecontam)
    assert(r.nAfterDecontam > 0, "pipeline dropped everything")
    assert(r.nAfterExactDedup < r.nInput, "corpus has exact dupes the stage must cut")

    val survivors = spark.read.parquet(out)
    assert(survivors.count() == r.nAfterDecontam)

    // exact-dedup contract: texts are unique
    assert(survivors.select(md5(col("text"))).distinct().count() == r.nAfterDecontam)
    // near-dup contract, stated over the PIPELINE's own edge set (the
    // pair rule evaluated at the stage it ran — recomputing pairs over
    // the smaller survivor corpus would re-derive the stop-shingle DF
    // cap on different frequencies): no edge between exact-dedup
    // survivors may keep both endpoints
    val exactSurvivors = corpus
      .withColumn("_keep",
        org.apache.spark.sql.functions.min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .filter(col("doc_id") === col("_keep")).drop("_keep")
    // the pair stage ran on the LINE-DEDUPED text — re-derive that
    // frame and the pipeline's OWN pair rule (d02 MinHash, the default)
    val lineDeduped = Text.dedupLines(exactSurvivors)
    val survivorIds = survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val edges = Dedup.minhashPairs(
      lineDeduped.select(col("doc_id"), col("text")), 0.5)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1)))
    assert(edges.nonEmpty, "corpus has no near-dup pairs to cut")
    edges.foreach { case (a, b) =>
      assert(!(survivorIds(a) && survivorIds(b)),
        s"near-dup pair ($a,$b) fully survived")
    }
    // quality contract: the floor holds on every survivor
    assert(Text.qualitySignals(survivors)
      .filter(col("q_score") < 0.25).isEmpty)
    // decontamination contract: no survivor shares a 4-gram with the
    // benchmark set
    assert(Dedup.decontaminate(
      survivors.select(col("doc_id"), split(col("text"), " ").as("toks")),
      bench.select(split(col("text"), " ").as("toks")), 4).isEmpty)
  }

  test("cached footprint is bounded: stage blocks are released as stages retire") {
    // Round-15 pin (r14 verdict ask #1): every stage boundary is a
    // lineage cut whose blocks are EXPLICITLY released once the next
    // stage materializes. After run() the only resident blocks may be
    // the pair engines' internal cut kernel frames (the minhash sig cut
    // + the containment stage's gram cut — bounded, not stage-sized).
    // connectedComponents releases its canonical edge frame when its
    // driver finish labels this corpus's pair graph at round 0 (the
    // star-round loop would leave that frame + its final edge round).
    // Every stage frame (exact, lineD, near, contained, …) and every
    // persist (input, scored, heuristic) must be gone. A regression
    // re-pins all ~6 near-corpus-size stages at once at 100 TB.
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = Files.createTempDirectory("curate_mem").resolve("out").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CurateCorpus.run(docs, out, containment = Some(0.6))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 2,
      s"curation left ${added.size} persistent RDD(s) resident (expected ≤2: " +
        "the sig/gram kernel cuts): stage releases regressed")
  }

  test("near-dup labelling at default config stays within the round-0 driver finish's jobs") {
    import spark.implicits._
    // ~100 edges, the size of a curated corpus's near-dup graph: the
    // first checksum fits the default broadcast threshold, so the whole
    // labelling is that checksum plus one collect. Falling back to the
    // star rounds adds ≥9 jobs per double round plus the label shuffle.
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(100)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .toDF("u", "v")
    val (_, jobs) = countingJobs(Dedup.connectedComponents(spark, edges).collect())
    assert(jobs <= RoundZeroJobs,
      s"$jobs jobs > $RoundZeroJobs: the labelling fell back to the star rounds")
  }

  test("near-dup parity: minhash default and exact opt-in agree on this corpus") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val outM = Files.createTempDirectory("curateM").resolve("out").toString
    val outE = Files.createTempDirectory("curateE").resolve("out").toString
    val rM = CurateCorpus.run(docs, outM) // default nearDup = "minhash"
    val rE = CurateCorpus.run(docs, outE, nearDup = "exact")
    // identical attrition at every stage: the corpus's true near-dups
    // sit far above the 0.5 threshold, where 16x4 LSH band recall is
    // ~certain, so the scale path and the exact path pick the same
    // clusters (per-pair divergence is only expected AT the threshold)
    assert(rM == rE, s"attrition reports diverged: minhash=$rM exact=$rE")
    val idsM = spark.read.parquet(outM).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val idsE = spark.read.parquet(outE).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(idsM == idsE,
      s"survivor sets diverged: only-minhash=${(idsM -- idsE).toSeq.sorted.take(5)} " +
        s"only-exact=${(idsE -- idsM).toSeq.sorted.take(5)}")
  }

  test("dedupLines removes later copies of a shared line, keeps the first doc intact") {
    import spark.implicits._
    val banner = (1 to 10).map(i => s"banner$i").mkString(" ") // one full 10-token line
    val docs = Seq(
      (0L, banner + " " + (1 to 10).map(i => s"alpha$i").mkString(" ")),
      (1L, banner + " " + (1 to 10).map(i => s"beta$i").mkString(" ")),
      (2L, banner)) // nothing but the duplicated line -> drops entirely
      .toDF("doc_id", "text")
    val out = Text.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == banner + " " + (1 to 10).map(i => s"alpha$i").mkString(" "),
      "first occurrence doc must be untouched")
    assert(out(1L) == (1 to 10).map(i => s"beta$i").mkString(" "),
      "later copy of the banner line must be removed")
    assert(!out.contains(2L), "doc reduced to nothing drops out")
  }

  test("qualitySignals stays in lockstep with the oracle-verified t02/t09 queries") {
    // the pipeline filters on qualitySignals' standalone formulas;
    // this ties them to the verified queries so the two definitions
    // cannot drift apart silently
    val dir = "/root/testdata/sf0.001"
    val sig = Text.qualitySignals(Tables(spark, dir, "documents"))
      .select(col("doc_id"), round(col("q_score"), 6).as("s"),
        round(col("q_dup3"), 6).as("d"))
    val t02 = Text.t02(spark, dir).select(col("doc_id"), col("score"))
    val t09 = Text.t09(spark, dir).select(col("doc_id"), col("dup_3gram_frac"))
    val joined = sig.join(t02, "doc_id").join(t09, "doc_id").collect()
    assert(joined.length == 500)
    joined.foreach { r =>
      assert(r.getAs[Double]("s") == r.getAs[Double]("score"),
        s"q_score drifted from t02 for doc ${r.getLong(0)}")
      assert(Option(r.getAs[Double]("d")) == Option(r.getAs[Double]("dup_3gram_frac")),
        s"q_dup3 drifted from t09 for doc ${r.getLong(0)}")
    }
  }

  test("route-code diverts injected code to the code lane, redacted and counted") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val base = Tables(spark, dir, "documents")
    val snippets = (0 until 5).map { i =>
      (2000000L + i,
        s"def job$i(argv): { int x = $i; for (j = 0; j < 9; j++) { x += run(j); } " +
          "return x; } // contact admin@example.com",
        "en", "gh", 0L)
    }
    val corpus = base.unionByName(
      snippets.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = java.nio.file.Files.createTempDirectory("route").resolve("out").toString
    val r = CurateCorpus.run(corpus, out, routeCode = true)
    assert(r.nCodeRouted == 5, s"expected 5 code docs, got ${r.nCodeRouted}")
    val code = spark.read.parquet(s"$out-code").collect()
    assert(code.length == 5)
    assert(code.forall(_.getLong(0) >= 2000000L))
    // the code lane still redacts PII
    assert(code.forall(!_.getString(1).contains("admin@example.com")),
      "code lane must still redact emails")
    // the prose output contains no routed doc
    val prose = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(snippets.forall { case (id, _, _, _, _) => !prose(id) })
    // routing off → report field zero, no code dir semantics change
    val out2 = java.nio.file.Files.createTempDirectory("route").resolve("out2").toString
    val r2 = CurateCorpus.run(base, out2)
    assert(r2.nCodeRouted == 0)
  }
  test("containment stage drops the wholesale-quoted side Jaccard misses") {
    import spark.implicits._
    // contained doc's 8 tokens appear verbatim inside the container,
    // offset by a 3-token prefix so no 10-token line chunk aligns:
    // containment = 1.0, Jaccard ≈ 0.23 — invisible to the near-dup
    // stage at any sane τ, exactly d22's target class
    val quoted = (1 to 8).map(i => s"cq$i").mkString(" ")
    val container = s"pfx1 pfx2 pfx3 $quoted " +
      (1 to 20).map(i => s"sfx$i").mkString(" ")
    val fillers = (0 until 6).map { i =>
      (100L + i, (1 to 12).map(j => s"fill${i}x$j").mkString(" "),
        "en", "srcF", 0L)
    }
    val docs = (Seq((1L, quoted, "en", "srcA", 0L),
      (2L, container, "en", "srcB", 0L)) ++ fillers)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Files.createTempDirectory("curate_contain").resolve("o").toString
    val r = CurateCorpus.run(docs, out,
      minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99,
      containment = Some(0.6))
    assert(r.nAfterContainment.contains(r.nAfterNearDedup - 1),
      s"exactly the contained doc should drop: $r")
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert(!ids(1L), "contained doc survived the containment stage")
    assert(ids(2L), "the container must survive")
    // off by default: same corpus, flag unset → both sides survive
    val out2 = Files.createTempDirectory("curate_contain").resolve("o2").toString
    val r2 = CurateCorpus.run(docs, out2,
      minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99)
    assert(r2.nAfterContainment.isEmpty)
    val ids2 = spark.read.parquet(out2).collect().map(_.getLong(0)).toSet
    assert(ids2(1L) && ids2(2L))
  }

  test("learned-quality gate keeps reference-like docs, cuts the junk class") {
    import spark.implicits._
    // corpus = 6 reference-style docs (shared vocab with the reference,
    // doc-unique orderings so nothing near-dups) + 6 junk docs on a
    // disjoint vocab the reference never uses
    val refVocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    def refDoc(seed: Int) =
      (0 until 10).map(k => refVocab((k * (seed + 2) + seed) % 8)).mkString(" ")
    val refLike = (0 until 6).map(i => (10L + i, refDoc(i), "en", "srcR", 0L))
    val junk = (0 until 6).map { i =>
      (20L + i, (1 to 10).map(j => s"junk${i}q$j").mkString(" "), "en", "srcJ", 0L)
    }
    val corpus = (refLike ++ junk)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val reference = (0 until 12).map(i => (900L + i, refDoc(i + 6)))
      .toDF("doc_id", "text")
    val out = Files.createTempDirectory("curate_nb").resolve("o").toString
    val r = CurateCorpus.run(corpus, out,
      minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99,
      refCorpus = Some(reference))
    assert(r.nAfterLearnedQuality.isDefined)
    assert(r.nAfterLearnedQuality.get < r.nAfterQuality,
      s"the gate should cut the junk class: $r")
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).toSet
    assert((20L until 26L).forall(i => !ids(i)),
      s"junk docs survived the learned gate: $ids")
    assert((10L until 16L).forall(ids),
      s"reference-like docs must survive: $ids")
    // reference docs are training signal only — never pipeline output
    assert(ids.forall(_ < 900L))
  }

  test("audit-leakage writes the d21 artifact over the shipped survivors") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = Files.createTempDirectory("curate_leak").resolve("o").toString
    // τ=0.99 near-dup keeps the corpus's near-dup pairs ALIVE through
    // the pipeline so the audit has something to find
    val r = CurateCorpus.run(docs, out,
      minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99,
      auditLeakage = true)
    val audit = spark.read.parquet(s"$out-leakage")
    assert(audit.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard",
      "split_a", "split_b", "leaks"))
    assert(audit.count() > 0, "survivors should still carry near-dup pairs")
    assert(r.nLeakPairs.contains(
      audit.filter(col("leaks") === 1).count()))
    // audit rows reference only shipped survivors
    val ids = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    audit.select("doc_a", "doc_b").collect().foreach { row =>
      assert(ids(row.getLong(0)) && ids(row.getLong(1)))
    }
  }

  test("trim-boilerplate strips a source-wide banner before line dedup") {
    import spark.implicits._
    val banner = (1 to 10).map(i => s"nav$i").mkString(" ")
    // srcA: every doc opens with the banner; each body CHUNK carries a
    // doc-unique token so only the banner trips the df rule (quality /
    // near-dup knobs are neutralized — this test targets the trim stage)
    def body(i: Int) =
      s"the cat and the dog are in house$i with extra$i words about it"
    val docs = (0 until 10).map { i =>
      (i.toLong, s"$banner ${body(i)}", "en", "srcA", 0L)
    }
    val out = Files.createTempDirectory("curate_trim").resolve("o").toString
    val r = CurateCorpus.run(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars"), out,
      minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99,
      trimBoilerplate = true)
    assert(r.nAfterBoilerTrim.contains(10L), s"report: $r")
    val survivors = spark.read.parquet(out).collect()
    assert(survivors.nonEmpty)
    survivors.foreach { row =>
      val t = row.getAs[String]("text")
      assert(!t.contains("nav1"), s"banner survived: $t")
      assert(t.contains("cat"), s"body lost: $t")
    }
    // control: without the stage the banner survives line dedup in ONE doc
    val out2 = Files.createTempDirectory("curate_trim").resolve("o2").toString
    CurateCorpus.run(docs.toDF("doc_id", "text", "lang", "source", "n_chars"),
      out2, minScore = 0.0, maxDup3 = 1.0, minJaccard = 0.99)
    val kept2 = spark.read.parquet(out2).collect().map(_.getAs[String]("text"))
    assert(kept2.exists(_.contains("nav1")),
      "control run should keep the banner's first occurrence")
  }
}
