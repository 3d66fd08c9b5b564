package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The daily-ingest job's contracts: verdicts come from the persisted
  * index alone, the survivor set matches the registered d15/d20
  * semantics, and the versioned index update makes day-2 runs drop
  * day-1 re-sends.
  */
class CurateDeltaSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables(spark, dir, "documents")

  test("delta run's survivors match the registered d15/d20 kept set") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta").toString
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 === 1)
    CurateDelta.buildIndex(base.select($"doc_id", $"text"), s"$tmp/idx")
    val r = CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out",
      minScore = 0.0, maxDup3 = 1.0)
    assert(r.nDelta == delta.count())
    assert(r.nAfterNear <= r.nAfterExact &&
      spark.read.parquet(s"$tmp/out").count() == r.nAfterQuality)
    assert(r.nAfterNear < r.nDelta,
      "fixture has near base dups the probe must cut")
    // survivor set = exactly the ids d15 keeps minus the ids d20
    // drops (quality knobs neutralized above; d20's roster excludes
    // <3-token docs — those carry no signature and pass the near stage)
    val d15Kept = Dedup.queries("d15_delta_dedup")(spark, dir)
      .filter($"verdict" === "kept").select($"doc_id")
    val d20Dropped = Dedup.queries("d20_delta_minhash")(spark, dir)
      .filter($"verdict" =!= "kept").select($"doc_id")
    val expected = d15Kept.join(d20Dropped, Seq("doc_id"), "left_anti")
    val got = spark.read.parquet(s"$tmp/out").select($"doc_id")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "survivor ids diverge from the registered d15/d20 kept set")
  }

  test("cached footprint is bounded: every stage's blocks released by run()") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_mem").toString
    val base = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    CurateDelta.buildIndex(base, s"$tmp/idx", withGrams = true)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CurateDelta.run(docs.filter($"doc_id" % 2 === 1), s"$tmp/idx",
      s"$tmp/out", containment = Some(0.6))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"delta run left persistent RDD(s) resident: ${added.size} " +
        "(every stage cut and persist must be released before returning)")
  }

  test("exact base and within-delta dups drop; novel docs ship") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_inj").toString
    val base = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    CurateDelta.buildIndex(base, s"$tmp/idx")
    // delta = 5 exact copies of base texts (fresh ids) + 5 novel docs
    // + 1 within-delta duplicate of a novel doc
    val copies = base.orderBy($"doc_id").limit(5).collect()
      .zipWithIndex.map { case (row, i) => (3000000L + i, row.getString(1)) }
    val novel = (0 until 5).map(i =>
      (3100000L + i, s"novel doc n$i with entirely fresh tokens x${i}a x${i}b x${i}c"))
    val dupOfNovel = Seq((3200000L, novel.head._2))
    val delta = spark.createDataFrame(copies.toSeq ++ novel ++ dupOfNovel)
      .toDF("doc_id", "text")
    val r = CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out",
      minScore = 0.0, maxDup3 = 1.0, updateIndex = false)
    assert(r.nDelta == 11)
    assert(r.nAfterExact == 5,
      s"5 base copies + 1 within-delta dup must drop, report: $r")
    val ids = spark.read.parquet(s"$tmp/out")
      .collect().map(_.getLong(0)).toSet
    assert(ids == novel.map(_._1).toSet,
      s"exactly the novel docs must ship, got $ids")
  }

  test("containment screen drops docs quoted wholesale inside a base doc") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_cont").toString
    // base: one long container + unique fillers; delta: the container's
    // middle 8 tokens verbatim (contained_in_base — must drop), a doc
    // CONTAINING a whole base doc plus novel suffix (contains_base —
    // must be kept), and a novel doc
    val quoted = (1 to 8).map(i => s"cq$i").mkString(" ")
    val container = s"p1 p2 p3 $quoted " +
      (1 to 20).map(i => s"sfx$i").mkString(" ")
    val small = "sb1 sb2 sb3 sb4 sb5"
    val base = Seq((2L, container), (4L, small)) ++
      (0 until 4).map(i => (6L + 2 * i, (1 to 10).map(j => s"bf${i}x$j").mkString(" ")))
    CurateDelta.buildIndex(base.toDF("doc_id", "text"), s"$tmp/idx",
      withGrams = true)
    val delta = Seq(
      (101L, quoted),
      (103L, s"$small nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8 nv9"),
      (105L, (1 to 12).map(i => s"novel$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out",
      minScore = 0.0, maxDup3 = 1.0, updateIndex = false,
      containment = Some(0.6))
    assert(r.nAfterContainment.contains(2L), s"report: $r")
    val ids = spark.read.parquet(s"$tmp/out").collect().map(_.getLong(0)).toSet
    assert(!ids(101L), "contained_in_base doc must drop")
    assert(ids(103L), "contains_base doc must be kept (flagged, not dropped)")
    assert(ids(105L), "novel doc must ship")
    // flag off: same delta, no containment stage, all three ship
    val r2 = CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out2",
      minScore = 0.0, maxDup3 = 1.0, updateIndex = false)
    assert(r2.nAfterContainment.isEmpty)
    assert(spark.read.parquet(s"$tmp/out2").count() == 3L)
  }

  test("versioned index update makes a day-2 re-send a base dup") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta2").toString
    val base = docs.filter($"doc_id" % 2 === 0)
    val day1 = docs.filter($"doc_id" % 2 === 1)
    CurateDelta.buildIndex(base.select($"doc_id", $"text"), s"$tmp/idx")
    CurateDelta.run(day1, s"$tmp/idx", s"$tmp/out1",
      minScore = 0.0, maxDup3 = 1.0)
    // day 2 re-sends day-1's SHIPPED survivors under fresh ids: every
    // one must now be an exact base dup against the UPDATED index
    val resend = spark.read.parquet(s"$tmp/out1")
      .withColumn("doc_id", $"doc_id" + lit(10000000L))
    val r2 = CurateDelta.run(resend, s"$tmp/out1-index", s"$tmp/out2",
      minScore = 0.0, maxDup3 = 1.0)
    assert(r2.nAfterExact == 0,
      s"re-sent survivors must all be base dups, ${r2.nAfterExact} kept")
    // and the ORIGINAL index is untouched (versioned, not mutated):
    // running the same re-send against it keeps the non-dup docs out
    // of the base-dup class only where day-1 text was already in base
    val keysBefore = spark.read.parquet(s"$tmp/idx/keys.parquet").count()
    val keysAfter = spark.read.parquet(s"$tmp/out1-index/keys.parquet").count()
    assert(keysAfter > keysBefore, "updated index must have grown")
  }

  test("day-2 containment run screens against day-1 survivors (gram carry)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_cont2").toString
    val base = (0 until 4).map(i =>
      (2L + 2 * i, (1 to 10).map(j => s"gb${i}x$j").mkString(" ")))
    CurateDelta.buildIndex(base.toDF("doc_id", "text"), s"$tmp/idx",
      withGrams = true)
    // day 1: a long NOVEL doc (survives every screen)
    val survivorText = (1 to 30).map(i => s"dayone$i").mkString(" ")
    val day1 = Seq((201L, survivorText)).toDF("doc_id", "text")
    val r1 = CurateDelta.run(day1, s"$tmp/idx", s"$tmp/out1",
      minScore = 0.0, maxDup3 = 1.0, containment = Some(0.6))
    assert(r1.nOut == 1L, s"day-1 survivor must ship, report: $r1")
    // the updated index must carry the gram component forward
    assert(new java.io.File(s"$tmp/out1-index/grams.parquet").exists(),
      "updated index dropped the gram component")
    // day 2: a doc quoted wholesale from the DAY-1 SURVIVOR (not from
    // base) + a novel doc — the carry-through is what catches the first
    val quoted = (11 to 18).map(i => s"dayone$i").mkString(" ")
    val day2 = Seq(
      (301L, quoted),
      (303L, (1 to 12).map(i => s"daytwo$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r2 = CurateDelta.run(day2, s"$tmp/out1-index", s"$tmp/out2",
      minScore = 0.0, maxDup3 = 1.0, containment = Some(0.6))
    val ids = spark.read.parquet(s"$tmp/out2").collect().map(_.getLong(0)).toSet
    assert(!ids(301L),
      s"doc contained in a day-1 survivor must drop, report: $r2")
    assert(ids(303L), "novel day-2 doc must ship")
  }

  test("--containment against a gram-less index fails loudly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_nogram").toString
    val base = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
    CurateDelta.buildIndex(base, s"$tmp/idx") // withGrams = false
    val delta = Seq((401L, "a novel doc with several tokens"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out",
        minScore = 0.0, maxDup3 = 1.0, containment = Some(0.6))
    }
    assert(e.getMessage.contains("grams"),
      s"error must name the missing gram component, got: ${e.getMessage}")
  }

  test("a raw re-send of a redacted day-1 survivor is a base dup on day 2") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta_redact").toString
    val base = (0 until 4).map(i =>
      (2L + 2 * i, (1 to 10).map(j => s"rb${i}x$j").mkString(" ")))
    CurateDelta.buildIndex(base.toDF("doc_id", "text"), s"$tmp/idx")
    // day-1 doc carries PII: its SHIPPED text is redacted, so the raw
    // form hashes differently — keys must index both forms
    val raw = "alpha beta contact me at someone@example.com gamma delta " +
      (1 to 10).map(i => s"rr$i").mkString(" ")
    val day1 = Seq((501L, raw)).toDF("doc_id", "text")
    val r1 = CurateDelta.run(day1, s"$tmp/idx", s"$tmp/out1",
      minScore = 0.0, maxDup3 = 1.0)
    assert(r1.nOut == 1L)
    val shippedText = spark.read.parquet(s"$tmp/out1")
      .collect().head.getAs[String]("text")
    assert(shippedText.contains("<EMAIL>"), "survivor must ship redacted")
    // day 2 re-sends the RAW (pre-redaction) text under a fresh id
    val day2 = Seq((601L, raw)).toDF("doc_id", "text")
    val r2 = CurateDelta.run(day2, s"$tmp/out1-index", s"$tmp/out2",
      minScore = 0.0, maxDup3 = 1.0, updateIndex = false)
    assert(r2.nAfterExact == 0,
      s"raw re-send must be an exact base dup (pre-redaction key), report: $r2")
  }

  test("build-index + run never read base text during the run") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("curate_delta3").toString
    CurateDelta.buildIndex(
      docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"text"),
      s"$tmp/idx")
    // in-memory delta: if the run touched base text it would have to
    // read documents.parquet — impossible here by construction
    val rows = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val delta = spark.createDataFrame(rows).toDF("doc_id", "text")
    val r = CurateDelta.run(delta, s"$tmp/idx", s"$tmp/out",
      minScore = 0.0, maxDup3 = 1.0, updateIndex = false)
    assert(r.nOut > 0)
    assert(!new java.io.File(s"$tmp/out-index").exists(),
      "updateIndex=false must not write an index")
  }
}
