package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{bloomAgg, bloomContains}
import graft.operators.Dedup

/** Pins d18's bloom screen: the filter must have ZERO false negatives
  * against the exact base key set (the property that makes the
  * verdicts bloom-independent), a false-positive rate inside its
  * sizing bound, and the operator itself must agree with d15
  * verdict-for-verdict (the screen is an execution strategy, not a
  * semantics change).
  */
class BloomScreenSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docsWithHash = {
    import spark.implicits._
    Tables(spark, dir, "documents").withColumn("h", md5($"text"))
  }

  private def baseBloomBytes: Array[Byte] = {
    import spark.implicits._
    docsWithHash.filter($"doc_id" % 2 === 0).select($"h").distinct()
      .agg(bloomAgg(xxhash64($"h"),
        lit(100000L), lit(800000L)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  test("bloom screen has zero false negatives over the base keys") {
    import spark.implicits._
    val bf = baseBloomBytes
    val misses = docsWithHash.filter($"doc_id" % 2 === 0)
      .filter(!bloomContains(lit(bf), xxhash64($"h")))
      .count()
    assert(misses == 0L, s"$misses base keys missed their own filter")
  }

  test("bloom false-positive rate stays under the sizing bound") {
    import spark.implicits._
    val bf = baseBloomBytes
    // Probe keys CONSTRUCTED to be absent from the base (salted hash of
    // the delta text) — every bloom hit among them is a false positive.
    val probes = docsWithHash.filter($"doc_id" % 2 === 1)
      .select(md5(concat($"text", lit("|graft-fp-probe"))).as("p"))
    val n = probes.count()
    val fp = probes
      .filter(bloomContains(lit(bf), xxhash64($"p")))
      .count()
    // 800k bits for <=100k items is ~8 bits/key -> ~2% theoretical FPP
    // (and far lower at sf0.001's actual key count); 5% is a loose roof
    // that still catches a mis-sized or corrupt filter.
    assert(fp.toDouble / n <= 0.05, s"FP rate ${fp.toDouble / n} (n=$n)")
  }

  test("d18 verdicts match d15 row-for-row (screen is semantics-free)") {
    val d15 = Dedup.queries("d15_delta_dedup")(spark, dir)
    val d18 = Dedup.queries("d18_bloom_delta")(spark, dir)
    assert(d15.schema.fieldNames.toSeq == d18.schema.fieldNames.toSeq)
    assert(d18.exceptAll(d15).isEmpty && d15.exceptAll(d18).isEmpty,
      "d18 and d15 disagree on at least one verdict row")
  }

  test("d19 sharded screen matches d15 and d18 row-for-row") {
    val d15 = Dedup.queries("d15_delta_dedup")(spark, dir)
    val d19 = Dedup.queries("d19_bloom_sharded")(spark, dir)
    assert(d15.schema.fieldNames.toSeq == d19.schema.fieldNames.toSeq)
    assert(d19.exceptAll(d15).isEmpty && d15.exceptAll(d19).isEmpty,
      "d19 and d15 disagree on at least one verdict row")
  }

  test("d19 per-shard filters have zero false negatives over their shard") {
    import spark.implicits._
    val tag = java.util.UUID.randomUUID().toString
    val base = docsWithHash.filter($"doc_id" % 2 === 0).select($"h").distinct()
      .withColumn("shard", pmod(xxhash64($"h"), lit(Dedup.D19Shards)))
    val blooms = base.groupBy($"shard")
      .agg(bloomAgg(xxhash64($"h"),
        lit(100000L / Dedup.D19Shards), lit(800000L / Dedup.D19Shards)).as("bf"))
    // every base key must hit ITS OWN shard's filter
    val misses = base.join(broadcast(blooms), Seq("shard"))
      .filter(!expr(s"bloom_contains_tag(bf, xxhash64(h), shard, '$tag')"))
      .count()
    assert(misses == 0L, s"$misses base keys missed their shard filter")
    // and the filter frame is exactly the shard partition: ≤ nShards
    // bounded rows, no driver-side anything
    assert(blooms.count() <= Dedup.D19Shards)
  }

  test("d19 verdicts are shard-count invariant (cache tags never leak)") {
    // run d19 twice in one JVM/session: fresh plan-unique tags mean the
    // second run can never read the first run's cached filters even
    // though shard ids repeat
    val a = Dedup.queries("d19_bloom_sharded")(spark, dir).collect()
    val b = Dedup.queries("d19_bloom_sharded")(spark, dir).collect()
    assert(a.sameElements(b), "repeated d19 runs diverged — stale bloom cache?")
  }

  test("d19 probe plan broadcasts the filter frame (no shuffle, no BNLJ)") {
    val plan = Dedup.queries("d19_bloom_sharded")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the sharded filter frame must broadcast-join on its shard id")
    assert(!plan.contains("CartesianProduct"), "bloom probe must not cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bloom filter frame leaked into a nested-loop join")
  }

  test("d19 degrades to a shuffle join above the broadcast threshold") {
    // Disable broadcasting entirely: d19's size condition must omit
    // the hint, the filter frame must shuffle-join on shard, and the
    // verdicts must be IDENTICAL — the hint is strategy, not semantics.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      val d15 = Dedup.queries("d15_delta_dedup")(spark, dir)
      spark.conf.set(key, "-1")
      val d19 = Dedup.queries("d19_bloom_sharded")(spark, dir)
      val plan = d19.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        "threshold -1 must force the filter frame off the broadcast path")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"))
      assert(d19.exceptAll(d15).isEmpty && d15.exceptAll(d19).isEmpty,
        "shuffle-joined d19 disagrees with d15 on at least one verdict")
    } finally spark.conf.set(key, prior)
  }

  test("d19 on an empty base verdicts every delta row (no silent drops)") {
    import spark.implicits._
    // All-odd slice: no base keys, so no shard has a filter row. The
    // left join + null-as-miss must still verdict every delta doc
    // (kept / delta_dup), matching d15 and d18 on the same slice.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-d19-emptybase").toString
    Tables(spark, dir, "documents").filter($"doc_id" % 2 === 1)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val nDelta = spark.read.parquet(s"$tmp/documents.parquet").count()
    val d19 = Dedup.queries("d19_bloom_sharded")(spark, tmp)
    assert(d19.count() == nDelta,
      "empty-base d19 dropped delta rows instead of verdicting them")
    assert(d19.filter($"verdict" === "base_dup").count() == 0L)
    val d15 = Dedup.queries("d15_delta_dedup")(spark, tmp)
    assert(d19.exceptAll(d15).isEmpty && d15.exceptAll(d19).isEmpty,
      "empty-base d19 disagrees with d15 on at least one verdict")
  }

  test("d18 probe plan is join-free up to the confirm (no bloom shuffle)") {
    val plan = Dedup.queries("d18_bloom_delta")(spark, dir)
      .queryExecution.executedPlan.toString
    // the serialized filter rides as a LITERAL inside the probe
    // expression — it must never appear as a join (no cartesian, no
    // nested loop); the only joins are the designed equi-joins on h.
    assert(!plan.contains("CartesianProduct"), "bloom probe must not join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bloom filter leaked into a nested-loop join")
  }
}
