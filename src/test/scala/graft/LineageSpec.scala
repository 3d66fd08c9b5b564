package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Pins [[Lineage.cut]]'s contract in both modes: the returned frame's
  * plan is an RDD-scan boundary (the O(rounds) plan growth of the
  * iterative operators is truncated), and the reliable mode actually
  * routes through the configured checkpoint directory.
  */
class LineageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("local mode truncates the plan to an RDD scan") {
    import spark.implicits._
    spark.conf.unset(Lineage.ConfKey)
    val df = Lineage.cut(
      Tables(spark, dir, "documents").groupBy($"source").count())
    assert(planOf(df).contains("LogicalRDD"),
      s"plan not truncated:\n${planOf(df)}")
    assert(df.count() > 0)
  }

  test("reliable mode truncates the plan AND writes the checkpoint dir") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Lineage.ConfKey, ckpt)
    try {
      val df = Lineage.cut(
        Tables(spark, dir, "documents").groupBy($"source").count())
      assert(planOf(df).contains("LogicalRDD"),
        s"plan not truncated:\n${planOf(df)}")
      assert(df.count() > 0) // lazy cut materializes here
      Lineage.release(df) // drop the pre-cut cache this suite pins
      val sc = spark.sparkContext
      assert(sc.getCheckpointDir.exists(_.contains(
        new java.io.File(ckpt).getName)),
        s"checkpoint dir not installed: ${sc.getCheckpointDir}")
      // the reliable artifact is on disk, not just in block-manager RAM
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(new java.io.File(ckpt)).nonEmpty,
        "no checkpoint files written")
    } finally spark.conf.unset(Lineage.ConfKey)
  }

  test("a sibling dir sharing a string prefix is NOT the same root") {
    import spark.implicits._
    // want=/x/ckpt vs installed=/x/ckpt2/<uuid>: a startsWith match
    // would keep checkpointing into ckpt2; the boundary match must
    // re-install ckpt.
    val parent = Files.createTempDirectory("graft_ckpt_prefix").toString
    val sib = new java.io.File(parent, "ckpt2"); sib.mkdirs()
    val want = new java.io.File(parent, "ckpt"); want.mkdirs()
    spark.conf.set(Lineage.ConfKey, sib.toString)
    try {
      val base = Tables(spark, dir, "documents").groupBy($"source").count()
      val c1 = Lineage.cut(base); c1.count(); Lineage.release(c1)
      spark.conf.set(Lineage.ConfKey, want.toString)
      val c2 = Lineage.cut(base); c2.count(); Lineage.release(c2)
      val cur = spark.sparkContext.getCheckpointDir.getOrElse("")
      assert(cur.stripPrefix("file:").startsWith(want.toString),
        s"checkpoint root not re-installed past the prefix sibling: $cur")
    } finally spark.conf.unset(Lineage.ConfKey)
  }

  test("release drops a cut frame's blocks (local mode)") {
    import spark.implicits._
    spark.conf.unset(Lineage.ConfKey)
    val df = Lineage.cut(
      Tables(spark, dir, "documents").groupBy($"source").count())
    assert(df.count() > 0) // materialize the localCheckpoint blocks
    val id = Lineage.backingRdd(df).map(_.id)
      .getOrElse(fail("cut frame has no backing RDD"))
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "cut frame's blocks not registered as persistent")
    // no "locally checkpointed … cannot be recomputed" WARN: nothing
    // reads a released frame again
    val (_, warnings) = capturingWarnings(Lineage.release(df))
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "release did not drop the cut frame's blocks")
    assert(warnings.isEmpty, s"release logged: $warnings")
  }

  test("Lineage.count counts a cut in the job that materializes it, in both modes") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_ckpt_count").toString
    Seq(None, Some(ckpt)).foreach { mode =>
      withConf(Lineage.ConfKey, mode) {
        // a plan unique to each mode, so no earlier persist serves it
        val base = Tables(spark, dir, "documents")
          .filter($"doc_id" % 7 =!= (if (mode.isEmpty) 1 else 2))
          .groupBy($"source").count()
        val cutF = Lineage.cut(base)
        val rdd = Lineage.backingRdd(cutF).get
        val (n, jobs) = countingJobs(Lineage.count(cutF))
        assert(n == base.count(), s"mode $mode")
        assert(rdd.isCheckpointed, s"mode $mode: the count did not materialize the cut")
        // a reliable cut writes its checkpoint in a job of its own
        if (mode.isEmpty) assert(jobs == 1, s"local cut counted in $jobs jobs")
        assert(cutF.count() == n)
        Lineage.release(cutF)
      }
    }
  }

  test("Lineage.count counts a persisted frame in one job that fills its cache") {
    import spark.implicits._
    val base = Tables(spark, dir, "documents").filter($"doc_id" % 5 === 3)
      .select($"doc_id", $"source")
    val cached = base.select($"doc_id", $"source").persist()
    def filled = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    try {
      val before = filled
      val (n, jobs) = countingJobs(Lineage.count(cached))
      assert(n == base.count())
      assert(jobs == 1, s"persisted frame counted in $jobs jobs")
      assert((filled -- before).nonEmpty, "the count did not fill the cache")
    } finally cached.unpersist()
  }

  test("release is a no-op on frames that are not cut frames") {
    import spark.implicits._
    spark.conf.unset(Lineage.ConfKey)
    val cutF = Lineage.cut(
      Tables(spark, dir, "documents").groupBy($"source").count())
    assert(cutF.count() > 0)
    val id = Lineage.backingRdd(cutF).map(_.id).get
    // a DERIVED frame must not release its parent's blocks
    Lineage.release(cutF.filter($"count" > 0))
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "release of a derived frame dropped the parent cut's blocks")
    Lineage.release(cutF)
  }

  test("reliable mode caches the pre-cut frame and release drops it") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_ckpt_rel").toString
    spark.conf.set(Lineage.ConfKey, ckpt)
    try {
      // a plan STRUCTURALLY unique to this test: CacheManager dedups
      // persists by canonicalized plan (aliases normalized away), so
      // reusing the other tests' shape would make this cut's persist a
      // no-op ("already cached") and add no RDD
      val base = Tables(spark, dir, "documents")
        .filter($"source".isNotNull).groupBy($"source").count()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = Lineage.cut(base)
      assert(df.count() > 0)
      // the pre-cut persist exists (so the checkpoint-write job read
      // the cache instead of recomputing the stage lineage)...
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(added.nonEmpty, "reliable cut did not cache the pre-cut frame")
      // ...and release drops every block the cut pinned
      Lineage.release(df)
      val after = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(after.isEmpty,
        s"release left reliable-cut blocks resident: $after")
    } finally spark.conf.unset(Lineage.ConfKey)
  }

  test("d07 still converges under reliable checkpointing") {
    val ckpt = Files.createTempDirectory("graft_ckpt_d07").toString
    spark.conf.set(Lineage.ConfKey, ckpt)
    try {
      val out = operators.Dedup.queries("d07_dedup_clusters")(spark, dir)
      assert(out.count() > 0)
    } finally spark.conf.unset(Lineage.ConfKey)
  }
}
