package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Correctness of the connected-components operator behind d07 —
  * cluster labels must equal the component minimum under transitive
  * closure, not just direct pairs — through both of its finishes: the
  * driver union-find (default broadcast threshold), the
  * large-star/small-star loop (threshold -1), and the loop handing over
  * to the driver mid-way.
  */
class ConnectedComponentsSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](t: String)(body: => T): T =
    withConf(Threshold, Some(t))(body)

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(spark, edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Sequential union-find oracle: node → component minimum. */
  private def bruteForce(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // union by min keeps every root its component's MINIMUM
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** A random graph with self-loops, duplicate and reversed edges. */
  private def randomEdges(rnd: scala.util.Random): Seq[(Long, Long)] = {
    val nNodes = 5 + rnd.nextInt(40)
    val edges = Seq.fill(rnd.nextInt(60))(
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
    edges ++ edges.take(3).map(_.swap) ++ edges.take(2)
  }

  test("path graph collapses to one cluster labeled by its minimum") {
    // 1-2, 2-3, 3-4: (1,4) are never a direct pair but share a component
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate labels; duplicates and reversed edges collapse") {
    val labels = cc(Seq((10L, 7L), (7L, 10L), (10L, 7L), (20L, 21L), (22L, 21L)))
    assert(labels === Map(7L -> 7L, 10L -> 7L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("long chain with shuffled ids converges to the global minimum") {
    // a 300-node path whose ids are NOT in path order — the worst case
    // for naive min propagation (O(diameter) rounds); the star
    // algorithm must still resolve every node to the component min
    val perm = new scala.util.Random(7).shuffle((0 until 300).map(_.toLong + 1000L))
    val edges = perm.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    val labels = cc(edges)
    val minId = perm.min
    assert(labels.size === 300)
    assert(labels.values.forall(_ == minId))
  }

  test("self-loops and an empty edge list are handled") {
    assert(cc(Seq((5L, 5L))) === Map(5L -> 5L))
    assert(cc(Seq.empty) === Map.empty)
  }

  /** A 40-edge budget: a dense graph's first checksum exceeds it, the
    * spanning stars a few rounds leave fit it (the mid-loop hand-over).
    */
  private val MidLoopBudget = (40 * 16).toString

  /** The three finishes: the driver union-find at round 0 (default
    * threshold), the distributed loop to its fixpoint (-1), and the
    * mid-loop hand-over.
    */
  private val finishes = Seq("round 0" -> None, "loop" -> Some("-1"),
    "mid-loop" -> Some(MidLoopBudget))

  Seq("local", "reliable checkpoint").foreach { mode =>
    test(s"random graphs, $mode cuts: every finish equals brute-force union-find") {
      import spark.implicits._
      val dir = if (mode == "local") None
        else Some(Files.createTempDirectory("cc_ckpt").toString)
      withConf(Lineage.ConfKey, dir) {
        val rnd = new scala.util.Random(42)
        val graphs = Seq.empty[(Long, Long)] +: Seq.fill(8)(randomEdges(rnd))
        graphs.zipWithIndex.foreach { case (edges, trial) =>
          val expected = bruteForce(edges)
          finishes.foreach { case (finish, t) =>
            withConf(Threshold, t) {
              assert(cc(edges) == expected, s"$finish, trial $trial: $edges")
              // Int ids come back as Int ids, labelled the same
              val ints = Dedup.connectedComponents(spark,
                  edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v"))
                .collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
              assert(ints == expected, s"$finish, Int ids, trial $trial: $edges")
            }
          }
        }
      }
    }
  }

  test("driver finish keeps the loop's schema; round 0 is a local frame") {
    import spark.implicits._
    val edges = Seq((3L, 1L), (1L, 2L), (4L, 4L))
    Seq(edges.toDF("u", "v"),
        edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("u", "v")).foreach { df =>
      val driver = Dedup.connectedComponents(spark, df)
      val loop = withThreshold("-1")(Dedup.connectedComponents(spark, df))
      assert(driver.schema == loop.schema)
      assert(driver.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      assert(driver.collect().toSet == loop.collect().toSet)
    }
  }

  test("mid-loop finish: a later checksum fits, the roster joins back") {
    import spark.implicits._
    // three 10-node components, well over 40 distinct edges: the first
    // checksum exceeds the 40-edge budget; star contraction brings each
    // component down to its 9-edge spanning star, so a later round fits
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(260)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a / 10 == b / 10 } // three components
    def run() = Dedup.connectedComponents(spark, edges.toDF("u", "v"))
    val (labels, midJobs) = withThreshold(MidLoopBudget) {
      countingJobs {
        val df = run()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("LocalTableScan"), s"no driver labels:\n$plan")
        assert(plan.contains("Scan ExistingRDD"), s"no roster:\n$plan")
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    }
    assert(labels == bruteForce(edges))
    // the hand-over happens at the first checksum that fits: the star
    // rounds here use no join, so the threshold changes no other plan,
    // and the loop's second (fixpoint-confirming) round costs more jobs
    // than the one collect that replaces it
    val (_, loopJobs) = withThreshold("-1")(countingJobs(run().collect()))
    assert(midJobs < loopJobs, s"mid-loop $midJobs jobs, loop $loopJobs")
  }

  test("adversarial 1e5-edge chain + max-hub star converge correctly") {
    import spark.implicits._
    // chain 0-1-...-50000: diameter 50k forces the full O(log n) round
    // count; naive propagation would need 50k rounds and trip the cap.
    val n = 50000L
    val chain = (0L until n).map(i => (i, i + 1))
    // star whose HUB is the component MAX: every canonical edge is
    // (spoke, hub), so small-star's per-v neighborhood for the hub is
    // the whole component — the exact giant-partition regime the
    // two-phase minimum exists for (a window formulation would buffer
    // all 50k rows in one task).
    val hub = 2000000L
    val star = (0L until 49999L).map(i => (1000000L + i, hub))
    // twoPhaseMinEdges = 0 forces the giant-component two-phase-minimum
    // path the whole way down — the code 100 TB inputs run — and a
    // threshold of -1 keeps the star rounds from handing the 1e5 edges
    // to the driver
    val labels = withThreshold("-1") {
      Dedup.connectedComponents(
        spark, (chain ++ star).toDF("u", "v"), twoPhaseMinEdges = 0L)
        .groupBy($"cluster_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // two components: the chain labeled 0 (50001 nodes), the star
    // labeled by its minimum spoke (49999 spokes + hub)
    assert(labels == Set((0L, n + 1), (1000000L, 50000L)))
  }

  test("two-phase and window star paths agree on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)(
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)).toDF("u", "v")
    // both through the star rounds: no driver finish
    withThreshold("-1") {
      val win = Dedup.connectedComponents(spark, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val two = Dedup.connectedComponents(spark, edges, twoPhaseMinEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(win == two)
    }
  }

  test("d07 labels are transitively consistent with d04 pairs") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val labels = Dedup.queries("d07_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.queries("d04_ngram_jaccard")(spark, dir)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // every paired doc is labeled, paired docs share a label, and the
    // label is a member's id that can reach itself
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (doc, lab) =>
      assert(lab <= doc)
      assert(labels(lab) === lab, s"cluster label $lab is not its own root")
    }
  }
}
