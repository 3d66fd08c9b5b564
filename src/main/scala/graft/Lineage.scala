package graft

import org.apache.spark.GraftStorage
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for the iterative operators (d07 connected
  * components, e59 pointer doubling, s08's greedy chain) and the
  * curation jobs' stage boundaries. Each driver-synced round / stage
  * references its input 2-5×, so without a cut the logical plan grows
  * multiplicatively and the driver stalls re-analyzing it.
  *
  * Two modes, chosen by configuration:
  *  - `spark.graft.checkpointDir` (or SPARK_GRAFT_CHECKPOINT_DIR in
  *    the environment) set → RELIABLE `checkpoint()` into that
  *    directory: survives executor loss, the right call for real
  *    multi-hour 100 TB jobs where losing one executor mid-iteration
  *    would otherwise recompute the whole chain (there is no lineage
  *    left to recompute FROM — a lost localCheckpoint block is fatal).
  *    The pre-cut frame is additionally persisted until [[release]]:
  *    a bare `Dataset.checkpoint(eager = false)` does NOT cache, so
  *    the separate checkpoint-write job would recompute the stage's
  *    full lineage a second time.
  *  - unset → executor-local `localCheckpoint`: no distributed-FS
  *    round trip, the fast default for tests and short jobs. Here the
  *    cached blocks ARE the data.
  *
  * Both modes replace the plan subtree with an RDD scan, so the
  * O(rounds)-deep plan growth is truncated identically; LineageSpec
  * pins that property for each mode.
  *
  * MEMORY CONTRACT (guide §5): a cut frame's blocks stay resident
  * until explicitly released — they are strongly referenced by the
  * frame itself, so the ContextCleaner only reclaims them when the
  * frame is garbage-collected, which for method-local stage frames is
  * JIT-liveness/timing dependent and can mean EVERY stage's blocks
  * resident at once. Callers that chain stages must call [[release]]
  * on stage k's cut frame once stage k+1's cut has materialized
  * (nothing downstream roots at k anymore — k+1's plan reads k+1's own
  * RDD). At 100 TB that is the difference between ~2 near-corpus-size
  * intermediates on the executors and all of them.
  */
object Lineage {
  final val ConfKey = "spark.graft.checkpointDir"

  /** Reliable-mode bookkeeping: cut-frame RDD id → the pre-cut
    * persisted frame whose cache backs the checkpoint write, dropped
    * by [[release]]. Empty in local mode.
    */
  private val preCut =
    new java.util.concurrent.ConcurrentHashMap[Int, Dataset[_]]()

  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val dir = s.conf.getOption(ConfKey)
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
      .filter(_.nonEmpty)
    dir match {
      case Some(d) =>
        val sc = s.sparkContext
        // setCheckpointDir appends a random UUID subdir under d, so
        // "already configured" = the current dir lives under d. A bare
        // isEmpty check would silently ignore a LATER change to the
        // conf key in the same context and keep checkpointing into the
        // first-installed directory.
        def norm(p: String) =
          p.stripPrefix("file:").replaceAll("/+$", "")
        val want = norm(new java.io.File(d).getAbsolutePath)
        // Match on a path boundary: a sibling dir sharing a string
        // prefix (want=/x/ckpt vs current=/x/ckpt2/<uuid>) is NOT the
        // same root and must trigger a re-install.
        val sameRoot = sc.getCheckpointDir.exists { c =>
          val n = norm(c)
          n == want || n.startsWith(want + "/")
        }
        if (!sameRoot) sc.setCheckpointDir(d)
        // Persist BEFORE the checkpoint: the checkpoint write runs as
        // its own job after the first action, and without a cache that
        // job recomputes the full lineage a second time — 2× compute
        // per stage. With the cache, the first action populates it and
        // the write job reads it. release() (or GC) drops it.
        val persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
        // lazy like the localCheckpoint path: materializes on first
        // use, so an iteration that short-circuits never pays the write
        val cutF = persisted.checkpoint(eager = false)
        backingRdd(cutF).foreach(r => preCut.put(r.id, persisted))
        cutF
      case None =>
        df.localCheckpoint(eager = false)
    }
  }

  /** The materialized RDD a cut frame scans — defined only when `df`
    * IS a cut frame (top-level LogicalRDD). Deliberately not a deep
    * collect: a derived frame (e.g. `cutFrame.filter(...)`) must NOT
    * release its parent's blocks.
    */
  private[graft] def backingRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }

  /** Drop a cut frame's blocks (and, in reliable mode, the pre-cut
    * cache backing its checkpoint), without `RDD.unpersist`'s WARN that
    * a local cut cannot be recomputed. Call ONLY when nothing downstream
    * roots at `df` anymore — for a local cut the blocks ARE the data,
    * so any later action on the frame would fail. No-op on frames that
    * are not cut frames, so `release(stage_k)` is safe when stage k
    * was conditionally not cut (e.g. an optional pipeline stage).
    */
  def release(df: DataFrame): Unit =
    backingRdd(df).foreach { r =>
      GraftStorage.free(df.sparkSession.sparkContext, r.id)
      Option(preCut.remove(r.id)).foreach(_.unpersist(blocking = false))
    }

  /** The rows of a cut or persisted frame, counted in the one job that
    * materializes it: the cut's backing RDD, or the persisted plan's
    * `toRdd` (an in-memory scan that fills the cache as it counts).
    * `Dataset.count()` would plan a count aggregate over the same scan
    * and run a job per stage of it. Any other frame is counted over its
    * whole plan, with no column pruning.
    */
  def count(df: DataFrame): Long =
    backingRdd(df).getOrElse(df.queryExecution.toRdd).count()
}
