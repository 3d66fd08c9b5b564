package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Spark-only scale probe (round-13 verdict ask #3): runs named
  * registry keys against a (possibly oracle-less) corpus dir and
  * prints one JSON line per key with wall seconds, result rows, and
  * the TOTAL + PEAK-stage shuffle-write bytes — the numbers PLANS.md's
  * growth curve tracks across sf1 → sf10 → sfbig. The timed action is
  * the noop sink (guide §1.4): computes every column of every row.
  * (Round-15 measurement-bug fix — the previous count() action let
  * Catalyst eliminate the report operators' final roster ⟕ unique-agg
  * join, so d14/d20/d23-class keys timed only their roster scan.)
  * rows comes from a separate UNTIMED count afterwards.
  *
  * Usage: runMain graft.Probe <sfDir> <key1,key2,...>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, keyCsv) = args
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    val shuffle = new SparkListener {
      @volatile var total = 0L
      @volatile var peakStage = 0L
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        total += w
        if (w > peakStage) peakStage = w
      }
      def reset(): Unit = { total = 0L; peakStage = 0L }
    }
    spark.sparkContext.addSparkListener(shuffle)
    keyCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { key =>
      shuffle.reset()
      val t0 = System.nanoTime()
      // noop sink, not count(): a count over the report operators'
      // final LEFT join (d14/d20/d23 — roster ⟕ unique-keyed agg) lets
      // Catalyst ELIMINATE the join and the probe times only the
      // roster scan (guide §1.4; round-15 measurement-bug fix — the
      // count-based sf1 numbers recorded in round 14 under-measured
      // those keys). rows comes from an untimed count afterwards.
      val ok =
        try {
          SparkEntry.queries(key)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $key failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously: wait until the finished
      // jobs' stage events have reached the listener, and snapshot the
      // shuffle totals BEFORE the untimed row count so its stages don't
      // inflate the timed run's bytes
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      val (shTotal, shPeak) = (shuffle.total, shuffle.peakStage)
      val rows =
        if (ok) try SparkEntry.queries(key)(spark, sfDir).count()
          catch { case _: Throwable => -1L }
        else -1L
      println(f"""{"key":"$key","sec":$sec%.1f,"rows":$rows,""" +
        s""""shuffle_write_bytes":$shTotal,""" +
        s""""peak_stage_shuffle_bytes":$shPeak}""")
      System.out.flush()
    }
    spark.stop()
  }
}
