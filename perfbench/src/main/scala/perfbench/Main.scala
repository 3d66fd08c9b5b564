package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.GraftSession

/** Benchmark entry point: one workload, one fresh JVM, one Spark
  * session built the way the product jobs build theirs.
  *
  *   perfbench.Main --workload load|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR --record FILE
  *
  * Run order: set-up (session + generated inputs) → a fixed number of
  * warm-up passes → the timed passes, closed loop (one call at a time;
  * a stolen pass is replaced, see [[maxStealShare]]) → output checks on what the last pass wrote → with `--trace 1`, one
  * traced pass and the layer probes. The last stdout line is the
  * result JSON; `--record` gets the full run record.
  */
object Main {
  /** A timed pass during which the hypervisor gave more than this share
    * of the machine's CPU time to other tenants measured their load as
    * much as the program's: it stays in the record but not in the
    * medians. Uncontended passes read under 0.01.
    */
  val maxStealShare = 0.03
  /** Seconds after JVM start past which no replacement pass starts, so
    * a run in a contended window still ends within its time limit.
    */
  val replacementDeadlineS = 90.0

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * layer the workload does not call reads 0.
    */
  val perLayer: Seq[String] = Seq(
    "sources.input_bytes_per_vcf_byte", "sources.variants_s", "sources.variants_cpu_s",
    "sources.impacts_s", "sources.impacts_cpu_s",
    "vcf2db.worst_impact_s", "vcf2db.worst_impact_shuffle_mb",
    "functions.pack_s", "functions.pack_cpu_s",
    "sinks.write_s", "sinks.bytes_written",
    "vcf2db.run_jobs", "vcf2db.run_shuffle_mb", "vcf2db.run_gc_s") ++
    QueryCalls.calls.map(_._1).flatMap(n =>
      Seq(s"query.${n}_s", s"query.${n}_build_s", s"query.${n}_jobs", s"query.${n}_p90_s")) ++
    Seq("query.p90_samples", "query.jobs_per_pass", "query.build_share", "query.input_mb",
      "functions.unpack_s", "functions.unpack_cpu_s") ++
    Seq("corpus", "index", "delta").flatMap(n =>
      Seq(s"curate.${n}_s", s"curate.${n}_cpu_s", s"curate.${n}_jobs")) ++
    Seq("functions.shingles_s", "functions.minhash_sig_s",
      "lineage.resident_rdds_after", "lineage.rdds_not_returned",
      "lineage.peak_cached_mb", "lineage.cleaner_log_lines",
      "spark.gc_s", "spark.spill_mb", "jvm.process_cpu_s", "trace.overhead_ratio")

  private val units: Map[String, String] = perLayer.map { n =>
    n -> (if (n.endsWith("_mb")) "MB"
      else if (n.endsWith("_s")) "s"
      else if (n == "sinks.bytes_written") "bytes"
      else if (n.endsWith("_ratio") || n.endsWith("_share") || n.endsWith("_per_vcf_byte")) "ratio"
      else "count")
  }.toMap

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Cumulative (steal, total) CPU ticks of the machine from /proc/stat,
    * (0, 0) where it does not exist. Steal is time the hypervisor gave
    * this machine's runnable CPUs to someone else: a pass with a high
    * share ran in a contaminated window.
    */
  private def cpuTicks(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.canRead) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (xs.lift(7).getOrElse(0L), xs.sum)
      } finally src.close()
    }
  }

  private def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val work = new File(need("work"))
    val recordFile = new File(need("record"))
    require(seconds >= 1, "--seconds must be >= 1")
    val wl = Workload(workloadName)
    val timedPasses = math.max(3, math.round(seconds / wl.nominalPassS).toInt)
    val loadStart = loadAvg()

    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    val spark = GraftSession.build(master, cores)
    val sc = spark.sparkContext
    val recorder = new Recorder(sc)
    val cleanerLog = CleanerLog.install()
    work.mkdirs()
    val h = new Harness(spark, work, seed, recorder)
    wl.setup(h)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    /** Same starting state for every pass: no outputs on disk, no
      * cached blocks left by the previous pass (each pass records how
      * many it left), garbage collected.
      */
    def resetState(): Unit = {
      h.deleteOutputs()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    var cleanerLines = 0L
    def runPass(): PassRecord = {
      val before = recorder.snapshot()
      val cl0 = cleanerLog.lines.get()
      val pc0 = processCpuS()
      val ticks0 = cpuTicks()
      val f0 = h.failed
      h.beginPass()
      val t0 = System.nanoTime()
      wl.pass(h)
      val wall = (System.nanoTime() - t0) / 1e9
      val pc = processCpuS() - pc0
      val steal = stealShare(ticks0, cpuTicks())
      val d = Recorder.delta(recorder.snapshot(), before)
      cleanerLines = cleanerLog.lines.get() - cl0
      System.err.println(f"[perfbench] pass ending at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: " +
        f"wall $wall%.3f s, executor cpu ${d("executor_cpu_s")}%.2f s, " +
        f"process cpu $pc%.2f s, jobs ${d("jobs")}%.0f, steal $steal%.3f")
      PassRecord(wall, d("executor_cpu_s"), pc, h.callTimes.toMap, d,
        sc.getPersistentRDDs.size, h.failed - f0, steal)
    }

    val warm = (1 to wl.warmups).map { _ => resetState(); runPass() }
    var cleanerTotal = 0L
    val timedTicks0 = cpuTicks()
    // Each stolen pass is replaced by one more, at most `timedPasses`
    // of them, while the run is before its replacement deadline.
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    def stolen = passes.count(_.stealShare > maxStealShare)
    def elapsedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    while (passes.size < timedPasses ||
        (passes.size - stolen < timedPasses && passes.size < 2 * timedPasses &&
          elapsedS < replacementDeadlineS)) {
      resetState()
      passes += runPass()
      cleanerTotal += cleanerLines
    }
    val timed = passes.toSeq
    val timedSteal = stealShare(timedTicks0, cpuTicks())
    // the last timed pass's outputs are still on disk for the checks
    try { wl.verify(h); wl.verifyRun(h) }
    catch { case e: Exception => h.check("checks ran", ok = false, e.toString) }
    val outPerIn = wl.outBytesPerInByte(h)
    val cleanerPerPass = cleanerTotal.toDouble / timed.size
    // a pass with a failed call has no time; a stolen one counts only
    // when every pass was stolen
    val finished = timed.filter(_.failedCalls == 0)
    require(finished.nonEmpty, s"every timed pass failed: ${h.failures.mkString("; ")}")
    val unstolen = finished.filter(_.stealShare <= maxStealShare)
    val ok = if (unstolen.nonEmpty) unstolen else finished

    val layerMetrics: Map[String, Double] =
      if (!traced) Map.empty
      else {
        resetState()
        val tracer = new Tracer(s"$workloadName-$seed", () => recorder.snapshot())
        h.tracer = Some(tracer)
        @volatile var peakCached = 0L
        @volatile var sampling = true
        val sampler = new Thread(() => while (sampling) {
          val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
          if (used > peakCached) peakCached = used
          Thread.sleep(20)
        })
        sampler.setDaemon(true)
        sampler.start()
        val tp = tracer.span("pass")(runPass())
        sampling = false
        sampler.join()
        val l = wl.layers(h, timed, tp, tracer.spans)
        tracer.write(new File(recordFile.getPath.stripSuffix(".json") + ".spans.jsonl").toPath)
        val unknown = l.keySet -- perLayer
        require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
        val postWarm = warm.last.residentRdds
        l ++ Map(
          "lineage.resident_rdds_after" -> timed.last.residentRdds.toDouble,
          "lineage.rdds_not_returned" -> timed.count(_.residentRdds != postWarm).toDouble,
          "lineage.peak_cached_mb" -> peakCached / 1e6,
          "lineage.cleaner_log_lines" -> cleanerPerPass,
          "spark.gc_s" -> tp.counters("gc_s"),
          "spark.spill_mb" -> tp.counters("spill_bytes") / 1e6,
          "jvm.process_cpu_s" -> tp.processCpuS,
          "trace.overhead_ratio" -> tp.wallS / Stats.median(ok.map(_.wallS)))
      }
    val loadEnd = loadAvg()
    spark.stop()

    val checks = h.checkResults
    val correct = checks.forall(_._2) && h.failed == 0
    checks.filterNot(_._2).foreach { case (n, _, d) =>
      System.err.println(s"[perfbench] check failed: $n: $d") }
    h.failures.foreach(f => System.err.println(s"[perfbench] call failed: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (traced) perLayer.map(n => (n, layerMetrics.getOrElse(n, 0.0), units(n)))
      else Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", Stats.median(ok.map(_.wallS)), "s"),
        ("cpu_s", Stats.median(ok.map(_.cpuS)), "s"),
        ("out_bytes_per_in_byte", outPerIn, "ratio"))

    val runtime = ManagementFactory.getRuntimeMXBean
    def passJson(p: PassRecord) = Json.obj(Seq(
      "wall_s" -> Json.num(p.wallS), "executor_cpu_s" -> Json.num(p.cpuS),
      "process_cpu_s" -> Json.num(p.processCpuS), "steal_share" -> Json.num(p.stealShare),
      "jobs" -> Json.num(p.counters("jobs")), "resident_rdds" -> p.residentRdds.toString,
      "calls" -> Json.obj(p.calls.toSeq.map { case (k, v) => k -> Json.num(v) })))
    val record = Json.obj(Seq(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "trace" -> traced.toString,
      "environment" -> Json.obj(Seq(
        "nproc" -> cores.toString, "master" -> Json.str(master),
        "heap_flags" -> Json.arr(runtime.getInputArguments.toArray.toSeq.map(_.toString)
          .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).map(Json.str)),
        "spark_version" -> Json.str(spark.version),
        "jdk" -> Json.str(System.getProperty("java.vm.version")),
        "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadEnd),
        "steal_share_timed" -> Json.num(timedSteal),
        "timed_passes_stolen" -> stolen.toString)),
      "inputs" -> Json.obj(wl.inputs.map { case (k, v) => k -> v.toString }),
      "warmup_passes" -> Json.arr(warm.map(passJson)),
      "timed_passes" -> Json.arr(timed.map(passJson)),
      "timed_wall_quartiles_s" ->
        (if (ok.size < 2) "null"
         else { val (q1, q3) = Stats.quartiles(ok.map(_.wallS)); Json.arr(Seq(q1, q3).map(Json.num)) }),
      "checks" -> Json.arr(checks.map { case (n, pass, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> pass.toString, "detail" -> Json.str(d))) }),
      "failures" -> Json.arr(h.failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics.map { case (n, v, _) => n -> Json.num(v) })))
    recordFile.getParentFile.mkdirs()
    java.nio.file.Files.write(recordFile.toPath, (record + "\n").getBytes("UTF-8"))

    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(result)
    System.out.flush()
  }
}
