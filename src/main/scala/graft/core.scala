package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the settings every graft job wants.
  *
  * Scale notes: AQE handles runtime skew-join splitting and shuffle
  * coalescing; shuffle partitions default to the local core count here
  * but are expected to be overridden (e.g. 2–4× total cores) on a real
  * cluster.
  */
object GraftSession {
  def build(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_CPUS as the core count a tool runs with: a positive
    * integer, or `*` (as in `local[*]`) for every available processor.
    * Tools echo it into JSON output as a number and use it for both
    * `local[n]` and the shuffle partitions, so only a number may get
    * through.
    */
  def cpuCount(raw: String): Int = raw.trim match {
    case "*" => Runtime.getRuntime.availableProcessors()
    case n =>
      val c = n.toInt
      require(c > 0, s"SPARK_GRAFT_CPUS must be a positive integer or '*', got '$raw'")
      c
  }

  /** [[cpuCount]] of SPARK_GRAFT_CPUS in `env`, `default` when unset. */
  def envCpus(default: Int, env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(cpuCount).getOrElse(default)
}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads a testdata table. `events.ts` is TIMESTAMP(NANOS) parquet,
    * which Spark only reads as long (`nanosAsLong`); normalize it back
    * to a microsecond timestamp (integer `div`, not double division —
    * int64 nanos exceed 2^53).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else df
  }
}
