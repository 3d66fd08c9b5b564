package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Per-pass bookkeeping shared by the workloads: every public call of
  * a pass goes through [[call]], which times it, counts it as
  * attempted, and counts a throw as a failure that gets no time. In the
  * traced pass each call is also a span carrying its drained listener
  * counters.
  */
final class Harness(val spark: SparkSession, val work: File, val seed: Long,
    val recorder: Recorder) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** wall seconds of each call in the current pass, by call name */
  val callTimes = mutable.LinkedHashMap.empty[String, Double]
  /** seconds each call spent building its DataFrame, by call name */
  val buildTimes = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def beginPass(): Unit = { callTimes.clear(); buildTimes.clear() }

  def call[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.fold(f)(_.span(name)(f))
      callTimes(name) = (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Times the construction of a call's DataFrame (driver-side work the
    * public function does before any action of the caller).
    */
  def build(name: String)(f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val df = tracer.fold(f)(_.span(s"$name.build")(f))
    buildTimes(name) = (System.nanoTime() - t0) / 1e9
    df
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive content hash of a result.
    * Doubles are rounded first: aggregation order is not fixed, so
    * their last bits may differ between passes.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(col(f.name), x => round(x, 6))
        case _ => col(f.name)
      }
    }
    val r = df.select(pmod(xxhash64(cols: _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def expectEq(name: String, got: Any, want: Any): Unit =
    check(name, got == want, s"got $got, want $want")

  def checkResults: Seq[(String, Boolean, String)] = checks.toSeq

  def path(rel: String): String = new File(work, rel).getAbsolutePath

  def deleteOutputs(): Unit = Harness.deleteTree(new File(work, "out"))
}

object Harness {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Bytes of the data files under `dir`: checksums (`.crc`) and
    * markers (`_SUCCESS`) are not part of the stored database.
    */
  def dataBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.map(dataBytes).sum
    else if (dir.getName.startsWith(".") || dir.getName.startsWith("_")) 0L
    else dir.length()
}

/** Counts the Spark log lines left by cached state nobody released:
  * the ContextCleaner's `locally checkpointed ... cannot be recomputed`
  * and accumulator lookups of `non-existent accumulator`s.
  */
final class CleanerLog extends AbstractAppender("perfbench-cleaner-log", null, null,
    true, Property.EMPTY_ARRAY) {
  val lines = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("") +
      Option(e.getThrown).map(t => " " + t.getMessage).getOrElse("")
    if ((m.contains("locally checkpointed") && m.contains("cannot be recomputed")) ||
        m.contains("non-existent accumulator"))
      lines.incrementAndGet()
  }
}

object CleanerLog {
  def install(): CleanerLog = {
    val app = new CleanerLog
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    app
  }
}
