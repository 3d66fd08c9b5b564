package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs (one JVM-wide session —
  * getOrCreate dedups across suites in the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)

  /** Runs `body` with session conf `key` set to `value` (unset when
    * None), then restores the previous setting.
    */
  def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` and returns it with the number of Spark jobs it started. */
  def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` and returns it with the WARN-or-worse messages any
    * logger wrote meanwhile.
    */
  def capturingWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-spec-warnings", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val r = body
      (r, scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator).asScala.toSeq)
    } finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
