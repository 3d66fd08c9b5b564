package graft.sinks

import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStatsTracker, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Relational-database sink — the reference's buffered `insert_many`
  * bulk loading, re-expressed as Spark's parallel JDBC writer.
  *
  * Each partition opens one connection and writes `batchSize`-row
  * batches; `numPartitions` caps writer parallelism so a 1000-executor
  * job cannot open 1000 simultaneous connections against one database.
  * Exercised end-to-end against embedded Derby (the one JDBC engine on
  * the runtime classpath) in DbSinkSpec/Vcf2DbSpec; the same
  * `df.write.jdbc` call retargets sqlite/MySQL/PostgreSQL given their
  * driver jar, exactly like the reference's peewee backends.
  */
object DbSink {

  final case class JdbcConf(
      url: String,
      table: String,
      user: String = "",
      password: String = "",
      batchSize: Int = 10000,
      numPartitions: Int = 8,
      isolationLevel: String = "READ_COMMITTED",
      truncate: Boolean = false)

  def writeJdbc(df: DataFrame, conf: JdbcConf, mode: SaveMode = SaveMode.Append): Unit = {
    val props = new java.util.Properties()
    if (conf.user.nonEmpty) props.setProperty("user", conf.user)
    if (conf.password.nonEmpty) props.setProperty("password", conf.password)
    props.setProperty("batchsize", conf.batchSize.toString)
    props.setProperty("isolationLevel", conf.isolationLevel)
    props.setProperty("truncate", conf.truncate.toString)
    // the JDBC writer's own numPartitions option caps connection
    // parallelism (it coalesces only when the frame exceeds the cap) —
    // the engine owns that logic; a hand-rolled coalesce would
    // duplicate it
    props.setProperty("numPartitions", conf.numPartitions.toString)
    df.write.mode(mode).jdbc(conf.url, conf.table, props)
  }

  /** SQL databases have no ARRAY column type; the reference degrades
    * multi-valued INFO fields to TEXT (vcf2db stores them as
    * comma-joined strings). Same here: any array column still present
    * after blob packing is comma-joined. Genotype blobs are already
    * binary by then, so they pass through as BLOBs.
    */
  def jdbcSafe(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: ArrayType =>
          concat_ws(",", col(f.name).cast(ArrayType(StringType))).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols: _*)
  }

  /** Container-friendly fallback: same "bounded writer parallelism"
    * contract, parquet target, written with [[parquetOptions]].
    */
  def writeParquet(df: DataFrame, path: String, numPartitions: Int = 8): Unit =
    df.coalesce(numPartitions).write.mode(SaveMode.Overwrite)
      .options(parquetOptions(df.schema)).parquet(path)

  /** A table of [[writeParquetDb]] whose rows the driver holds. */
  final case class LocalTable(name: String, schema: StructType, rows: Seq[Row])

  /** A database of parquet tables under `dir`, written by one Spark job
    * under one commit:
    *  - table `table` gets every row of `df`, less its `nested` column;
    *  - with `nested` = (column, name), table `name` gets the elements
    *    of that array-of-struct column, exploded;
    *  - each `local` table is written by the job's first task.
    * So one pass over `df`'s plan feeds every table, at the plan's own
    * width: there is no coalesce, and the file count follows the input
    * splits. Each table is a subdirectory of `dir`, written with its own
    * [[parquetOptions]]; the job's one `FileCommitProtocol` commits them
    * together. The tables' old directories are deleted first, and
    * nothing else in `dir` is touched. When a task fails, the job is
    * aborted: no table is left and neither is `_temporary`. Every table
    * has at least one file, written by the first task, so an empty table
    * still carries its schema.
    */
  def writeParquetDb(df: DataFrame, dir: String, table: String,
      nested: Option[(String, String)], local: Seq[LocalTable]): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    val nestedIx = nested.fold(-1)(n => schema.fieldIndex(n._1))
    val ordinals = schema.indices.filter(_ != nestedIx)
    // (name, schema, driver-held rows) of every table
    val tables = (table, StructType(ordinals.map(schema(_))), Seq.empty[Row]) +:
      (nested.map { case (c, name) => (name,
        schema(c).dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType],
        Seq.empty[Row])
      }.toSeq ++ local.map(t => (t.name, t.schema, t.rows)))
    val specs = tables.map { case (name, s, rows) =>
      val options = parquetOptions(s)
      val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, new Path(dir))
      val factory = new ParquetFileFormat().prepareWrite(spark, job, options, s)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(s)
      (job, TableSpec(name, s, factory, new SerializableConfiguration(job.getConfiguration),
        rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])))
    }
    val job = specs.head._1
    val plan = spark.sparkContext.broadcast(DbPlan(specs.map(_._2), ordinals, nestedIx))
    val fs = new Path(dir).getFileSystem(job.getConfiguration)
    tables.foreach(t => fs.delete(new Path(dir, t._1), true))
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = UUID.randomUUID().toString, outputPath = dir)
    committer.setupJob(job)
    val trackerId = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    try {
      val qe = df.queryExecution
      val messages = SQLExecution.withNewExecutionId(qe, Some("save")) {
        val rdd = qe.toRdd
        // an input of no splits still writes every table's schema
        val rows = if (rdd.partitions.nonEmpty) rdd
          else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
        val out = new Array[TaskCommitMessage](rows.partitions.length)
        spark.sparkContext.runJob(rows,
          (ctx: TaskContext, it: Iterator[InternalRow]) =>
            writeTask(ctx, it, trackerId, committer, plan),
          rows.partitions.indices,
          (i: Int, m: TaskCommitMessage) => { committer.onTaskCommit(m); out(i) = m })
        out.toSeq
      }
      committer.commitJob(job, messages)
    } catch {
      case e: Throwable =>
        committer.abortJob(job)
        throw e
    } finally plan.destroy()
  }

  /** One table of a [[writeParquetDb]] job: its writer, its conf and,
    * for a local table, its rows.
    */
  private final case class TableSpec(name: String, schema: StructType,
      factory: OutputWriterFactory, conf: SerializableConfiguration,
      localRows: Seq[InternalRow])

  /** What every task of a [[writeParquetDb]] job reads, broadcast once:
    * the tables (the frame's own first, then the nested one when
    * `nestedIx` >= 0, then the local ones) and the frame columns of the
    * first table.
    */
  private final case class DbPlan(tables: Seq[TableSpec], ordinals: Seq[Int],
      nestedIx: Int)

  /** Nested rows are buffered and written this many at a time: writing
    * them one by one between the frame's rows keeps switching parquet's
    * column writers and costs CPU.
    */
  private val nestedBatch = 4096

  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow], trackerId: String,
      committer: FileCommitProtocol, broadcastPlan: Broadcast[DbPlan]): TaskCommitMessage = {
    val plan = broadcastPlan.value
    val jobId = new JobID(trackerId, ctx.stageId())
    val attemptId = new TaskAttemptID(
      new TaskID(jobId, TaskType.MAP, ctx.partitionId()), ctx.attemptNumber())
    // each table's conf, copied: the broadcast value is shared by the
    // tasks of an executor
    def taskContext(t: TableSpec) = {
      val conf = new Configuration(t.conf.value)
      conf.set("mapreduce.job.id", jobId.toString)
      conf.set("mapreduce.task.id", attemptId.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attemptId.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      new TaskAttemptContextImpl(conf, attemptId)
    }
    val commitContext = taskContext(plan.tables.head)
    committer.setupTask(commitContext)
    val stats = new BasicWriteTaskStatsTracker(commitContext.getConfiguration, None)
    val writers = new Array[OutputWriter](plan.tables.length)
    def writer(i: Int): OutputWriter = {
      if (writers(i) == null) {
        val t = plan.tables(i)
        val tc = taskContext(t)
        val path = committer.newTaskTempFile(commitContext, Some(t.name),
          FileNameSpec("", "-c000" + t.factory.getFileExtension(tc)))
        writers(i) = t.factory.newInstance(path, t.schema, tc)
        stats.newFile(path)
      }
      writers(i)
    }
    def write(i: Int, row: InternalRow): Unit = {
      val w = writer(i)
      w.write(row)
      stats.newRow(w.path(), row)
    }
    try {
      val first = ProjectingInternalRow(plan.tables.head.schema, plan.ordinals)
      val nestedFields = if (plan.nestedIx < 0) 0 else plan.tables(1).schema.length
      val buffered = new ArrayBuffer[InternalRow](nestedBatch)
      def flush(): Unit = { buffered.foreach(write(1, _)); buffered.clear() }
      rows.foreach { row =>
        first.project(row)
        write(0, first)
        if (plan.nestedIx >= 0 && !row.isNullAt(plan.nestedIx)) {
          val nested = row.getArray(plan.nestedIx)
          var i = 0
          while (i < nested.numElements()) {
            // the row's buffer is reused for the next row
            buffered += nested.getStruct(i, nestedFields).copy()
            i += 1
          }
          if (buffered.length >= nestedBatch) flush()
        }
      }
      flush()
      if (ctx.partitionId() == 0) plan.tables.indices.foreach { i =>
        writer(i)
        plan.tables(i).localRows.foreach(write(i, _))
      }
      writers.indices.foreach { i =>
        if (writers(i) != null) {
          writers(i).close()
          stats.closeFile(writers(i).path())
          writers(i) = null
        }
      }
      val message = committer.commitTask(commitContext)
      stats.getFinalStats(0L)
      message
    } catch {
      case e: Throwable =>
        writers.filter(_ != null).foreach(w => scala.util.Try(w.close()))
        committer.abortTask(commitContext)
        throw e
    }
  }

  /** Parquet writer options for a table of `schema`: columns whose
    * values are (nearly) all distinct are written plain, with
    * dictionary encoding off (parquet's per-column
    * `parquet.enable.dictionary#<column>`). A dictionary never pays on
    * them: parquet builds one per column chunk, finds it no smaller
    * than the values and falls back to plain, after hashing and
    * comparing every value on the way. Those columns are
    *  - every `BinaryType` column: the packed genotype blobs;
    *  - `vid` and `pos` of the variants table (the table with a `vid`
    *    column), one row per variant, where both are unique per row.
    *    In the impacts table `pos` repeats once per transcript and
    *    keeps its dictionary.
    * String columns (chrom, ref, alt, gene, the impacts' `feature`
    * transcript ids, …) keep their dictionaries. Every parquet write of
    * a database table takes its options from here.
    */
  def parquetOptions(schema: StructType): Map[String, String] = {
    val perVariant = if (schema.fieldNames.contains("vid")) Set("vid", "pos") else Set.empty[String]
    schema.fields.collect {
      case f if f.dataType == BinaryType || perVariant(f.name) =>
        s"parquet.enable.dictionary#${f.name}" -> "false"
    }.toMap
  }
}
