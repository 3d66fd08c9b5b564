package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.types.{ArrayType, BinaryType, StringType, StructType}

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
