package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** PED pedigree file → `samples` DataFrame — the reference's samples
  * table (family_id, sample_id, paternal_id, maternal_id, sex,
  * phenotype + any extra columns, named by an optional `#`-header line).
  */
object PedSource {

  private val baseCols = Vector(
    "family_id", "sample_id", "paternal_id", "maternal_id", "sex", "phenotype")

  def schema(extraCols: Seq[String]): StructType =
    StructType((baseCols ++ extraCols.map(VcfParser.sanitize))
      .map(StructField(_, StringType)))

  def parse(lines: Seq[String]): (StructType, Seq[Row]) = {
    // trim-filter: a whitespace-only line would otherwise become a
    // phantom sample row with family_id "" polluting pedigree joins
    val (headerLines, body) = lines.filter(_.trim.nonEmpty).partition(_.startsWith("#"))
    val extras: Seq[String] = headerLines.lastOption match {
      case Some(hl) =>
        val cols = hl.stripPrefix("#").trim.split("""\s+""").toSeq
        if (cols.length > 6) cols.drop(6) else Seq.empty
      case None => Seq.empty
    }
    val sch = schema(extras)
    val n = sch.length
    val rows = body.map { l =>
      val f = l.trim.split("""\s+""").toSeq
      Row.fromSeq(f.padTo(n, null).take(n))
    }
    (sch, rows)
  }

  /** The parsed rows as a local relation: collecting it (or a filter
    * of it) runs no Spark job, and joins against it plan as broadcasts.
    */
  def fromLines(spark: SparkSession, lines: Seq[String]): DataFrame = {
    val (sch, rows) = parse(lines)
    spark.createDataFrame(rows.asJava, sch)
  }

  /** PED files are dim-sized: read driver-side via Hadoop FileSystem
    * (cluster URIs work) with transparent gunzip — the same path
    * BedSource/VcfReader use, and for the same reason: a local-only or
    * compression-blind read silently parses garbage.
    */
  def fromPath(spark: SparkSession, path: String): DataFrame =
    fromLines(spark, lines(spark, path))

  /** The lines of a PED file, read on the driver. */
  def lines(spark: SparkSession, path: String): Vector[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(hp)
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
        VcfIo.maybeGunzip(path, in), "UTF-8"))
      Iterator.continually(reader.readLine()).takeWhile(_ != null).toVector
    } finally in.close()
  }
}
